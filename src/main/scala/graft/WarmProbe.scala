package graft

import graft.functions.ScalarOps.jsonString

/** Warm-run probe beside the cold [[Bench]] (VERDICT r6 item 4).
  *
  * The driver's Bench is cold-codegen dominated: across rounds the cold
  * common-query set has swung −17% then +13% with individual untouched
  * queries moving ±2.8× (q29: 0.43→1.22 with zero code change) — at that
  * noise level a cold delta can neither prove nor clear a regression.
  * This main therefore runs each selected query (every declared query by
  * default, see [[Harness]]) once untimed to absorb codegen/cache
  * warmup, then 3 timed runs, and prints ONE JSON line with per-run
  * times, the median and the Spark jobs each run submitted — the job
  * count is the driver-overhead signal plan dumps cannot show (a
  * metadata collect is a whole job that never appears as an operator).
  *
  * Usage: `SPARK_GRAFT_QUERIES=q230_snapshot_sql_read sbt "runMain
  * graft.WarmProbe"`; output lands in target/warm_out.json (and
  * SPARK_GRAFT_WARM_OUT if set) — never a tracked repo file (ADVICE
  * r7: the probe must not dirty the worktree; curated WARM_r{N}.json
  * snapshots are committed deliberately).
  */
object WarmProbe {
  def main(args: Array[String]): Unit = {
    val h = new Harness("warm")
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    val rows = h.names.map { n =>
      try {
        h.timed(n) // warmup: codegen compiled, session caches populated
        val (runs, jobs) = Seq.fill(3)(h.countingJobs(h.timed(n))).unzip
        n -> Right((runs, runs.sorted.apply(1), jobs))
      } catch {
        case e: Throwable =>
          h.log(s"$n failed: ${e.getMessage}")
          n -> Left(e.getMessage)
      }
    }
    val qs = rows.map {
      case (n, Right((runs, med, jobs))) =>
        s"""${jsonString(n)}:{"runs":[${runs.map(fmt).mkString(",")}],""" +
          s""""median":${fmt(med)},"jobs":[${jobs.mkString(",")}]}"""
      case (n, Left(_)) => s"""${jsonString(n)}:{"runs":[],"median":-1,"jobs":[]}"""
    }.mkString("{", ",", "}")
    val medTotal = rows.collect { case (_, Right((_, m, _))) => m }.sum
    h.emit(
      s"""{"metric":"warm_median_total","value":${fmt(medTotal)},"unit":"sec",""" +
        s""""queries":$qs,"sf":${jsonString(h.sfDir)}}""",
      Seq("target/warm_out.json") ++ sys.env.get("SPARK_GRAFT_WARM_OUT"))
    h.stop()
  }
}
