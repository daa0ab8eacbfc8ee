package graft

import graft.functions.ScalarOps.jsonString

/** Benchmark main (driver contract): runs the selected declared queries
  * (every one by default, see [[Harness]]) on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query seconds.
  *
  * Measurement notes: each query executes fully via the harness's noop
  * write. One tiny warmup query absorbs JVM/classloader startup so the
  * first measured query isn't charged for it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val h = new Harness("bench")
    val failed = scala.collection.mutable.ListBuffer.empty[String]

    /** Seconds, or -1 sentinel if the query threw (a failed query must
      * not masquerade as a fast pass in the JSON).
      */
    def exec(name: String): Double =
      try h.timed(name)
      catch {
        case e: Throwable =>
          h.log(s"$name failed: ${e.getMessage}")
          failed += name
          -1.0
      }

    // warmup: smallest query absorbs JVM/codegen startup, then one
    // footer-touch per fixture table so one-time parquet-metadata reads
    // aren't charged to whichever measured query scans the table first
    exec("q18_intersect")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      h.run(h.spark.read.parquet(s"${h.sfDir}/$n.parquet").limit(10))
    }
    failed.clear()

    val sweep = h.names.map(n => n -> exec(n))
    // q165 amortizes its artifact build like every other `ensure`
    // (signature-validated skip); report the FULL-rebuild cost as its
    // own line so neither number hides the other (VERDICT r16
    // what's-wrong 3)
    val rebuild =
      if (!h.names.contains("q165_sim_index_build")) Nil
      else {
        val key = graft.sources.SimIndex.RebuildKey
        val prev = h.spark.conf.getOption(key)
        h.spark.conf.set(key, "true")
        try Seq("q165_sim_index_build_rebuild" -> exec("q165_sim_index_build"))
        finally prev.fold(h.spark.conf.unset(key))(h.spark.conf.set(key, _))
      }
    val results = sweep ++ rebuild
    // 3-decimal seconds: millisecond resolution is all the comparison
    // needs, and the shorter line survives tail-window captures of the
    // run log intact (full precision tripled the line length)
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => jsonString(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    // the headline total covers the declared sweep only — the
    // supplementary rebuild line is reported, not double-charged
    val total = sweep.map(_._2).filter(_ >= 0).sum
    val failures = failed.map(jsonString).mkString("[", ",", "]")
    // sbt buries stdout in [info] noise (and truncates long lines in some
    // capture modes); a file keeps the JSON machine-readable. Always
    // written to bench_out.json in the working directory, plus wherever
    // SPARK_GRAFT_BENCH_OUT points.
    h.emit(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""failures":$failures,"sf":${jsonString(h.sfDir)}}""",
      Seq("bench_out.json") ++ sys.env.get("SPARK_GRAFT_BENCH_OUT"))
    h.stop()
  }
}
