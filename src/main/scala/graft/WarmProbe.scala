package graft

/** Warm-run probe sidecar to the cold bench (VERDICT r6 item 4, r7
  * item 1).
  *
  * The driver's Bench is cold-codegen dominated: across rounds the cold
  * common-query set has swung −17% then +13% with individual untouched
  * queries moving ±2.8× (q29: 0.43→1.22 with zero code change) — at that
  * noise level a cold delta can neither prove nor clear a regression.
  * This main therefore runs a probe set once untimed to absorb
  * codegen/cache warmup, then 3 timed runs each, and prints ONE JSON
  * line with per-run times and the median — the number to compare
  * across rounds.
  *
  * Probe-set selection (r7 item 1 — delta-triggered): besides the
  * top-10 queries by current cold cost, AUTO-select every query whose
  * cold time moved >25% between the two most recent driver bench files
  * (`SPARK_GRAFT_BENCH_PREV`/`SPARK_GRAFT_BENCH_CURR`, default
  * BENCH_r06/BENCH_r07). Per-query cold times are regex-extracted from
  * the bench JSON (the driver stores a possibly-truncated output tail,
  * so only queries visible in BOTH tails get a delta). Queries whose
  * larger side is under [[NoiseFloorSec]] are skipped as pure
  * scheduling noise (a 0.1 s query trivially "moves" 25%); skips are
  * listed in the output so the cap is never silent.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.WarmProbe"`; output lands in target/warm_out.json (and
  * SPARK_GRAFT_WARM_OUT if set) — never a tracked repo file (ADVICE
  * r7: the probe must not dirty the worktree; curated WARM_r{N}.json
  * snapshots are committed deliberately).
  */
object WarmProbe {

  /** Fallback probe set when no bench files are readable (the round-7
    * top-10 by sf0.1 cold cost).
    */
  val DefaultTop: Seq[String] = Seq(
    "q116_assoc_rules", "q110_interpolate", "q32_approx_distinct",
    "q105_weighted_sample", "q141_curation_pipeline", "q35_grouping_sets",
    "q01_pricing_summary", "q102_integrity_audit", "q47_ngram_jaccard",
    "q57_ann_ivf")

  /** Below this cold time (max of the two rounds), a >25% swing is
    * indistinguishable from scheduler jitter and not worth a probe.
    */
  val NoiseFloorSec = 0.2

  /** Relative cold-time move that triggers an automatic probe. */
  val DriftTrigger = 0.25

  /** Regex-extract `"qNN_name":seconds` pairs from a driver bench file
    * (tolerates the driver's truncated-tail storage — a half-visible
    * first pair simply doesn't match).
    *
    * The driver's BENCH_r{N}.json embeds the bench stdout as a JSON
    * string field ("tail"), so the pairs arrive quote-ESCAPED
    * (`\"q45\":0.450`). The file is parsed as JSON and ONLY the tail
    * field's decoded text is regex-scanned (ADVICE r9: a global
    * `\" -> "` replace mangled double-escaped content and let the
    * pair regex match inside unrelated string fields). A file with no
    * "tail" field (e.g. the raw bench_out.json line) is scanned as-is;
    * a non-JSON file yields no pairs.
    */
  def parseTimes(path: String): Map[String, Double] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      val body = Option(root.get("tail")).map(_.asText).getOrElse(txt)
      val re = """"(q\d+[A-Za-z0-9_]*)":([0-9]+(?:\.[0-9]+)?)""".r
      re.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Exception => Map.empty }

  /** (probe set, skipped-as-noise, per-query (prev, curr) cold times). */
  def selectProbes(prev: Map[String, Double], curr: Map[String, Double],
      known: Set[String]): (Seq[String], Seq[String]) = {
    val top = curr.filter(kv => known(kv._1)).toSeq.sortBy(-_._2).take(10).map(_._1)
    val both = curr.keySet.intersect(prev.keySet).filter(known)
    val moved = both.filter { n =>
      val (p, c) = (prev(n), curr(n))
      p > 0 && math.abs(c - p) / p > DriftTrigger
    }
    val (drifted, noise) = moved.partition(n => math.max(prev(n), curr(n)) >= NoiseFloorSec)
    ((top ++ drifted.toSeq.sorted).distinct, noise.toSeq.sorted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // default: the two most recent driver bench artifacts in cwd (they
    // sort lexicographically by round), overridable per env var
    val benches = Option(new java.io.File(".").listFiles())
      .map(_.map(_.getName).filter(_.matches("BENCH_r\\d+\\.json")).sorted.toSeq)
      .getOrElse(Nil)
    val prevBench = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      benches.dropRight(1).lastOption.getOrElse("BENCH_r06.json"))
    val currBench = sys.env.getOrElse("SPARK_GRAFT_BENCH_CURR",
      benches.lastOption.getOrElse("BENCH_r07.json"))
    val spark = Engine.session(s"local[$cpus]")

    val prev = parseTimes(prevBench)
    val curr = parseTimes(currBench)
    val known = SparkEntry.queries.keySet
    val (autoSel, noiseSkipped) =
      if (curr.isEmpty) (DefaultTop, Nil) else selectProbes(prev, curr, known)
    // `ALL` probes the ENTIRE declared surface (VERDICT r12 item 1:
    // a warm median for every query, not just the drift-selected set)
    val names =
      if (args.toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else autoSel
    System.err.println(s"[warm] probing ${names.size} queries " +
      s"(${noiseSkipped.size} sub-${NoiseFloorSec}s drifts skipped as noise)")

    def once(name: String): Double = {
      System.gc()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

    val rows = names.map { n =>
      try {
        once(n) // warmup: codegen compiled, session caches populated
        val runs = Seq.fill(3)(once(n))
        val median = runs.sorted.apply(1)
        n -> Right((runs, median))
      } catch {
        case e: Throwable =>
          System.err.println(s"[warm] $n failed: ${e.getMessage}")
          n -> Left(e.getMessage)
      }
    }
    val qs = rows.map {
      case (n, Right((runs, med))) =>
        val colds = (prev.get(n), curr.get(n)) match {
          case (Some(p), Some(c)) =>
            val d = if (p > 0) (c - p) / p else 0.0
            s""","cold_prev":${fmt(p)},"cold_curr":${fmt(c)},"cold_delta_pct":${fmt(d * 100)}"""
          case (_, Some(c)) => s""","cold_curr":${fmt(c)}"""
          case _ => ""
        }
        s""""$n":{"runs":[${runs.map(fmt).mkString(",")}],"median":${fmt(med)}$colds}"""
      case (n, Left(_)) => s""""$n":{"runs":[],"median":-1}"""
    }.mkString("{", ",", "}")
    val medTotal = rows.collect { case (_, Right((_, m))) => m }.sum
    val skipped = noiseSkipped.map(n => s""""$n"""").mkString("[", ",", "]")
    val line =
      s"""{"metric":"warm_median_total","value":${fmt(medTotal)},"unit":"sec","queries":$qs,"noise_skipped":$skipped,"bench_prev":"$prevBench","bench_curr":"$currBench","sf":"$sfDir"}"""
    println(line)
    val outs = Seq("target/warm_out.json") ++ sys.env.get("SPARK_GRAFT_WARM_OUT")
    outs.foreach { p =>
      try {
        val path = java.nio.file.Paths.get(p)
        Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.writeString(path, line + "\n")
      } catch { case e: Exception => System.err.println(s"[warm] write $p: $e") }
    }
    spark.stop()
  }
}
