package graft

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Measurement notes: each query executes fully via a noop-format write
  * (count() would let Catalyst eliminate sorts and projections, timing a
  * cheaper plan than the declared one). One tiny warmup query absorbs
  * JVM/classloader startup so the first measured query isn't charged
  * for it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(s"local[$cpus]")

    val failed = scala.collection.mutable.ListBuffer.empty[String]

    /** Seconds, or -1 sentinel if the query threw (a failed query must
      * not masquerade as a fast pass in the JSON).
      */
    def exec(name: String): Double = {
      System.gc() // isolate queries from each other's garbage
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
          -1.0
      }
    }

    // warmup: smallest query absorbs JVM/codegen startup, then one
    // footer-touch per fixture table so one-time parquet-metadata reads
    // aren't charged to whichever measured query scans the table first
    exec("q18_intersect")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      spark.read.parquet(s"$sfDir/$n.parquet").limit(10)
        .write.format("noop").mode("overwrite").save()
    }
    failed.clear()

    // optional subset filter for targeted perf work:
    // SPARK_GRAFT_QUERIES=q62_neardup_clusters,q55_simhash_pairs
    // (empty/blank = no filter; unknown names are reported, not ignored)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { set =>
      val unknown = set -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] unknown query names in filter: ${unknown.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sweep = names.map(n => n -> exec(n))
    // q165 amortizes its artifact build like every other `ensure`
    // (signature-validated skip); report the FULL-rebuild cost as its
    // own line so neither number hides the other (VERDICT r16
    // what's-wrong 3)
    val rebuild =
      if (!names.contains("q165_sim_index_build")) Nil
      else {
        spark.conf.set(graft.sources.SimIndex.RebuildKey, "true")
        try Seq("q165_sim_index_build_rebuild" -> exec("q165_sim_index_build"))
        finally spark.conf.unset(graft.sources.SimIndex.RebuildKey)
      }
    val results = sweep ++ rebuild
    // 3-decimal seconds: millisecond resolution is all the comparison
    // needs, and the shorter line survives tail-window captures of the
    // run log intact (full precision tripled the line length)
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // the headline total covers the declared sweep only — the
    // supplementary rebuild line is reported, not double-charged
    val total = sweep.map(_._2).filter(_ >= 0).sum
    val failures = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // sfDir is user-controlled (env var): escape it so a quote or
    // backslash in the path can't corrupt the JSON line
    val sfEsc = sfDir.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""failures":$failures,"sf":"$sfEsc"}"""
    println(line)
    // sbt buries stdout in [info] noise (and truncates long lines in some
    // capture modes); a file keeps the JSON machine-readable. Always
    // written to bench_out.json in the working directory, plus wherever
    // SPARK_GRAFT_BENCH_OUT points.
    val outs = Seq("bench_out.json") ++ sys.env.get("SPARK_GRAFT_BENCH_OUT")
    outs.foreach { path =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), line + "\n")
      catch { case e: Exception => System.err.println(s"[bench] write $path: $e") }
    }
    spark.stop()
  }
}
