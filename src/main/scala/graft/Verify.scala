package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (the driver always runs unfiltered):
    // SPARK_GRAFT_QUERIES=q93_pagerank,q94_triangles
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // canonical sidecar (VERDICT r6 #1): per-query sha256 over sorted row
    // text, computed from the WRITTEN parquet (same bytes the driver's
    // DuckDB compare reads, so parquet type round-trips are captured),
    // plus the sorted row text itself for value-by-value diffing.
    val sidecar = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val MaxDumpRows = 200000
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val canon = Canonical.rows(spark.read.parquet(s"$outDir/$name"))
        sidecar(name) = Canonical.sha256(canon)
        // always remove first: an over-cap result must not leave a
        // PREVIOUS run's row text next to this run's parquet/hash
        Files.deleteIfExists(Paths.get(s"$outDir/$name.canonical.txt"))
        if (canon.length <= MaxDumpRows)
          // empty result ⇒ empty FILE (mkString with a "\n" terminator
          // would write a lone newline, which reads back as one empty
          // row and breaks two-sided diffing against the oracle side)
          Files.writeString(Paths.get(s"$outDir/$name.canonical.txt"),
            if (canon.isEmpty) "" else canon.mkString("", "\n", "\n"))
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a PREVIOUS run's parquet in
        // place — a reused outDir would let stale results pass the
        // driver's hash compare and mask the regression
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete()
          }
          rm(stale)
        }
        val staleTxt = new java.io.File(s"$outDir/$name.canonical.txt")
        if (staleTxt.exists()) staleTxt.delete()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val hashes = sidecar
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/canonical_hashes.json"), hashes)
    spark.stop()
  }
}
