package graft
import java.nio.file.{Files, Paths}

import graft.functions.ScalarOps.jsonString
/** Driver-run correctness dump (`runMain graft.Verify <sfDir> <outDir>`):
  * each selected query's result (every declared query by default, see
  * [[Harness]]) → parquet, plus oracle_sql.json, for the driver's DuckDB
  * compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val h = new Harness("verify", sfDir)
    new java.io.File(outDir).mkdirs()
    // canonical sidecar (VERDICT r6 #1): per-query sha256 over sorted row
    // text, computed from the WRITTEN parquet (same bytes the driver's
    // DuckDB compare reads, so parquet type round-trips are captured),
    // plus the sorted row text itself for value-by-value diffing.
    val sidecar = scala.collection.mutable.Map.empty[String, String]
    val MaxDumpRows = 200000
    h.names.foreach { name =>
      try {
        h.query(name).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val canon = Canonical.rows(h.spark.read.parquet(s"$outDir/$name"))
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
        h.log(s"$name failed: ${e.getMessage}")
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
    // both files list their keys in the declared maps' own order, the
    // order these files have always had
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    val selected = h.names.toSet
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter { case (k, _) => selected(k) }))
    Files.writeString(Paths.get(s"$outDir/canonical_hashes.json"),
      obj(SparkEntry.queries.keys.toSeq.flatMap(k => sidecar.get(k).map(k -> _))))
    h.stop()
  }
}
