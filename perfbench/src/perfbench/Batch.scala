package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Declared queries on the sf0.1 tables in one long session with an
  * empty artifact directory, in a fixed order. Each query's result is
  * written as one parquet file, which run.py checks against the DuckDB
  * oracle after the run.
  *
  * The order does not depend on the seed: with seeded orders, which
  * queries ran before one (and what they left cached) moved single query
  * latencies and the retained heap by about a fifth between seeds, more
  * than the benchmark's bounds allow. The tables are fixed inputs too,
  * so the seed changes nothing here.
  */
final class BatchWorkload(ctx: Ctx) extends Workload {
  private val a = ctx.args
  private val out = ctx.dir("results")

  /** One or more per family: plan rules (q33's as-of push-down, q184's
    * interval-join bucketing), graph (q94, which builds the shared basket
    * table), LLM ops and session caches (q67), analytics (q121),
    * multimodal (q51), and q251, which builds a composed snapshot store
    * and leaves bucketing conf set for the queries after it. The list is
    * sized so that a run of each workload fits the benchmark's time
    * budget on four cores.
    */
  val Queries: Seq[String] = Seq(
    "q33_asof_join", "q184_interval_rule", "q94_triangles", "q67_lm_score",
    "q121_retention_cohorts", "q51_media_features", "q251_snapshot_composed")

  private val written = mutable.LinkedHashSet.empty[String]

  override def prepare(): Unit = {
    val unknown = Queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  /** Warm-up: a short scan of two tables (graft.Bench scans every table;
    * two keep the five set-ups within the run's time budget).
    */
  def setup(spark: SparkSession, round: Int): Unit =
    Seq("lineitem", "documents").foreach { n =>
      spark.read.parquet(s"${a.data}/$n.parquet").limit(10)
        .write.format("noop").mode("overwrite").save()
    }

  def measure(spark: SparkSession, deadlineNs: Long): Seq[Op] = {
    val t = ctx.tracer
    val ops = mutable.ArrayBuffer.empty[Op]
    // whole passes until the deadline has passed
    while (ops.isEmpty || System.nanoTime() < deadlineNs) {
      Queries.foreach { name =>
        val op = t.nextOp()
        val t0 = System.nanoTime()
        val ok = try {
          t.withOpGroup(spark, op) {
            t.span(name, "client", op, 0L) { root =>
              val df = t.span("SparkEntry.queries", "operators", op, root)(_ =>
                SparkEntry.queries(name)(spark, a.data))
              t.span("write", "action", op, root)(_ =>
                df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString))
            }
          }
          written += name
          true
        } catch {
          case e: Exception =>
            ctx.problems += s"$name threw: $e"
            false
        }
        ops += Op(name, t0, System.nanoTime(), ok)
        ctx.opDone(spark)
      }
    }
    ops.toSeq
  }

  def after(spark: SparkSession, ops: Seq[Op]): (Map[String, Double], Map[String, Double]) = {
    // the oracle SQL of every written result, for tools/check_oracle.py
    val sql = SparkEntry.oracleSql
    val missing = written.filterNot(sql.contains)
    if (missing.nonEmpty) ctx.problems += s"no oracle SQL for ${missing.mkString(", ")}"
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(written.toSeq.filter(sql.contains).map(n => n -> sql(n)).toMap) + "\n")
    // what the queries left under the artifact dir and the JVM temp dir
    val roots = Seq("index", "tmp").map(d => a.scratch.resolve(d))
    def files(keep: String => Boolean) = roots.map(r => Stats.du(r, p => keep(p.toString)))
    val bytes = files(_ => true).map(_._1).sum
    val dataFiles = files(p => p.contains("/data/") && p.endsWith(".parquet")).map(_._2).sum
    val manifestFiles = files(p => p.contains("/manifests/") && p.endsWith(".parquet")).map(_._2).sum
    val inputBytes = Stats.du(Paths.get(a.data), _.toString.endsWith(".parquet"))._1
    val report = Map(
      "queries_per_pass" -> Queries.length.toDouble,
      "artifact_mb" -> bytes / Stats.MB,
      "artifact_space_amp" -> bytes.toDouble / inputBytes) ++
      ops.groupBy(_.kind).map { case (k, os) => s"query_ms.$k" -> Stats.median(os.map(_.ms)) }
    val layer = Map(
      "sources.artifact_mb" -> bytes / Stats.MB,
      "sources.data_files" -> dataFiles.toDouble,
      "sources.manifest_files" -> manifestFiles.toDouble)
    (report, layer)
  }
}
