package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Session factory + fixture-table access for the graft engine.
  *
  * Scale notes (SURVEY.md §6): every knob here is chosen so the same code
  * runs unchanged on a real multi-executor cluster — local[32] is only the
  * test harness. Shuffle partitions are a fixed 32, whatever the master;
  * AQE coalescing (spark.sql.adaptive.coalescePartitions.enabled)
  * re-sizes post-shuffle partitions from runtime statistics, so 32 is
  * the count AQE coalesces down from.
  */
object Engine {

  /** Build the engine's SparkSession — the one session recipe every main
    * runs on. Idempotent (getOrCreate), and installs the engine.
    */
  def session(master: String = "local[32]", appName: String = "graft"): SparkSession = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE: runtime re-planning — partition coalescing, skew-join
      // splitting, dynamic broadcast conversion. Essential at 100 TB
      // where static estimates are wrong.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Parquet pushdown is on by default; pinned here as part of the
      // engine contract (BENCH depends on scans pruning columns/rows).
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet stores TIMESTAMP(NANOS) which Spark rejects by
      // default; read as long and convert in table() below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table scans declare their per-bucket sort order so a
      // co-located SMJ elides its Sorts (BucketStore's one-file-per-
      // bucket writes make the planning-time file listing this flag
      // pays for trivial: one status call per bucket)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // reliable-checkpoint mode (see materialize) runs a checkpoint
      // per iteration round; without the cleaner every round's RDD
      // directory stays in the checkpoint dir forever
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  /** Install the engine's SQL functions, optimizer rules and planner
    * strategy ([[GraftExtensions]]' table) into an existing session —
    * extensions only apply at session construction. Idempotent and
    * THREAD-SAFE: it serializes on the session's `experimental` holder,
    * the object that owns the rule vars. `Engine.session` and the driver
    * boundary (`SparkEntry`) are the callers; operators never register.
    */
  def install(s: SparkSession): Unit = s.experimental.synchronized {
    val registry = s.sessionState.functionRegistry
    GraftExtensions.functions.foreach(f =>
      registry.registerFunction(FunctionIdentifier(f.name), f.info, f.builder))
    GraftExtensions.optimizerRules.foreach(registerOptimization(s, _))
    GraftExtensions.strategies.foreach(registerStrategy(s, _))
  }

  /** Append an optimizer rule unless present. The raw pattern — check
    * `extraOptimizations.contains` then reassign the Seq — is a
    * non-atomic check-then-act on a plain var: two threads planning
    * concurrently on one session could interleave and drop a
    * registration or duplicate a rule entry (ADVICE r12), so both
    * helpers run only under [[install]]'s lock.
    */
  private def registerOptimization(s: SparkSession, rule: Rule[LogicalPlan]): Unit =
    if (!s.experimental.extraOptimizations.contains(rule))
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule

  /** Twin of [[registerOptimization]] for planner strategies. */
  private def registerStrategy(s: SparkSession, strategy: SparkStrategy): Unit =
    if (!s.experimental.extraStrategies.contains(strategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ strategy

  /** Conf key: when "true", [[materialize]] uses RELIABLE checkpoints
    * (persisted to [[CheckpointDirKey]] / the context's checkpoint dir)
    * instead of local ones. Default false: local checkpoints are faster
    * and correct in local mode, but their blocks die with an executor —
    * on a real cluster a lost executor would kill any query whose
    * lineage was truncated through them, so cluster deployments flip
    * this flag (VERDICT r6 item 2).
    */
  val ReliableCheckpointKey = "spark.graft.checkpoint.reliable"

  /** Conf key: directory for reliable checkpoints (HDFS/S3 path on a
    * cluster). Applied lazily at first materialize if the context has
    * no checkpoint dir yet.
    */
  val CheckpointDirKey = "spark.graft.checkpoint.dir"

  /** Materialization barrier for iterative algorithms (PageRank rounds,
    * BFS frontiers, Lloyd iterations, star-contraction) and shared
    * cached intermediates: truncates lineage so each round plans
    * against a flat table instead of replaying every earlier round's
    * shuffles. Mode is config-selected per the keys above; all
    * operator code calls this (never `localCheckpoint` directly) so
    * one conf flag switches the whole engine.
    */
  def materialize(df: DataFrame, eager: Boolean = true): DataFrame = {
    val s = df.sparkSession
    if (s.conf.getOption(ReliableCheckpointKey).exists(_.toBoolean)) {
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        s.conf.getOption(CheckpointDirKey).foreach(sc.setCheckpointDir)
      // fail HERE with the knob's name, not deep inside the first
      // iteration round with Spark's bare "checkpoint directory has
      // not been set"
      require(sc.getCheckpointDir.nonEmpty,
        s"$ReliableCheckpointKey=true requires a checkpoint directory: " +
          s"set $CheckpointDirKey (or SparkContext.setCheckpointDir)")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)
  }

  /** Fluent syntax for [[materialize]]: `df.materialize(true)`. */
  implicit class MaterializeSyntax(private val df: DataFrame) {
    def materialize(eager: Boolean = true): DataFrame =
      Engine.materialize(df, eager)
  }

  /** Names of the driver-generated fixture tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one fixture table from an sf directory. The events table's
    * `ts` column has shipped as two different physical types across
    * fixture generations, so dispatch on the LOADED schema rather than
    * assuming either one:
    *   - TIMESTAMP(NANOS): arrives as a nanos long (see nanosAsLong
    *     session config) and is floor-truncated to a micros timestamp —
    *     the same conversion DuckDB applies when reading TIMESTAMP_NS.
    *   - TIMESTAMP_NTZ(MICROS): cast to the session-zone TimestampType
    *     (session is pinned UTC, so the wall-clock micros are preserved
    *     exactly — DuckDB reads the same naive micros).
    *   - TimestampType: pass through unchanged.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType =>
          // FLOOR division (div truncates toward zero): pre-epoch nanos
          // must round down to match DuckDB's ns→µs conversion
          df.withColumn("ts", timestamp_micros(
            expr("ts div 1000 + (CASE WHEN ts % 1000 < 0 THEN -1 ELSE 0 END)")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    else df
  }

  /** Register every fixture table as a temp view (for spark.sql paths).
    *
    * A table whose load fails (missing file, unreadable schema) is
    * skipped with a warning instead of aborting the whole registration:
    * one bad fixture must only break its own query family, never
    * unrelated queries that reference none of its columns. But if
    * EVERY table fails — a wrong sfDir, not a broken fixture — fail
    * fast with one clear error instead of letting every later query
    * die with a confusing "table not found" (ADVICE r9).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val failures = tableNames.flatMap { n =>
      try { table(spark, sfDir, n).createOrReplaceTempView(n); None }
      catch {
        case scala.util.control.NonFatal(e) =>
          Console.err.println(
            s"graft: skipping view '$n' ($sfDir/$n.parquet failed to load: ${e.getMessage})")
          Some(n -> e)
      }
    }
    if (failures.size == tableNames.size)
      throw new IllegalArgumentException(
        s"graft: no fixture table loaded from '$sfDir' — wrong directory? " +
          s"First error (${failures.head._1}): ${failures.head._2.getMessage}")
  }
}
