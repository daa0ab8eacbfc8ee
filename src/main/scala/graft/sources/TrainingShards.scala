package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned parquet training-shard SINK — the write side of a
  * 100 TB pipeline (the engine's other sinks are the reference's
  * JSON/HTML envelopes, which cap out at page-sized results).
  *
  * Layout contract:
  *   `<out>/lang=<l>/bucket=<b>/shard-NNNNN.parquet`
  *
  *  - `bucket` is CONTENT-derived — `stable_hash64('shard:'||doc_id) %
  *    NumBuckets` — so a document's partition directory is a pure
  *    function of its id: reproducible across runs, engines, cluster
  *    sizes, and input partitionings (a rand- or task-id-derived bucket
  *    would shuffle docs between shards on every run).
  *  - File SIZE is targeted two ways: the REBALANCE hint lets AQE split
  *    oversized (lang, bucket) groups across tasks at the advisory
  *    partition size — a plain `repartition(lang, bucket)` would funnel
  *    each group through ONE task however big the group (the
  *    one-language-dominated corpus trap) — and `maxRecordsPerFile`
  *    caps each written file.
  *  - Shard names are deterministic: after the job commits, part files
  *    in each partition directory are renamed (sorted, so the mapping
  *    is stable) to `shard-00000.parquet, shard-00001.parquet, …` —
  *    one driver-side metadata RPC per file, parallelizable over
  *    directories if the shard count ever makes it matter.
  *
  * Verification (q81): write the documents table as shards, read the
  * shards back, and hash-compare every row + the bucket assignment
  * against the DuckDB oracle computing the same bucket hash over the
  * original input — a full write→read round-trip, not a row count.
  */
object TrainingShards {

  /** Buckets per language. Fixture-scale; production sizes this as
    * corpus_bytes / (languages × target_shard_bytes).
    */
  val NumBuckets = 8

  /** Per-file row cap (the size target at fixture scale: sf0.1's
    * ~125-row buckets split, sf0.01's ~12-row buckets don't — so the
    * multi-file naming path is exercised where the oracle runs too).
    */
  val MaxRecordsPerFile = 100L

  /** Deterministic, content-derived shard bucket. */
  def withBucket(df: DataFrame): DataFrame = {
    df.withColumn("bucket", expr(
      s"stable_hash64(concat('shard:', doc_id)) % $NumBuckets"))
  }

  /** The write-side plan: bucketed rows, REBALANCE-exchanged on the
    * partition keys so write parallelism tracks data volume (AQE splits
    * big groups, coalesces small ones — never a single-task funnel).
    * Exposed separately so PlanSpec can assert the exchange shape.
    */
  def shardPlan(df: DataFrame): DataFrame =
    withBucket(df).hint("rebalance", col("lang"), col("bucket"))

  /** Write `df` (must carry lang + doc_id) as partitioned shards. */
  def write(df: DataFrame, outDir: String): Unit = {
    shardPlan(df).write
      .mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy("lang", "bucket")
      .parquet(outDir)
    renameShards(df.sparkSession, outDir)
  }

  /** part-* → shard-NNNNN.parquet, per partition directory, in sorted
    * (= deterministic: the part-NNNNN task prefix orders files across
    * tasks, the -cNNN suffix within one) order.
    */
  private def renameShards(s: SparkSession, outDir: String): Unit = {
    val fs = new Path(outDir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = fs.globStatus(new Path(outDir, "lang=*/bucket=*"))
    dirs.foreach { d =>
      val parts = fs.listStatus(d.getPath)
        .map(_.getPath).filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = new Path(d.getPath, f"shard-$i%05d.parquet")
        require(fs.rename(p, dst),
          s"shard rename failed: $p -> $dst (deterministic naming contract broken)")
      }
    }
  }

  /** Read a shard directory back; partition columns are re-typed to the
    * write-side schema (partition-value inference yields ints).
    */
  def readBack(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir).withColumn("bucket", col("bucket").cast("long"))

  /** Shard output root for a given input dir — env-overridable (same
    * discipline as GRAFT_FIXTURES_DIR), defaulting to the JVM temp dir;
    * keyed by the input path so sf runs never collide.
    */
  def shardOutDir(sfDir: String): String = {
    val root = sys.env.getOrElse("GRAFT_SHARDS_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_shards")
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir).toLong & 0xffffffffL)
    s"$root/out_$key"
  }

  // ---- standing shard-store artifact (cross-session reuse) ---------

  /** Shard-store layout version — folded into the signature so a layout
    * change (bucket count, naming, partition scheme) invalidates every
    * stored shard set at once.
    */
  private val ShardLayout = 1L

  /** Meta root is a SIBLING of the data directory (`<out>.artifact`):
    * [[readBack]] reads `<out>` recursively for partition discovery, so
    * a differently-schemed meta parquet inside it would poison the scan.
    */
  private[graft] def metaRoot(outDir: String): String = s"$outDir.artifact"

  /** The shard store as a STANDING ARTIFACT: the write (and the
    * driver-side deterministic rename pass) runs only when the
    * documents corpus' content signature changes — every other session
    * validates the stored meta row and reads the existing shards, the
    * way a production corpus store is written once per corpus version
    * and read by every downstream job. The layout is a pure function of
    * content (`bucket = stable_hash64('shard:'||doc_id) % NumBuckets`),
    * so stored == rewritten whenever the signature matches — q81's
    * raw-input DuckDB oracle keeps value-checking the stored path.
    */
  def ensureShards(s: SparkSession, dir: String): String = {
    StandingIndex.ensureArtifact(s, metaRoot(shardOutDir(dir)))(
      ensureShardsValidated(s, dir))
    shardOutDir(dir)
  }

  /** The validation+build step a NEW session runs (spec hook). */
  private[graft] def ensureShardsValidated(s: SparkSession, dir: String): Unit = {
    val out = shardOutDir(dir)
    StandingIndex.refresh(s, metaRoot(out),
        StandingIndex.inputSig(s, dir, Seq("documents"), ShardLayout))(
      write(graft.Engine.table(s, dir, "documents"), out))
  }

  /** q81: full shard round-trip — write the documents table as
    * (lang, bucket) shards (via the standing artifact: first run per
    * corpus writes, later runs and later SESSIONS reuse), read the
    * shards back, return every row. The oracle recomputes the bucket
    * hash over the ORIGINAL table, so a lost/duplicated/corrupted row
    * or a misassigned bucket fails the hash compare — over the stored
    * path too, since the layout is content-derived.
    */
  val q81ShardWrite: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = ensureShards(s, dir)
    readBack(s, out)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** q188: DYNAMIC-PARTITION-PRUNED shard read — the partitioned layout
    * paying at read time. Which languages qualify (mean doc length
    * above 300 chars, tested sum-exactly: `Σ n_chars > 300·count` in
    * integers so neither engine floats) is only known after the dim
    * aggregate RUNS, so no static predicate can prune the `lang=…/`
    * partition directories; Spark's PartitionPruning rule instead
    * plants a DynamicPruningExpression on the shard scan's `lang`
    * partition column, reusing the dim side's broadcast exchange, and
    * the scan reads ONLY the surviving directories. At 100 TB this is
    * the difference between scanning the whole corpus store and
    * scanning the qualifying languages' shards — for free, because the
    * dim was being broadcast for the join anyway. (The dim is kept
    * windowless deliberately: a rank-based dim plans its main-side
    * copy through TakeOrderedAndProject but the captured DPP subquery
    * through Sort+Limit, the canonical forms diverge, and AQE falls
    * back to `dynamicpruningexpression(true)` — no pruning. Filter over
    * Aggregate canonicalizes identically on both sides, so the
    * broadcast is reused.) DppSpec asserts the plan carries the dynamic
    * filter AND that the executed scan read fewer files than the store
    * holds; the oracle replays the same selection + join from the raw
    * table.
    */
  val q188DppShardRead: (SparkSession, String) => DataFrame = (s, dir) => {
    val shards = readBack(s, ensureShards(s, dir))
    val dim = graft.Engine.table(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("lang_docs"), sum(col("n_chars")).as("lang_chars"))
      .filter(col("lang_chars") > lit(300L) * col("lang_docs"))
      .select(col("lang"), col("lang_docs"))
    shards.join(dim, Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        first(col("lang_docs")).as("lang_docs"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q81_shard_write" -> q81ShardWrite,
      "q188_dpp_shard_read" -> q188DppShardRead)

  val oracles: Map[String, String] = Map(
    "q81_shard_write" ->
      s"""SELECT doc_id, text, lang, source, n_chars,
        |  (('0x' || substring(md5('shard:' || doc_id),1,15))::BIGINT) % $NumBuckets AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q188_dpp_shard_read" ->
      """WITH sel AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
        |  FROM documents GROUP BY lang
        |  HAVING CAST(sum(n_chars) AS BIGINT) > 300 * CAST(count(*) AS BIGINT))
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |       CAST(min(s.lang_docs) AS BIGINT) AS lang_docs
        |FROM documents d JOIN sel s ON d.lang = s.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
}
