package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range-CLUSTERED document store + zone-map pruning — data skipping
  * that the executor actually performs.
  *
  * q107 builds zone-map STATISTICS and q170 scores layouts through
  * them; this store closes the loop the way a lakehouse does: the
  * corpus is physically laid out in value-clustered zones (equi-depth
  * `n_chars` ranges from the q173 boundary recipe — the deterministic
  * kmv-sample replacement for Spark's RangePartitioner reservoir), a
  * per-zone (min, max, count) stats table is persisted NEXT TO the
  * data, and a range query consults the stats table first: zones whose
  * [min, max] cannot intersect the predicate are never read — the scan
  * lists only the surviving `zid=…/` directories
  * (ClusteredStoreSpec observes fewer files read, not just a plan
  * shape).
  *
  * Why a SECOND store when the shard store exists: zone maps only pay
  * on a layout whose files are value-clustered. The hash-bucketed
  * shard store spreads every `n_chars` range over every file — its
  * per-file [min, max] all straddle any selective predicate, so
  * nothing can be skipped (the spec PROVES this on the real shard
  * files). Clustering is what turns file stats into file skipping;
  * at 100 TB the choice of layout IS the query budget for range
  * predicates (the q170 Z-order lesson, here with the read path
  * actually pruned).
  *
  * The surviving-zone decision is a driver-side filter over the
  * zones-per-corpus stats table (≈ [[ZoneParts]] rows) — metadata
  * scale, the same shape as a Delta/Iceberg planner consulting its
  * file manifest; the corpus itself never moves for the decision.
  *
  * Artifact discipline: data under `root/data/zid=…`, stats under
  * `root/zones`, signature meta row written LAST (the
  * q156/jpstats/bkt pattern) — reused across sessions, rebuilt on any
  * corpus edit.
  */
object ClusteredStore {

  /** Target zone count (equi-depth). Fixture-scale; production sizes
    * this as corpus_bytes / target_file_bytes.
    */
  val ZoneParts = 8

  /** Boundary sample size — the q173 regime (~k/p² balance). */
  val SampleK = 512

  /** Layout version, folded into the signature. */
  private val ClsLayout = 1L

  private[graft] def clsRoot(dir: String): String =
    StandingIndex.artifactRoot(dir, "cls")

  /** Equi-depth `n_chars` boundaries over any frame carrying
    * (doc_id, n_chars) — the deterministic kmv bottom-k sample (the
    * q173 recipe: reproducible across runs, engines, and
    * partitionings, unlike a reservoir). One row, one `bl` array.
    */
  private[graft] def boundariesOf(docs: DataFrame): DataFrame = {
    val p = ZoneParts
    val k = SampleK
    docs
      .select(expr(
        graft.operators.LlmOps.hashS("concat('cls:', CAST(doc_id AS STRING))"))
        .as("h"), col("n_chars").as("v"))
      .agg(graft.functions.KmvSample
        .kmv_sample(struct(col("h"), col("v")), k).as("sk"))
      .select(col("sk"), size(col("sk")).cast("long").as("n_sample"))
      .select(
        expr(s"CASE WHEN n_sample > 0 THEN transform(sequence(1, ${p - 1}), " +
            s"j -> element_at(sk, CAST(greatest(1, least(j * ($k div $p), n_sample)) AS INT))) " +
            "ELSE CAST(array() AS ARRAY<BIGINT>) END").as("bl"))
  }

  /** Zone assignment against an explicit (frozen) boundary frame:
    * `zid = |{b ∈ boundaries : n_chars > b}|`.
    */
  private[graft] def assignZones(docs: DataFrame, bnds: DataFrame): DataFrame =
    docs.crossJoin(broadcast(bnds))
      .withColumn("zid",
        expr("size(filter(bl, b -> n_chars > b))").cast("int"))
      .drop("bl")

  /** Documents with their zone id (boundaries from the full corpus —
    * the build path).
    */
  private[graft] def withZone(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Engine.table(s, dir, "documents")
    assignZones(docs, boundariesOf(docs))
  }

  /** Make the clustered store + zone stats available; reuse on a
    * matching corpus signature.
    */
  def ensureClustered(s: SparkSession, dir: String): String =
    StandingIndex.ensureArtifact(s, clsRoot(dir))(ensureClusteredValidated(s, dir))

  /** The validation+build step a NEW session runs (spec hook). */
  private[graft] def ensureClusteredValidated(s: SparkSession, dir: String): Unit = {
    val root = clsRoot(dir)
    StandingIndex.refresh(s, root,
        StandingIndex.inputSig(s, dir, Seq("documents"), ClsLayout)) {
      val zoned = withZone(s, dir)
      zoned.write.mode("overwrite").partitionBy("zid")
        .parquet(s"$root/data")
      // zone stats FROM THE WRITTEN FILES, not the plan — the stats
      // table must describe what a reader will actually see
      s.read.parquet(s"$root/data")
        .groupBy(col("zid"))
        .agg(min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count(lit(1)).as("n_docs"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/zones")
    }
  }

  /** Zones whose [min, max] intersects [lo, hi] — the skipping
    * decision, taken on the ≈[[ZoneParts]]-row stats table.
    */
  private[graft] def survivingZones(s: SparkSession, root: String,
      lo: Long, hi: Long): Seq[Int] =
    s.read.parquet(s"$root/zones")
      .filter(!(col("max_chars") < lo || col("min_chars") > hi))
      .select(col("zid")).collect().map(_.getInt(0)).toSeq.sorted

  /** The q190 predicate window (chars). Equi-depth zones concentrate
    * the corpus middle, so this low-tail window prunes most zones at
    * every fixture SF.
    */
  val Lo = 100L
  val Hi = 180L

  /** q190: zone-map-pruned range scan — per-language stats of the
    * documents whose length falls in [[Lo]], [[Hi]]. The store's zone
    * stats eliminate non-intersecting `zid=…/` directories BEFORE the
    * scan (static partition pruning on the surviving ids), the exact
    * residual predicate still applies inside surviving zones, and the
    * result is IDENTICAL to the full-scan filter — the oracle is the
    * verbatim raw-table SQL, because skipping is layout-only.
    */
  val q190ZonePrunedScan: (SparkSession, String) => DataFrame = (s, dir) => {
    val root = ensureClustered(s, dir)
    val zids = survivingZones(s, root, Lo, Hi)
    s.read.parquet(s"$root/data")
      .filter(col("zid").isin(zids: _*))
      .filter(col("n_chars").between(Lo, Hi))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  // ---- q192: frozen-boundary delta ingest ------------------------

  /** The corpus with its standing/delta split flag — a ~10% hash
    * residue (pure function of doc_id, the q160/q167/q187 convention).
    */
  private[graft] def docsSplit(s: SparkSession, dir: String): DataFrame = {
    graft.Engine.table(s, dir, "documents").withColumn("is_delta",
      expr("stable_hash64(concat('cd:', CAST(doc_id AS STRING))) % 10 = 0"))
  }

  /** Post-ingest zone report over an assigned frame carrying
    * (doc_id, n_chars, is_delta, zid): per-side counts, the MERGED
    * zone stats a maintained zones table would hold (delta docs widen
    * min/max — frozen boundaries don't cap values, they only place
    * them), and per-side assignment signatures
    * (Σ hash('cz:'|doc|zid) mod 1e9 — one misassigned doc flips its
    * side's signature, the q187 discipline).
    */
  private[graft] def zoneIngestReport(assigned: DataFrame): DataFrame = {
    val M = StandingIndex.SigMod
    val zsig = expr("pmod(stable_hash64(concat('cz:', CAST(doc_id AS STRING), " +
      s"':', CAST(zid AS STRING))), $M)")
    assigned
      .withColumn("zsig", zsig)
      .groupBy(col("zid").cast("bigint").as("zid"))
      .agg(
        sum(when(col("is_delta"), 0L).otherwise(1L)).cast("long").as("n_standing"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).cast("long").as("n_delta"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
        (sum(when(col("is_delta"), 0L).otherwise(col("zsig"))) % M)
          .cast("long").as("sig_standing"),
        (sum(when(col("is_delta"), col("zsig")).otherwise(0L)) % M)
          .cast("long").as("sig_delta"))
      .orderBy(col("zid"))
  }

  /** q192: CLUSTERED-STORE MAINTENANCE under ingest — the q167/q187
    * frozen-model premise applied to the zone layout. Zone boundaries
    * are computed from the STANDING corpus only and FROZEN; the ~10%
    * delta batch is assigned against those frozen boundaries — a pure
    * per-row function, so delta ingestion is an O(|delta|) map + file
    * append into the existing `zid=…/` directories, never a
    * re-cluster of the standing data (re-deriving boundaries per batch
    * would relocate existing files — the index-rebuild-per-batch
    * anti-pattern). The report is the maintained zones table: per-side
    * counts, merged min/max (delta rows WIDEN zone stats — the part
    * maintenance must update for q190's pruning to stay correct), and
    * per-side assignment signatures. StreamingClusterIndexSpec runs
    * the same path as foreachBatch micro-batches with
    * stored == from-scratch after every batch; the oracle replays
    * split, frozen boundaries, both assignments, and the signature
    * folds from raw rows.
    */
  val q192ClusterDelta: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docsSplit(s, dir)
    val bnds = boundariesOf(d.filter(!col("is_delta")))
    zoneIngestReport(assignZones(d, bnds))
  }

  // ---- q193: compaction EXECUTED --------------------------------

  /** Compacted-file target in content bytes (Σ n_chars) — the
    * fixture-scaled stand-in for a 256 MB file target (the q133
    * constant reused so planner and executor agree).
    */
  val CompactTarget: Long = graft.operators.PipelineOps.CompactTargetBytes

  /** q193: the OPTIMIZE pass q133 only PLANS, executed on the real
    * clustered store — zone-preserving small-file compaction.
    *
    * The partitioned write that builds the store leaves one file per
    * (zid, input task): write-parallelism fragments, the classic
    * small-file problem a lakehouse OPTIMIZE exists to fix. The
    * compactor reassigns every doc a file index by the q133
    * running-sum rule — within each zone, in doc_id order,
    * `fidx = (Σ n_chars before this doc) div target` — and rewrites
    * one file per (zid, fidx): content-defined boundaries, so the
    * output layout is a pure function of the corpus (reproducible,
    * oracle-checkable), NOT of the input parallelism that caused the
    * fragmentation. Compaction never crosses a zone, so the zone maps
    * — and q190's pruning — carry forward untouched.
    *
    * The returned manifest is read back from the REWRITTEN FILES
    * (`input_file_name()`), not from the plan: `files_after` counts
    * physical files, so the oracle's replay of the running-sum algebra
    * (`count(DISTINCT fidx)`) value-checks that the rewrite actually
    * achieved the planned layout — one file per group (the
    * hash-repartition on (zid, fidx) puts each group in exactly one
    * task, hence exactly one file). ClusteredStoreSpec additionally
    * observes files_after < files_before and content preservation.
    *
    * Scale shape: the running-sum window is PER ZONE, and production
    * sizes [[ZoneParts]] so a zone holds a handful of target files —
    * the window's task is bounded by zone size, never corpus size, and
    * zones compact independently (embarrassingly parallel, like a
    * lakehouse OPTIMIZE's per-partition jobs).
    */
  val q193CompactExec: (SparkSession, String) => DataFrame = (s, dir) =>
    compactStore(s, ensureClustered(s, dir))

  /** The compaction pass over any store root — factored out so
    * ClusteredStoreSpec can fragment a private store first and observe
    * the file-count drop (the shared fixture store is born compact at
    * sf0.001: one input partition → one file per zone).
    */
  private[graft] def compactStore(s: SparkSession, root: String): DataFrame = {
    val T = CompactTarget
    val assigned = s.read.parquet(s"$root/data")
      .withColumn("fidx", expr(
        "(sum(n_chars) OVER (PARTITION BY zid ORDER BY doc_id " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) div $T"))
    assigned
      .repartition(col("zid"), col("fidx"))
      .write.mode("overwrite").partitionBy("zid", "fidx")
      .parquet(s"$root/compact")
    s.read.parquet(s"$root/compact")
      .select(col("zid").cast("bigint").as("zid"), col("n_chars"),
        input_file_name().as("fp"))
      .groupBy(col("zid"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes"),
        countDistinct(col("fp")).as("files_after"))
      .orderBy(col("zid"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q190_zone_pruned_scan" -> q190ZonePrunedScan,
      "q192_cluster_delta" -> q192ClusterDelta,
      "q193_compact_exec" -> q193CompactExec)

  val oracles: Map[String, String] = Map(
    "q190_zone_pruned_scan" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE n_chars BETWEEN $Lo AND $Hi
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q192: the oracle replays the standing/delta split, the frozen
    // standing-side kmv boundaries (the q173 replay), both zone
    // assignments, the merged zone stats, and the per-side signature
    // folds — every assignment value-checked from raw rows
    "q192_cluster_delta" -> {
      val hSplit = graft.operators.LlmOps
        .hashD("'cd:' || CAST(doc_id AS VARCHAR)")
      val hSample = graft.operators.LlmOps
        .hashD("'cls:' || CAST(doc_id AS VARCHAR)")
      val hSig = graft.operators.LlmOps
        .hashD("'cz:' || CAST(doc_id AS VARCHAR) || ':' || CAST(zid AS VARCHAR)")
      val gap = SampleK / ZoneParts
      val M = StandingIndex.SigMod
      s"""WITH d AS (
        |  SELECT doc_id, n_chars, ($hSplit % 10 = 0) AS is_delta
        |  FROM documents),
        |hh AS (SELECT n_chars AS v, $hSample AS h
        |       FROM d WHERE NOT is_delta),
        |sk AS (SELECT v FROM hh ORDER BY h, v LIMIT $SampleK),
        |ska AS (SELECT list(v ORDER BY v) AS ss, count(*) AS n FROM sk),
        |b AS (SELECT CASE WHEN n > 0 THEN list_transform(range(1, $ZoneParts),
        |        j -> ss[CAST(greatest(1, least(j * $gap, n)) AS INT)])
        |        ELSE CAST([] AS BIGINT[]) END AS bl
        |      FROM ska),
        |asg AS (
        |  SELECT d.doc_id, d.n_chars, d.is_delta,
        |    CAST(len(list_filter(b.bl, x -> d.n_chars > x)) AS BIGINT) AS zid
        |  FROM d, b),
        |sig AS (SELECT *, ($hSig % $M) AS zsig FROM asg)
        |SELECT zid,
        |  CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT) AS n_standing,
        |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(CASE WHEN is_delta THEN 0 ELSE zsig END) % $M AS BIGINT)
        |    AS sig_standing,
        |  CAST(sum(CASE WHEN is_delta THEN zsig ELSE 0 END) % $M AS BIGINT)
        |    AS sig_delta
        |FROM sig GROUP BY zid ORDER BY zid""".stripMargin
    },
    // q193: the oracle replays the store's full-corpus zone assignment
    // and the running-sum file-boundary algebra; count(DISTINCT fidx)
    // value-checks the number of PHYSICAL files the rewrite produced
    "q193_compact_exec" -> {
      val hSample = graft.operators.LlmOps
        .hashD("'cls:' || CAST(doc_id AS VARCHAR)")
      val gap = SampleK / ZoneParts
      s"""WITH hh AS (SELECT n_chars AS v, $hSample AS h FROM documents),
        |sk AS (SELECT v FROM hh ORDER BY h, v LIMIT $SampleK),
        |ska AS (SELECT list(v ORDER BY v) AS ss, count(*) AS n FROM sk),
        |b AS (SELECT CASE WHEN n > 0 THEN list_transform(range(1, $ZoneParts),
        |        j -> ss[CAST(greatest(1, least(j * $gap, n)) AS INT)])
        |        ELSE CAST([] AS BIGINT[]) END AS bl
        |      FROM ska),
        |asg AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(b.bl, x -> n_chars > x)) AS BIGINT) AS zid
        |  FROM documents, b),
        |f AS (
        |  SELECT zid, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY zid ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT)
        |      // $CompactTarget AS fidx
        |  FROM asg)
        |SELECT zid, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bytes,
        |  CAST(count(DISTINCT fidx) AS BIGINT) AS files_after
        |FROM f GROUP BY zid ORDER BY zid""".stripMargin
    })
}
