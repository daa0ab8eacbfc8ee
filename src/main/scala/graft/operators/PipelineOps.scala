package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Engine
import graft.Engine.MaterializeSyntax

/** Production data-pipeline operators around the corpus lifecycle —
  * the operations that sit BETWEEN the analytics (Relational) and the
  * content ops (LlmOps) in a 100 TB training-data system: snapshot
  * diffing, deterministic dataset splitting, slowly-changing-dimension
  * history, cross-source score normalization, funnel analysis, and
  * rolling event-time features.
  *
  * Scale notes are per-query in the scaladoc: what shuffles, what
  * broadcasts, and why the plan survives 1000 executors. Shared
  * discipline with the rest of the engine: content-derived hashes
  * (stable_hash64) for anything that must be reproducible across runs,
  * engines, and partitionings; decimal-exact sums for float parity;
  * windows only over per-entity or distinct-domain partitions, never
  * corpus-wide.
  */
object PipelineOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  // ---------------------------------------------------------------
  // q87 — snapshot delta (CDC over corpus manifests)
  // ---------------------------------------------------------------

  /** q87: snapshot delta — the incremental-ingest primitive: given
    * yesterday's corpus snapshot and today's, classify every doc_id as
    * added / deleted / changed / unchanged by comparing content hashes.
    *
    * At 100 TB the full texts never meet: each snapshot's scan hashes
    * its text MAP-SIDE into a (doc_id, hash64) manifest — 16 bytes per
    * document — and only the manifests join (full outer, doc_id-equi,
    * sort-merge; both sides shuffle-partition on the same key so AQE
    * can also co-locate repeated runs). The delta output then drives
    * downstream incremental work (re-embed changed docs, tombstone
    * deleted ones) without rescanning the unchanged 99%.
    *
    * Fixture derivation (deterministic, no extra tables): old snapshot
    * omits doc_id % 13 == 5 ("added today"), new snapshot omits
    * doc_id % 11 == 7 ("deleted today"), and docs with doc_id % 7 == 0
    * carry revised text in the new snapshot ("changed").
    */
  val q87SnapshotDelta: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), expr("stable_hash64(text)").as("old_hash"))
    val neu = docs.filter(col("doc_id") % 11 =!= 7)
      .withColumn("new_text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .select(col("doc_id"), expr("stable_hash64(new_text)").as("new_hash"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "deleted")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("old_hash"), lit(-1L)).as("old_hash"),
        coalesce(col("new_hash"), lit(-1L)).as("new_hash"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q139 — CDC MERGE apply (the upsert half of q87's delta)
  // ---------------------------------------------------------------

  /** q139: apply a CDC delta to a standing snapshot — the MERGE
    * (SCD1 upsert) primitive that completes q87: the delta CLASSIFIES,
    * this APPLIES. The old manifest streams through a left join
    * against ONLY the changed/added/deleted delta rows (unchanged docs
    * never appear in a real CDC feed), deletes drop, updates take the
    * new hash, inserts append via union — and the oracle recomputes
    * the new snapshot's manifest DIRECTLY from the documents table, so
    * the hash match proves merge(old, delta) == full rebuild, the same
    * incremental==direct proof pattern as q106.
    *
    * Scale shape: the big side (old manifest, corpus-sized) is never
    * shuffled — the delta side is |changes|-sized and broadcastable, a
    * left join + an append, NOT the full-outer join a naive merge
    * plans (full-outer forces both sides to shuffle; left-join +
    * union-inserts keeps the 99% unchanged rows map-side). Manifests
    * are 16 bytes/doc; texts are hashed map-side in their own scans.
    */
  /** q139's standing snapshot: the old manifest as (doc_id, op_applied
    * = 'kept', text_hash) — also the INITIAL state of the streaming
    * MERGE (StreamingMergeSpec drives [[applyMergeBatch]] over it).
    */
  private[graft] def cdcOldSnapshot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), lit("kept").as("op_applied"),
        expr("stable_hash64(text)").as("text_hash"))
  }

  /** q139's CDC feed: ONLY rows whose state changed (q87's delta minus
    * 'unchanged'), as (doc_id, status, new_hash). Materialized once so
    * the upsert branch and the insert branch both read a flat table
    * instead of each replaying the manifest full-outer join.
    */
  private[graft] def cdcDeltaFeed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"), expr("stable_hash64(text)").as("old_hash"))
    val neu = docs.filter(col("doc_id") % 11 =!= 7)
      .withColumn("new_text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .select(col("doc_id"), expr("stable_hash64(new_text)").as("new_hash"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "deleted")
          .otherwise("changed").as("status"),
        col("old_hash"), col("new_hash"))
      .filter(col("status") =!= "changed" || col("old_hash") =!= col("new_hash"))
      .select(col("doc_id"), col("status"), col("new_hash"))
      .materialize(true)
  }

  /** One MERGE application: fold a delta (micro-)batch into a standing
    * snapshot. This is the EXACT operation q139 runs once over the full
    * delta and the streaming foreachBatch sink runs once per
    * micro-batch — sharing the definition is what makes the
    * streamed-incremental == batch claim about the operator, not about
    * two lookalike implementations.
    *
    * Scale shape: the big side (snapshot) is never shuffled — the delta
    * side is |changes|-sized; NO broadcast hint (AQE converts the join
    * to broadcast at runtime from the materialized size, but a
    * high-churn merge — effectively a rebuild — must be allowed to fall
    * back to a shuffle join instead of OOMing a forced build side).
    */
  private[graft] def applyMergeBatch(snapshot: DataFrame, delta: DataFrame): DataFrame = {
    val upserted = snapshot
      .join(delta.filter(col("status") =!= "added"), Seq("doc_id"), "left")
      .filter(col("status").isNull || col("status") =!= "deleted")
      .select(col("doc_id"),
        when(col("status").isNull, snapshot("op_applied"))
          .otherwise("updated").as("op_applied"),
        coalesce(col("new_hash"), col("text_hash")).as("text_hash"))
    val inserted = delta.filter(col("status") === "added")
      .select(col("doc_id"), lit("inserted").as("op_applied"),
        col("new_hash").as("text_hash"))
    upserted.unionAll(inserted)
  }

  val q139SnapshotMerge: Q = (s, dir) =>
    applyMergeBatch(cdcOldSnapshot(s, dir), cdcDeltaFeed(s, dir))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // q88 — deterministic dataset split + shuffle shards
  // ---------------------------------------------------------------

  /** q88: train/val/test split + shuffle-shard assignment — both pure
    * functions of the doc_id (stable_hash64 with distinct salts), so
    * the assignment is reproducible across runs, engines, cluster
    * sizes, and input partitionings, and adding documents never moves
    * an existing one between splits (the property rand()-based splits
    * lack). The ord_key doubles as the within-shard shuffle order for
    * training: sorting each shard by it yields a deterministic global
    * permutation without any corpus-wide sort or window — the whole
    * operator is a narrow map over the scan (zero shuffles; the plan
    * is one WholeStageCodegen span over the parquet scan).
    */
  val q88DatasetSplit: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("h", expr("stable_hash64(concat('split:', doc_id)) % 100"))
      .select(col("doc_id"),
        when(col("h") < 96, "train").when(col("h") < 98, "val")
          .otherwise("test").as("split"),
        expr("stable_hash64(concat('ord:', doc_id)) % 64").as("shard"),
        expr("stable_hash64(concat('ord:', doc_id))").as("ord_key"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q89 — SCD2 interval history (events as a change feed)
  // ---------------------------------------------------------------

  /** q89: slowly-changing-dimension (type 2) history — treat each
    * user's event stream as a change feed and materialize validity
    * intervals: each event's state is valid from its timestamp until
    * the user's next event (NULL = still current). The standard
    * warehouse primitive for "what was this entity's state at time T"
    * (the as-of join q33 is its read side).
    *
    * One shuffle on user_id; the lead() window runs inside per-user
    * partitions — entity history is bounded (thousands of rows), never
    * corpus-scale, so the window sort cannot skew a task. Ordering ties
    * (same-timestamp events) are pinned by event_id so the interval
    * chain is deterministic.
    */
  val q89Scd2History: Q = (s, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("valid_to", lead(col("ts"), 1).over(byUser))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("bigint").as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  // ---------------------------------------------------------------
  // q90 — per-source quantile normalization of quality scores
  // ---------------------------------------------------------------

  /** q90: per-source quantile normalization — quality scores are not
    * comparable across sources (a 0.7 from a curated source ≠ 0.7 from
    * a crawl), so mixing pipelines normalize each doc's score to its
    * within-source CDF position before applying a global threshold.
    *
    * Scale shape (the q71 rank-select trick generalized): the CDF is
    * NEVER a row-level window — scores are quantized to 4 dp, counted
    * per (source, bucket) with map-side combine, and the cumulative
    * window runs over the DISTINCT (source, bucket) domain — at most
    * sources × 10^4 rows whatever the corpus size. Documents then
    * hash-join back on (source, bucket) to pick up their normalized
    * score. quantile = P(score' <= mine) within source, inclusive.
    */
  val q90QuantileNorm: Q = (s, dir) => {
    // cached quality manifest: this query references it twice (bucket
    // counts + the join back), so without the cache the regex/stopword
    // scoring scan would run twice
    val docs = LlmOps.qualityTable(s, dir)
      .withColumn("qb", round(col("quality"), 4))
      .select(col("doc_id"), col("source"), col("quality"), col("qb"))
    val buckets = docs.groupBy(col("source"), col("qb"))
      .agg(count(lit(1)).as("cnt"))
    val bySource = Window.partitionBy(col("source")).orderBy(col("qb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = buckets
      .withColumn("cum", sum(col("cnt")).over(bySource))
      .withColumn("total", sum(col("cnt"))
        .over(Window.partitionBy(col("source"))))
      .select(col("source"), col("qb"),
        round(col("cum").cast("double") / col("total"), 6).as("q_norm"))
    docs.join(cdf, Seq("source", "qb"))
      .select(col("doc_id"), col("source"),
        round(col("quality"), 6).as("quality"), col("q_norm"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q91 — funnel conversion (view → click → purchase)
  // ---------------------------------------------------------------

  /** q91: ordered funnel — per user, the first view, the first click
    * AT OR AFTER that view, and the first purchase at or after that
    * click (stage order enforced, not just presence). The product
    * analytics staple over event streams.
    *
    * Three user-keyed min-aggregations chained by equi-joins, all
    * co-partitioned on user_id — one shuffle key throughout, every
    * aggregation map-side combinable, no windows, no per-user sorts.
    * Each stage's input is pre-filtered to one event_type before its
    * shuffle, so stage N moves only the rows that survived stage N-1.
    */
  val q91Funnel: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val users = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") >= col("first_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") >= col("first_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        col("first_view"), col("first_click"), col("first_purchase"),
        col("first_purchase").isNotNull.cast("bigint").as("converted"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // q92 — rolling event-time features (range frame)
  // ---------------------------------------------------------------

  /** q92: rolling 1-hour features per event — for every event, the
    * count and exact sum of the same user's STRICTLY PRECEDING events
    * within the last hour (the leakage-safe feature shape for training:
    * the frame excludes the current instant, so a model scored at t
    * sees only information available before t).
    *
    * A RANGE frame over unix-microseconds inside per-user partitions —
    * one shuffle on user_id, per-user sorted frames, no corpus-wide
    * sort. The sum is decimal-exact (order-independent), so the result
    * is reproducible under any partitioning; a float sum over a
    * reordered frame would not be. Same-microsecond peers fall outside
    * the [-1h, -1µs] frame for each other symmetrically, keeping the
    * result independent of tie order.
    */
  val q92RollingFeatures: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc)
      .rangeBetween(-3600000000L, -1L)
    t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("n_prev_1h", count(lit(1)).over(w))
      .withColumn("sum_prev_1h",
        coalesce(sum(dec(col("value"))).over(w).cast("double"), lit(0.0)))
      .select(col("event_id"), col("user_id"), col("n_prev_1h"),
        col("sum_prev_1h"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------
  // q101 — rolling engagement (DAU / WAU / stickiness)
  // ---------------------------------------------------------------

  /** q101: rolling engagement — per day: distinct active users (DAU),
    * distinct users active in the trailing 7 days (WAU), and the
    * DAU/WAU stickiness ratio. The product-health staple over event
    * streams.
    *
    * Scale shape: the corpus collapses to DISTINCT (user, day) pairs
    * first (map-side combinable — the raw event stream dies in the
    * scan), and the sliding window is an EXPLODE of each active day
    * onto the ≤ 7 report days it supports, re-counted per day — the
    * standard exact rolling-distinct shape (a naive per-day
    * `COUNT(DISTINCT) OVER RANGE` re-scans the window; sliding
    * distinct doesn't compose incrementally without a sketch). Days
    * ride as integers (days since epoch) so the offset arithmetic is
    * identical on both engines.
    */
  val q101Engagement: Q = (s, dir) => {
    val ud = t(s, dir, "events")
      .select(col("user_id"), datediff(to_date(col("ts")), lit("1970-01-01")).as("dd"))
      .distinct()
    val dau = ud.groupBy(col("dd")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(expr("sequence(dd, dd + 6)")).as("dd"))
      .distinct()
      .groupBy(col("dd")).agg(count(lit(1)).as("wau_7d"))
    dau.join(wau, Seq("dd"))
      .select(date_add(lit("1970-01-01").cast("date"), col("dd").cast("int")).as("day"),
        col("dau"), col("wau_7d"),
        round(col("dau").cast("double") / col("wau_7d"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------
  // q102 — referential-integrity audit
  // ---------------------------------------------------------------

  /** q102: star-schema integrity audit — per declared relationship:
    * child row count, violation count, violation ratio. FK violations
    * are orphaned child rows (left-anti against the parent's key);
    * uniqueness violations are excess rows beyond distinct keys
    * (`count(*) − count(DISTINCT key)` — nonzero here: the fixture
    * lineitem intentionally carries duplicate (orderkey, linenumber)
    * pairs). The dbt-test shape run AT the warehouse's scale: each
    * anti-join is an equi-join Catalyst plans as broadcast when the
    * parent is dimension-sized, and every branch prunes to its key
    * columns at the scan.
    */
  val q102IntegrityAudit: Q = (s, dir) => {
    // n_rows and n_violations fold in ONE pass over the child: a LEFT
    // join against the DISTINCT parent key emits exactly one row per
    // child row (so count(*) is still the child count) with a null pk
    // marking the orphan — the old shape scanned the child twice (an
    // anti-join count plus a separate row count) and cross-joined the
    // two 1-row aggregates back together. Same shuffle bytes at any
    // scale (both forms move only the key columns), one child scan and
    // two jobs fewer per declared relationship.
    def fk(child: DataFrame, childRel: String, ck: String,
        parent: DataFrame, pk: String, label: String): DataFrame =
      child.select(col(ck))
        .join(parent.select(col(pk)).distinct(), col(ck) === col(pk), "left")
        // coalesce: sum over an EMPTY child is NULL where the old
        // anti-join count returned 0 — keep the 0-on-empty behavior
        // (ADVICE r17 low)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col(pk).isNull.cast("bigint")), lit(0L)).as("n_violations"))
        .select(lit(childRel).as("rel"), lit(label).as("test"),
          col("n_rows"), col("n_violations"),
          round(col("n_violations").cast("double") / col("n_rows"), 6).as("ratio"))
    def unique(child: DataFrame, childRel: String, keyExpr: Column,
        label: String): DataFrame =
      child.agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(keyExpr)).as("n_violations"))
        .select(lit(childRel).as("rel"), lit(label).as("test"),
          col("n_rows"), col("n_violations"),
          round(col("n_violations").cast("double") / col("n_rows"), 6).as("ratio"))
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    fk(li, "lineitem", "l_orderkey", o, "o_orderkey", "fk_orders")
      .unionAll(fk(li, "lineitem", "l_partkey", t(s, dir, "part"), "p_partkey", "fk_part"))
      .unionAll(fk(li, "lineitem", "l_suppkey", t(s, dir, "supplier"), "s_suppkey", "fk_supplier"))
      .unionAll(fk(o, "orders", "o_custkey", t(s, dir, "customer"), "c_custkey", "fk_customer"))
      .unionAll(unique(li, "lineitem",
        concat_ws(":", col("l_orderkey"), col("l_linenumber")), "unique_pk"))
      .unionAll(unique(o, "orders", col("o_orderkey"), "unique_pk"))
      .orderBy(col("rel"), col("test"))
  }

  // ---------------------------------------------------------------
  // q103 — column profiler
  // ---------------------------------------------------------------

  /** q103: table profiling — per column: rows, nulls, exact distinct
    * count, and (numeric columns) min/max/decimal-exact mean. The
    * input side of schema drift detection and NULL-rate alerts; at
    * 100 TB each branch prunes the scan to ONE column and the
    * aggregations are all map-side combinable (exact distinct is the
    * one shuffle, keyed on the profiled column itself).
    */
  val q103ColumnProfile: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    def num(c: String): DataFrame =
      li.agg(count(lit(1)).as("n_rows"),
        sum(col(c).isNull.cast("bigint")).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("double").as("min_v"),
        max(col(c)).cast("double").as("max_v"),
        round(sum(col(c).cast(DecimalType(18, 6))).cast("double") /
          count(col(c)), 6).as("mean_v"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_v"), col("max_v"), col("mean_v"))
    def str(c: String): DataFrame =
      li.agg(count(lit(1)).as("n_rows"),
        sum(col(c).isNull.cast("bigint")).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), lit(null).cast("double").as("min_v"),
          lit(null).cast("double").as("max_v"),
          lit(null).cast("double").as("mean_v"))
    num("l_quantity")
      .unionAll(num("l_extendedprice"))
      .unionAll(num("l_discount"))
      .unionAll(num("l_tax"))
      .unionAll(str("l_returnflag"))
      .unionAll(str("l_linestatus"))
      .orderBy(col("column"))
  }

  // ---------------------------------------------------------------
  // q152 — population-stability drift between snapshots
  // ---------------------------------------------------------------

  /** q152: distribution drift between two corpus snapshots via the
    * population stability index — the standard production drift alarm
    * (PSI = Σ (p_new − p_old)·ln(p_new/p_old) per column), completing
    * the monitoring trio: q103 profiles ONE snapshot, q140 watches the
    * embedding space, this watches tabular distributions ACROSS
    * snapshots (q87's old/new membership derivation). Columns: lang
    * and source as categorical buckets, n_chars in fixed 500-wide
    * bins. One row per (column, bucket) with both counts, shares, and
    * the PSI contribution, plus the column-level PSI total.
    *
    * Determinism: shares are exact long-count ratios; each PSI term is
    * rounded to 6 dp BEFORE the column total, and the total sums the
    * rounded terms as DECIMAL(18,6) — float accumulation order can
    * never flip the output, so the oracle value-checks the totals
    * (window-sum ordering over doubles would be partition-order
    * dependent). The 1e-6 clamp is the standard PSI smoothing for
    * buckets present in only one snapshot.
    *
    * Scale shape: ONE pass — membership flags are row-local arithmetic
    * on doc_id, the 3-way explode carries (column, bucket, two 0/1
    * flags) only, and the single aggregation is map-side combinable on
    * (column, bucket); the per-column totals window partitions on the
    * bounded bucket domain, never the corpus.
    */
  val q152ProfileDrift: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val exploded = docs.select(
        (col("doc_id") % 13 =!= 5).cast("bigint").as("in_old"),
        (col("doc_id") % 11 =!= 7).cast("bigint").as("in_new"),
        explode(array(
          struct(lit("lang").as("c"), col("lang").as("b")),
          struct(lit("source").as("c"), col("source").as("b")),
          struct(lit("n_chars").as("c"),
            concat(lit("b"), expr("(n_chars div 500) * 500")).as("b")))).as("cb"))
      .select(col("cb.c").as("column"), col("cb.b").as("bucket"),
        col("in_old"), col("in_new"))
    val counts = exploded.groupBy(col("column"), col("bucket"))
      .agg(sum(col("in_old")).as("n_old"), sum(col("in_new")).as("n_new"))
    val w = Window.partitionBy("column")
    counts
      .withColumn("p_old", greatest(
        col("n_old").cast("double") / sum(col("n_old")).over(w), lit(1e-6)))
      .withColumn("p_new", greatest(
        col("n_new").cast("double") / sum(col("n_new")).over(w), lit(1e-6)))
      .withColumn("psi_term", round(
        (col("p_new") - col("p_old")) * log(col("p_new") / col("p_old")), 6))
      .select(col("column"), col("bucket"), col("n_old"), col("n_new"),
        round(col("p_old"), 6).as("p_old"),
        round(col("p_new"), 6).as("p_new"),
        col("psi_term"),
        sum(col("psi_term").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("column_psi"))
      .orderBy(col("column"), col("bucket"))
  }

  // ---------------------------------------------------------------
  // q106 — incremental aggregate maintenance (CDC-driven view refresh)
  // ---------------------------------------------------------------

  /** q106: incremental materialized-view maintenance — refresh the
    * per-language (n_docs, total_tokens) aggregate from yesterday's
    * stored aggregate plus ONLY the delta documents, never rescanning
    * the unchanged corpus. The q87 CDC classification drives which
    * rows contribute: added docs add their new counts, deleted docs
    * subtract their old counts, changed docs apply the difference.
    *
    * The CORRECTNESS claim is the oracle itself: the query computes
    * the refreshed aggregate incrementally, the oracle computes it
    * directly from the new snapshot — a hash match proves incremental
    * == full recompute exactly (counts are integers, so there is no
    * float-drift escape hatch).
    *
    * Scale shape: at 100 TB the old aggregate is a stored
    * strata-sized table and the delta side is the day's changed docs;
    * tokenization runs ONLY over delta rows (here the delta text scan
    * is pruned by the manifest classification before any `tok` work),
    * and every aggregation is map-side combinable on `lang`.
    */
  val q106IncrementalAgg: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    def ntok(c: Column): Column =
      size(split(trim(lower(c)), "\\s+")).cast("long")
    // Existence flags reuse q87's modular membership — no manifest
    // join needed for the fixture derivation.
    val inOld = col("doc_id") % 13 =!= 5
    val inNew = col("doc_id") % 11 =!= 7
    val changed = col("doc_id") % 7 === 0
    val isDelta =
      (inOld && !inNew) || (!inOld && inNew) || (inOld && inNew && changed)
    // Stored aggregate AND delta contributions fold in ONE scan + ONE
    // map-side-combinable aggregation on lang: each row contributes its
    // old-snapshot counts (the q87 derivation of "yesterday's stored
    // aggregate") and, when it is a delta row, its signed refresh
    // terms, all as row-local conditional arithmetic. The old
    // two-branch form scanned and tokenized the corpus twice (the old
    // side's ntok ran under both branches for changed docs) and paid a
    // second shuffle plus a full-outer join to recombine — per-lang
    // sums of row-local terms commute with the union, so the fused
    // totals are value-identical, and a lang only ever seen by deleted
    // docs still drops via the n_docs > 0 edge filter.
    docs
      .filter(inOld || isDelta)
      .select(col("lang"),
        when(inOld, 1L).otherwise(0L).as("o_docs"),
        when(inOld, ntok(col("text"))).otherwise(0L).as("o_toks"),
        when(isDelta,
          when(!inOld && inNew, 1L).when(inOld && !inNew, -1L).otherwise(0L))
          .otherwise(0L).as("d_docs"),
        when(isDelta,
          when(inNew, ntok(when(changed, concat(col("text"), lit(" rev2")))
              .otherwise(col("text")))).otherwise(0L)
            - when(inOld, ntok(col("text"))).otherwise(0L))
          .otherwise(0L).as("d_toks"))
      .groupBy(col("lang"))
      .agg((sum(col("o_docs")) + sum(col("d_docs"))).as("n_docs"),
        (sum(col("o_toks")) + sum(col("d_toks"))).as("total_tokens"))
      // a lang whose documents were ALL deleted refreshes to zero and
      // leaves the aggregate — the full recompute has no such group,
      // and "incremental == full" must hold on that edge too
      .filter(col("n_docs") > 0)
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // q107 — zone-map statistics + predicate skip estimate
  // ---------------------------------------------------------------

  /** Zone width (docs per zone) and the sample predicate's threshold
    * for the skip estimate.
    */
  val ZoneDocs = 64L
  val ZoneTokenPredicate = 40L

  /** q107: data-skipping zone maps — per zone (file-sized doc_id
    * range): row count, min/max token length, distinct languages, and
    * whether the sample predicate `n_tokens >= 40` could skip the
    * zone entirely (max below the threshold). The stats-collection
    * pass behind lakehouse file pruning: the zone map is ~corpus/64
    * rows, and a query planner consults IT instead of the data — the
    * skip flag here is exactly the file-elimination decision.
    *
    * One map-side-combinable aggregation keyed on the zone id; no
    * joins, no windows.
    */
  val q107ZoneMap: Q = (s, dir) => {
    t(s, dir, "documents")
      .select((col("doc_id") / ZoneDocs).cast("long").as("zone"),
        expr(s"cast(size(split(trim(lower(text)), '\\\\s+')) as bigint)").as("nt"),
        col("lang"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("nt")).as("min_tokens"), max(col("nt")).as("max_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("skippable",
        (col("max_tokens") < ZoneTokenPredicate).cast("bigint"))
      .orderBy(col("zone"))
  }

  // ---------------------------------------------------------------
  // q170 — Z-order layout vs linear sort (multi-dim data skipping)
  // ---------------------------------------------------------------

  /** q170 grid: 64 zones per layout — linear = 64 key stripes, z-order
    * = an 8×8 tile grid (3 interleaved bits per dimension).
    */
  val ZorderZones = 64

  /** q170: Z-ORDER (Morton-curve) layout vs single-key sort, measured
    * through the zone maps q107 builds — the experiment behind every
    * lakehouse `OPTIMIZE ZORDER BY`: a table laid out by one key prunes
    * predicates on THAT key and nothing else; interleaving the bits of
    * two keys (user, day) gives every zone a bounded range in BOTH
    * dimensions, so single-dim AND conjunctive predicates all prune.
    *
    * Both layouts are value-derived (zone = integer function of the
    * row, the q107/q133 discipline) rather than rank-derived, so zone
    * assignment is map-side arithmetic — no global sort, no
    * single-task window — and the whole query is two hash
    * aggregations: one builds both layouts' zone maps (≤2·64 groups),
    * one counts each predicate's true matches for the selectivity
    * column. Scanned-zone math happens ON the zone maps (≤128 rows
    * crossed with 3 predicate rows).
    *
    * The three predicates are derived from the data's own domain in
    * integer arithmetic (mirrored exactly by the oracle): a user
    * stripe [udom/4, udom/4 + udom/8), a day stripe [ddom/4,
    * ddom/4 + ddom/8), and their conjunction. Expected (and
    * oracle-checked) shape: linear prunes the user stripe as well as
    * z-order does, scans EVERYTHING for the day stripe (its zones all
    * span the full day range), and z-order prunes the conjunction
    * roughly quadratically better — rows_scanned per (layout,
    * predicate) makes the IO difference concrete.
    */
  val q170ZorderLayout: Q = (s, dir) => {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    // 1-row domain frame, localCheckpoint'ed: four consumers (both
    // layout branches, the predicate bounds, the selectivity pass)
    // reference it without re-planning the min/max scan
    val dom = ev.agg(
      (max(col("user_id")) + 1).cast("long").as("udom"),
      min(col("d")).as("d0"),
      (datediff(max(col("d")), min(col("d"))) + 1).cast("long").as("ddom"))
      .materialize()
    val rows = ev.crossJoin(broadcast(dom))
      .select(col("user_id"), col("udom"), col("ddom"),
        datediff(col("d"), col("d0")).cast("long").as("day"))
    // BOTH layouts' zone ids are map-side arithmetic over the same
    // row, so ONE scan computes them and explodes into the two
    // (layout, zone) coordinates — not a self-union re-reading events
    val zmap = rows
      .withColumn("su", expr("(user_id * 8) div udom"))
      .withColumn("sd", expr("(day * 8) div ddom"))
      .select(col("user_id"), col("day"), explode(array(
        struct(lit("linear").as("layout"),
          expr(s"(user_id * $ZorderZones) div udom").as("zone")),
        struct(lit("zorder").as("layout"), expr(
          "(shiftright(su, 2) & 1) * 32 + (shiftright(sd, 2) & 1) * 16 + " +
            "(shiftright(su, 1) & 1) * 8 + (shiftright(sd, 1) & 1) * 4 + " +
            "(su & 1) * 2 + (sd & 1)").as("zone")))).as("lz"))
      .select(col("lz.layout").as("layout"), col("lz.zone").as("zone"),
        col("user_id"), col("day"))
      .groupBy(col("layout"), col("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("zu0"), max(col("user_id")).as("zu1"),
        min(col("day")).as("zd0"), max(col("day")).as("zd1"))
    // predicate bounds from the domain (integer math, oracle-mirrored)
    val preds = s.sql(
      "SELECT * FROM VALUES ('user', 1, 0), ('day', 0, 1), ('both', 1, 1)" +
        " AS t(pred, fu, fd)")
      .crossJoin(broadcast(dom))
      .select(col("pred"), col("fu"), col("fd"),
        expr("udom div 4").as("ulo"),
        expr("udom div 4 + udom div 8 - 1").as("uhi"),
        expr("ddom div 4").as("dlo"),
        expr("ddom div 4 + ddom div 8 - 1").as("dhi"))
    val scanned = zmap.crossJoin(broadcast(preds))
      .withColumn("scan",
        ((col("fu") === 0) || (col("zu1") >= col("ulo") &&
          col("zu0") <= col("uhi"))) &&
        ((col("fd") === 0) || (col("zd1") >= col("dlo") &&
          col("zd0") <= col("dhi"))))
      .groupBy(col("layout"), col("pred"))
      .agg(count(lit(1)).as("zones_total"),
        coalesce(sum(col("scan").cast("long")), lit(0L)).as("zones_scanned"),
        coalesce(sum(when(col("scan"), col("n_rows"))), lit(0L))
          .cast("long").as("rows_scanned"))
    // true selectivity of each predicate: one conditional-count pass
    val matched = rows.crossJoin(broadcast(preds.filter(col("pred") === "both")
        .select(col("ulo"), col("uhi"), col("dlo"), col("dhi"))))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("user_id").between(col("ulo"), col("uhi")), 1))
          .as("m_user"),
        count(when(col("day").between(col("dlo"), col("dhi")), 1))
          .as("m_day"),
        count(when(col("user_id").between(col("ulo"), col("uhi")) &&
          col("day").between(col("dlo"), col("dhi")), 1)).as("m_both"))
    val matchRows = matched.selectExpr("n_total",
      "stack(3, 'user', m_user, 'day', m_day, 'both', m_both)" +
        " AS (pred, rows_matched)")
    scanned.join(broadcast(matchRows), Seq("pred"))
      .select(col("layout"), col("pred"), col("zones_total"),
        col("zones_scanned"), col("rows_scanned"), col("rows_matched"),
        round(lit(1.0) - col("rows_scanned").cast("double") /
          col("n_total").cast("double"), 6).as("skip_ratio"))
      .orderBy(col("layout"), col("pred"))
  }

  // ---------------------------------------------------------------
  // q173 — range-partition planner (sampled boundaries + balance)
  // ---------------------------------------------------------------

  /** q173 target partition count and sample size. 512 sample rows give
    * ~64 per boundary gap — the ~n/p² sampling regime Spark's own
    * RangePartitioner targets.
    */
  val RangeParts = 8
  val RangeSampleK = 512

  /** q173: RANGE-PARTITION PLANNING — the decision behind every global
    * sort, sorted write, and `repartitionByRange` at 100 TB: pick p−1
    * split keys from a SAMPLE so that the full shuffle lands balanced,
    * without ever sorting the full data to find exact quantiles.
    * Spark's RangePartitioner does this with reservoir samples
    * (nondeterministic across runs); this planner replaces the
    * reservoir with the [[graft.functions.KmvSample]] bottom-k over a
    * row-unique hash — the SAME uniform sample every run, on every
    * engine, under any partitioning — so the chosen boundaries (and
    * therefore the physical layout they produce) are reproducible and
    * oracle-checkable.
    *
    * The emitted plan is one row per target partition: its boundary
    * window (in exact cents — no float anywhere in the planning path),
    * the TRUE row count the assignment produces, and the balance ratio
    * against ideal n/p. The oracle recomputes the sample (bottom-512
    * by the same hash), the rank-derived boundaries, and the full
    * assignment from raw rows — the planner's output is value-checked,
    * not just bounded; PipelineOpsSpec additionally pins the balance
    * property the sample-size choice is supposed to buy (every
    * partition within 2× of ideal).
    *
    * Scale shape: the sample is ONE map-side-combinable aggregate (k
    * (hash, cents) pairs of state per task — never a corpus-scale
    * sort, the exact failure q153 replaced); boundaries are array
    * arithmetic on the 512-value result; the assignment pass is a
    * broadcast of 7 cents values + a map-side `size(filter(...))`
    * count-aggregation keyed by the p partition ids.
    */
  val q173RangePlanner: Q = (s, dir) => {
    rangePlan(t(s, dir, "orders").select(
      col("o_orderkey"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v")))
  }

  /** The q173 planning core over an explicit (o_orderkey, v) frame —
    * factored out so PipelineOpsSpec can drive the degenerate inputs
    * (an EMPTY table, a sub-sample-size table) the fixtures never
    * produce and pin that the plan stays valid rather than erroring
    * (the ADVICE r10/r11 guard pair).
    */
  private[graft] def rangePlan(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    val p = RangeParts
    val k = RangeSampleK
    val keyed = rows.select(
      expr(LlmOps.hashS("concat('rp:', CAST(o_orderkey AS STRING))")).as("h"),
      col("v"))
    val sample = keyed
      .agg(graft.functions.KmvSample
        .kmv_sample(struct(col("h"), col("v")), k).as("sk"))
      .select(col("sk"), size(col("sk")).cast("long").as("n_sample"))
    // p−1 equi-depth boundaries at sample ranks j·k/p (sk is sorted).
    // The rank is clamped to [1, n_sample] (ADVICE r10): on a table
    // with fewer than k rows the sample under-fills, and an unclamped
    // j·k/p would index past the array — NULL boundaries silently (or
    // an error under ANSI mode). Clamped, an under-filled sample
    // degrades to repeated boundaries (fewer, coarser partitions) —
    // the correct planner behavior for a tiny table — instead of a
    // broken plan. The n_sample = 0 case is guarded separately
    // (ADVICE r11): the clamp-to-1 would index an EMPTY sample array,
    // so an empty input emits an empty boundary list instead — every
    // row (there are none, but the PLAN must stay valid under ANSI)
    // lands in pid 0, the clean single-partition degenerate. All
    // current fixtures fill the sample (orders ≥ 1500 rows), so both
    // guards are latent robustness, value-neutral today.
    val bnds = sample.select(col("n_sample"),
      expr(s"CASE WHEN n_sample > 0 THEN transform(sequence(1, ${p - 1}), " +
          s"j -> element_at(sk, CAST(greatest(1, least(j * ($k div $p), n_sample)) AS INT))) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END")
        .as("bl"))
    val asg = rows.crossJoin(broadcast(bnds))
      .select(col("v"), col("n_sample"), col("bl"),
        expr("size(filter(bl, b -> v > b))").cast("long").as("pid"))
    asg.groupBy(col("pid"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("n_sample")).as("n_sample"),
        max(col("bl")).as("bl"))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("n_total"))))
      .select(col("pid"),
        when(col("pid") > 0, expr("element_at(bl, CAST(pid AS INT))"))
          .as("lo_cents"),
        when(col("pid") < p - 1, expr("element_at(bl, CAST(pid AS INT) + 1)"))
          .as("hi_cents"),
        col("n_rows"), col("n_total"), col("n_sample"),
        round(col("n_rows").cast("double") * p / col("n_total").cast("double"),
          6).as("balance_ratio"))
      .orderBy(col("pid"))
  }

  // ---------------------------------------------------------------
  // q133 — compaction plan (small-file bin packing)
  // ---------------------------------------------------------------

  /** Compaction groups target this many bytes of text (fixture-scaled
    * stand-in for a 256 MB file target).
    */
  val CompactTargetBytes = 100000L

  /** q133: small-file compaction plan — the maintenance pass every
    * lakehouse table needs: q107's zone/file stats roll up into merge
    * groups of ~[[CompactTargetBytes]] by a running-sum assignment
    * (`group = cumulative_bytes_before div target`), keeping files in
    * id order so each group is a CONTIGUOUS range (contiguity is what
    * lets the rewritten file carry its zone map forward without
    * re-sorting). The plan is computed entirely over the file-stats
    * table (corpus/64 rows): one aggregation builds the stats, one
    * running-sum window over that small table assigns groups — the
    * corpus itself is never rewritten here, exactly like a real
    * OPTIMIZE planner that emits a job list. Oversized single files
    * land alone in their own group (they need splitting, not merging)
    * and are flagged.
    */
  val q133CompactionPlan: Q = (s, dir) => {
    val files = t(s, dir, "documents")
      .select((col("doc_id") / ZoneDocs).cast("long").as("file_id"),
        col("n_chars"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    files
      .withColumn("grp",
        expr(s"(sum(bytes) over (order by file_id rows between unbounded preceding and current row) - bytes) div $CompactTargetBytes"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("total_bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .withColumn("oversized",
        (col("n_files") === 1 && col("total_bytes") > CompactTargetBytes)
          .cast("int"))
      .orderBy(col("grp"))
  }

  // ---------------------------------------------------------------
  // q109 — pivot (long → wide)
  // ---------------------------------------------------------------

  /** Event-type domain for the q109 pivot — EXPLICIT so the pivot is
    * one pass (without the value list, `pivot()` runs a distinct scan
    * first to discover the domain — a full extra corpus pass at
    * 100 TB) and so the output schema is pinned for the oracle.
    */
  val PivotEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q109: pivot — per-user event counts, one column per event type
    * plus the total. The long→wide reshaping step feature pipelines
    * run before model joins. One map-side-combinable aggregation; the
    * pivot is columnar bookkeeping on top of the same shuffle a plain
    * groupBy would do.
    */
  val q109Pivot: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val wide = e
      .groupBy(col("user_id"))
      .pivot("event_type", PivotEventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotEventTypes)
    // total counts ALL events, not just the pinned pivot domain — an
    // event type missing from PivotEventTypes must surface as
    // total > Σ(pinned columns), not vanish silently. Both aggregates
    // shuffle on user_id, so the join is co-partitioned.
    val totals = e.groupBy(col("user_id")).agg(count(lit(1)).as("total"))
    wide.join(totals, Seq("user_id"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // q110 — time-grid linear interpolation
  // ---------------------------------------------------------------

  /** q110: resample each user's event values onto the hourly grid by
    * LINEAR INTERPOLATION between the bracketing events (NULL outside
    * the user's observed range) — the feature-alignment step that
    * turns irregular event streams into fixed-step model inputs; q14's
    * fill-forward is the step-function variant, this is the continuous
    * one.
    *
    * Shape (interval form): same-instant events pre-average
    * (decimal-exact), then ONE lead() window over the EVENT table
    * turns each user's stream into [event, next-event) intervals, and
    * every interval emits exactly the grid instants it covers via
    * sequence() — the bracketing (value, time) pairs ride along, so
    * grid rows are BORN bracketed. The windows therefore sort only the
    * events (≈N rows), never events+grid (the earlier union form paid
    * two full sorts — one per direction — over the ~10× larger union;
    * measured warm 2.5 s → 2.0 s at sf0.1, where the remaining cost is
    * the mandatory final global sort of the grid-sized output — the
    * window cost itself is now grid-independent, which is what matters
    * when the grid is dense or the stream is 100×). Grid points before a
    * user's first event emit directly from the per-user min — their
    * interpolation is NULL by definition, no bracketing needed.
    * Semantics are value-identical to the union form: a grid instant
    * exactly on an event falls in that event's own interval (pu = us ⇒
    * the event's value, even at the range end), points past the last
    * event carry a null next-bracket ⇒ NULL, and the arithmetic is the
    * same double expression, so the oracle is unchanged.
    */
  val q110Interpolate: Q = (s, dir) => {
    val hourUs = 3600000000L
    // ev materializes ONCE (lazy checkpoint — no extra job): its THREE
    // consumers (the interval window, the grid-range aggregate feeding
    // two broadcast cross joins, and the per-user first-event branch)
    // otherwise each replay the scan + same-instant pre-average — the
    // initial plan carried FOUR event scans. Stats loss is harmless
    // here: every downstream join is an explicit broadcast() of a
    // 1-row aggregate.
    val ev = t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .groupBy(col("user_id"), col("us"))
      .agg((sum(dec(col("value"))).cast("double") / count(lit(1))).as("v"))
      .materialize(false)
    val range = ev.agg(
      ((min(col("us")) / hourUs).cast("long") * hourUs).as("g0"),
      ((max(col("us")) / hourUs).cast("long") * hourUs).as("g1"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc)
    // [us, nu) intervals; the last event's interval runs to the grid end
    // (inclusive — nu stays NULL to mark the open bracket)
    val iv = ev
      .withColumn("nu", lead(col("us"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .crossJoin(broadcast(range))
      // grid slots s with us ≤ s < nu (s ≤ g1 for the open last interval)
      .withColumn("s0", ((col("us") + hourUs - 1) / hourUs).cast("long") * hourUs)
      .withColumn("s1", when(col("nu").isNull, col("g1"))
        .otherwise(((col("nu") - 1) / hourUs).cast("long") * hourUs))
      .filter(col("s0") <= col("s1"))
      .select(col("user_id"), col("v").as("pv"), col("us").as("pu"),
        col("nv"), col("nu"),
        explode(expr(s"sequence(s0, s1, $hourUs)")).as("us"))
    val bracketed = iv.withColumn("interp",
      when(col("pu") === col("us"), round(col("pv"), 6))
        .otherwise(round(col("pv") + (col("nv") - col("pv")) *
          ((col("us") - col("pu")).cast("double") / (col("nu") - col("pu"))), 6)))
      .select(col("user_id"), col("us"), col("interp"))
    // grid instants before the user's first event: NULL by definition
    val preFirst = ev.groupBy(col("user_id")).agg(min(col("us")).as("fu"))
      .crossJoin(broadcast(range))
      .withColumn("s1", ((col("fu") - 1) / hourUs).cast("long") * hourUs)
      .filter(col("g0") <= col("s1"))
      .select(col("user_id"),
        explode(expr(s"sequence(g0, s1, $hourUs)")).as("us"),
        lit(null).cast("double").as("interp"))
    bracketed.unionAll(preFirst)
      .select(col("user_id"),
        timestamp_micros(col("us")).as("grid_ts"), col("interp"))
      .orderBy(col("user_id"), col("grid_ts"))
  }

  // ---------------------------------------------------------------
  // q120 — winsorization (outlier clamping at exact percentiles)
  // ---------------------------------------------------------------

  /** q120: winsorize event values at the exact p05/p95 — the
    * feature-cleaning step before training on heavy-tailed measures
    * (clamping beats dropping: the row survives, the outlier's
    * leverage doesn't).
    *
    * The percentiles are EXACT via the q36 rank-select: per-value
    * counts first (map-side combinable — the window then sees the
    * DISTINCT 2-dp value domain, bounded whatever the corpus size,
    * never the row stream), cutoffs broadcast back as a 1-row
    * aggregate, and the clamp is a narrow map over the scan. pN =
    * smallest value whose cumulative count reaches ceil(N·n) —
    * percentile_disc semantics, identical on both engines.
    */
  val q120Winsorize: Q = (s, dir) => {
    val e = t(s, dir, "events").select(col("event_id"), col("value"))
    val counts = e.groupBy(col("value")).agg(count(lit(1)).as("c"))
    val nRow = counts.agg(sum(col("c")).as("n"))
    // global ordering over the bounded DISTINCT domain (the warning
    // case a row-level global window would be — q36's note applies)
    val cuts = counts
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("value").asc)))
      .crossJoin(broadcast(nRow))
      .agg(
        min(when(col("cum") >= ceil(col("n") * 0.05), col("value"))).as("p05"),
        min(when(col("cum") >= ceil(col("n") * 0.95), col("value"))).as("p95"))
    e.crossJoin(broadcast(cuts))
      .select(col("event_id"), col("value"),
        greatest(col("p05"), least(col("p95"), col("value"))).as("winsorized"),
        (col("value") < col("p05") || col("value") > col("p95"))
          .cast("bigint").as("clipped"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------
  // q135 — sampled quantile estimation + exact verify
  // ---------------------------------------------------------------

  /** Hash-sample rate (percent) for q135's estimator. */
  val QuantileSamplePct = 10L

  /** q135: quantile estimation by deterministic hash sampling, audited
    * against the exact answer — the third sketch-verify pattern next
    * to q95 (Misra-Gries) and q123 (Count-Min): a uniform sample
    * selected by `stable_hash64(row key) % 100 < pct` is a pure
    * function of the DATA (no RNG state, identical on any engine /
    * partitioning / run), so the estimate is reproducible AND the
    * audit can hash-compare it. Exact and sampled quantiles both ride
    * the q36/q120 rank-select: per-value counts (map-side combine),
    * cumulative window over the bounded distinct 2-dp domain, smallest
    * value reaching ceil(q·n). At 100 TB the exact pass is the
    * expensive one — the audit tells you when the 10% sample (or 0.1%
    * at real scale) is close enough to stop running it.
    */
  val q135SampledQuantiles: Q = (s, dir) => {
    // integer-only sample key: a double rendered into a concat would
    // hostage the hash to each engine's float formatting
    val base = t(s, dir, "lineitem").select(
      col("l_extendedprice").as("x"),
      expr(s"""stable_hash64(concat('qs:', l_orderkey, ':', l_linenumber,
        ':', cast(round(l_extendedprice * 100) as bigint))) % 100
        < $QuantileSamplePct""").as("in_sample"))
    // ONE pass serves both estimators: per-value counts carry an
    // all-rows count AND a sampled-rows count, the single cumulative
    // window (same ordering ⇒ one sort, one WindowExec) accumulates
    // both, and one final aggregate selects all six rank cutoffs. The
    // old two-branch form re-planned the lineitem scan, the per-value
    // shuffle, and the cumulative window once per branch (the sample
    // filter sits below the aggregation, so no exchange is reusable).
    // Equivalence: the sampled branch's candidate set gains the
    // c_smp = 0 value rows, but their cumulative count equals the
    // previous SAMPLED value's (the running sum only advances at
    // sampled values), so the first value reaching each cutoff — the
    // min the aggregate takes — is unchanged.
    val counts = base.groupBy(col("x")).agg(
      count(lit(1)).as("c"),
      sum(col("in_sample").cast("bigint")).as("cs"))
    val nRow = counts.agg(sum(col("c")).as("n"), sum(col("cs")).as("ns"))
    val cum = counts
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("x").asc)))
      .withColumn("cums", sum(col("cs")).over(Window.orderBy(col("x").asc)))
      .crossJoin(broadcast(nRow))
    val both = cum.agg(
      min(when(col("cum") >= ceil(col("n") * 0.5), col("x"))).as("e50"),
      min(when(col("cum") >= ceil(col("n") * 0.9), col("x"))).as("e90"),
      min(when(col("cum") >= ceil(col("n") * 0.99), col("x"))).as("e99"),
      min(when(col("cums") >= ceil(col("ns") * 0.5), col("x"))).as("p50"),
      min(when(col("cums") >= ceil(col("ns") * 0.9), col("x"))).as("p90"),
      min(when(col("cums") >= ceil(col("ns") * 0.99), col("x"))).as("p99"))
    both
      .selectExpr(
        """stack(3,
          |  'p50', e50, p50,
          |  'p90', e90, p90,
          |  'p99', e99, p99) as (q, exact_q, est_q)""".stripMargin)
      .withColumn("abs_err", round(abs(col("est_q") - col("exact_q")), 6))
      .withColumn("rel_err",
        round(abs(col("est_q") - col("exact_q")) / col("exact_q"), 6))
      .orderBy(col("q"))
  }

  // ---------------------------------------------------------------
  // q214/q215 — deterministic corpus MIXTURE (down- and up-sampling)
  // ---------------------------------------------------------------

  /** Per-source sampling rate in basis points of 10000, derived
    * deterministically from the source NAME (2500 + hash mod 5001 →
    * [0.25, 0.75]) so the mixture needs no config table and replays
    * bit-identically in the oracle. A production pipeline feeds real
    * mixture weights here; everything downstream is unchanged.
    */
  private def rateBpSql(src: String): String =
    s"2500 + pmod(${LlmOps.hashS(s"concat('rate:', $src)")}, 5001)"

  /** q214: DETERMINISTIC DOWN-SAMPLING to a per-source mixture — the
    * LLM data-mixing primitive: each document keeps or drops by
    * comparing a content hash against its source's rate, so the
    * sample is a pure function of (doc_id, source) — reproducible
    * across runs, engines, partitionings, and retries, which `rand()`
    * sampling never is (a retried task would re-draw, and a training
    * run could not be rebuilt byte-identically). Scale shape: the
    * keep-decision is a map-side filter (no shuffle, no per-source
    * state); only the per-source AUDIT aggregate shuffles — at 100 TB
    * the mixture costs one scan. Output: per source, the configured
    * rate, totals, kept counts, and the realized rate — the oracle
    * replays the hash threshold exactly.
    */
  val q214CorpusMixture: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("rate_bp", expr(rateBpSql("source")))
      .withColumn("keep",
        expr(s"pmod(${LlmOps.hashS("concat('mix:', CAST(doc_id AS STRING))")}, 10000)")
          < col("rate_bp"))
    docs.groupBy(col("source"))
      .agg(max(col("rate_bp")).cast("long").as("rate_bp"),
        count(lit(1)).as("n_total"),
        sum(col("keep").cast("long")).as("n_kept"))
      .withColumn("realized_bp", expr("n_kept * 10000 div n_total"))
      .orderBy(col("source"))
  }

  /** q215: DETERMINISTIC UP-SAMPLING (repetition) — the other half of
    * mixture weighting: a source with rate r > 1 emits ⌊r⌋ copies of
    * every document plus one more for the hash-selected fractional
    * share (r = 1 + bp/10000 here, bp reusing the q214 derivation, so
    * every source lands in (1, 2)×). Copies carry a replica index —
    * the downstream shuffle/pack stages must see distinct rows, not a
    * weight column. Emission is a map-side `explode(sequence(...))`:
    * no shuffle, no state, reproducible like q214 (the training-mix
    * property: re-running the pipeline yields the same epochs of the
    * same documents). Output audits per source: totals, emitted rows,
    * realized multiplier.
    */
  val q215CorpusUpsample: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("frac_bp", expr(rateBpSql("source")))
      .withColumn("extra",
        (expr(s"pmod(${LlmOps.hashS("concat('rep:', CAST(doc_id AS STRING))")}, 10000)")
          < col("frac_bp")).cast("int"))
      .withColumn("replica", explode(expr("sequence(0, extra)")))
    docs.groupBy(col("source"))
      .agg(max(col("frac_bp")).cast("long").as("frac_bp"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_emitted"))
      .withColumn("realized_x1000", expr("n_emitted * 1000 div n_docs"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    "q214_corpus_mixture" -> q214CorpusMixture,
    "q215_corpus_upsample" -> q215CorpusUpsample,
    "q120_winsorize" -> q120Winsorize,
    "q109_pivot" -> q109Pivot,
    "q110_interpolate" -> q110Interpolate,
    "q106_incremental_agg" -> q106IncrementalAgg,
    "q107_zone_map" -> q107ZoneMap,
    "q170_zorder_layout" -> q170ZorderLayout,
    "q173_range_planner" -> q173RangePlanner,
    "q133_compaction_plan" -> q133CompactionPlan,
    "q135_sampled_quantiles" -> q135SampledQuantiles,
    "q87_snapshot_delta" -> q87SnapshotDelta,
    "q139_snapshot_merge" -> q139SnapshotMerge,
    "q88_dataset_split" -> q88DatasetSplit,
    "q89_scd2_history" -> q89Scd2History,
    "q90_quantile_norm" -> q90QuantileNorm,
    "q91_funnel" -> q91Funnel,
    "q92_rolling_features" -> q92RollingFeatures,
    "q101_engagement" -> q101Engagement,
    "q102_integrity_audit" -> q102IntegrityAudit,
    "q103_column_profile" -> q103ColumnProfile,
    "q152_profile_drift" -> q152ProfileDrift)

  // ---- DuckDB oracle dialect fragments ----

  private def hashD(x: String): String =
    s"(('0x' || substring(md5($x),1,15))::BIGINT)"

  /** The shared quality-score CTE (ONE formula definition — see
    * LlmOps.qualityOracleCteD), carrying `source` through.
    */
  private val qualityCteD = LlmOps.qualityOracleCteD("qual", Seq("source"))

  val oracles: Map[String, String] = Map(
    "q214_corpus_mixture" -> {
      val rate = s"2500 + (${LlmOps.hashD("'rate:' || source")} % 5001)"
      val mix = s"${LlmOps.hashD("'mix:' || doc_id::VARCHAR")} % 10000"
      s"""SELECT source, CAST(max(rate_bp) AS BIGINT) AS rate_bp,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS realized_bp
         |FROM (SELECT source, $rate AS rate_bp,
         |    ($mix) < ($rate) AS keep
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "q215_corpus_upsample" -> {
      val rate = s"2500 + (${LlmOps.hashD("'rate:' || source")} % 5001)"
      val rep = s"${LlmOps.hashD("'rep:' || doc_id::VARCHAR")} % 10000"
      s"""SELECT source, CAST(max(frac_bp) AS BIGINT) AS frac_bp,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(1 + extra) AS BIGINT) AS n_emitted,
         |  CAST(sum(1 + extra) * 1000 // count(DISTINCT doc_id) AS BIGINT)
         |    AS realized_x1000
         |FROM (SELECT source, doc_id, $rate AS frac_bp,
         |    CASE WHEN ($rep) < ($rate) THEN 1 ELSE 0 END AS extra
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "q120_winsorize" ->
      """WITH c AS (SELECT value, count(*) AS c FROM events GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
        |cum AS (SELECT value, sum(c) OVER (ORDER BY value) AS cum FROM c),
        |cuts AS (
        |  SELECT min(CASE WHEN cum >= ceil(n.n * 0.05) THEN value END) AS p05,
        |         min(CASE WHEN cum >= ceil(n.n * 0.95) THEN value END) AS p95
        |  FROM cum, n)
        |SELECT e.event_id, e.value,
        |  greatest(cuts.p05, least(cuts.p95, e.value)) AS winsorized,
        |  CAST(e.value < cuts.p05 OR e.value > cuts.p95 AS BIGINT) AS clipped
        |FROM events e, cuts ORDER BY event_id""".stripMargin,
    "q109_pivot" ->
      // total is count(*) — deliberately NOT the sum of the pinned
      // columns, so an event type outside the pivot domain surfaces as
      // total > Σ(columns) on both engines alike
      s"""SELECT user_id,
        |${PivotEventTypes.map(t =>
             s"  CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t")
             .mkString(",\n")},
        |  count(*) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q110_interpolate" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS v
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT (min(us) // 3600000000) * 3600000000 AS g0,
        |             (max(us) // 3600000000) * 3600000000 AS g1 FROM ev),
        |grid AS (
        |  SELECT u.user_id, unnest(range(r.g0, r.g1 + 1, 3600000000)) AS us,
        |    1 AS is_grid
        |  FROM (SELECT DISTINCT user_id FROM ev) u, r),
        |un AS (
        |  SELECT user_id, us, v, 0 AS is_grid FROM ev
        |  UNION ALL
        |  SELECT user_id, us, NULL, is_grid FROM grid),
        |w AS (
        |  SELECT *,
        |    last_value(v IGNORE NULLS) OVER back AS pv,
        |    last_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS) OVER back AS pu,
        |    first_value(v IGNORE NULLS) OVER fwd AS nv,
        |    first_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS) OVER fwd AS nu
        |  FROM un
        |  WINDOW back AS (PARTITION BY user_id ORDER BY us, is_grid
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fwd AS (PARTITION BY user_id ORDER BY us, is_grid
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, make_timestamp(us) AS grid_ts,
        |  CASE WHEN pu = us THEN round(pv, 6)
        |       ELSE round(pv + (nv - pv) * (CAST(us - pu AS DOUBLE) / (nu - pu)), 6)
        |  END AS interp
        |FROM w WHERE is_grid = 1
        |ORDER BY user_id, grid_ts""".stripMargin,
    "q106_incremental_agg" ->
      // the oracle is the FULL recompute over the new snapshot — a
      // hash match proves the incremental refresh is exact
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(
        |    text || (CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END))), '\s+')))
        |    AS BIGINT) AS total_tokens
        |FROM documents WHERE doc_id % 11 != 7
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q135_sampled_quantiles" ->
      s"""WITH b AS (
        |  SELECT l_extendedprice AS x,
        |    (${hashD("'qs:' || l_orderkey || ':' || l_linenumber || ':' || CAST(round(l_extendedprice * 100) AS BIGINT)")} % 100)
        |      < $QuantileSamplePct AS in_sample
        |  FROM lineitem),
        |ce AS (SELECT x, count(*) AS c FROM b GROUP BY x),
        |cume AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum FROM ce),
        |ne AS (SELECT count(*) AS n FROM b),
        |cs AS (SELECT x, count(*) AS c FROM b WHERE in_sample GROUP BY x),
        |cums AS (SELECT x, sum(c) OVER (ORDER BY x) AS cum FROM cs),
        |ns AS (SELECT count(*) AS n FROM b WHERE in_sample),
        |qv(q, p) AS (SELECT * FROM (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99))),
        |r AS (
        |  SELECT q,
        |    (SELECT min(x) FROM cume, ne WHERE cum >= ceil(n * p)) AS exact_q,
        |    (SELECT min(x) FROM cums, ns WHERE cum >= ceil(n * p)) AS est_q
        |  FROM qv)
        |SELECT q, exact_q, est_q,
        |  round(abs(est_q - exact_q), 6) AS abs_err,
        |  round(abs(est_q - exact_q) / exact_q, 6) AS rel_err
        |FROM r ORDER BY q""".stripMargin,
    "q133_compaction_plan" ->
      s"""WITH f AS (
        |  SELECT doc_id // $ZoneDocs AS file_id, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |g AS (
        |  SELECT *, CAST((sum(bytes) OVER (ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
        |    // $CompactTargetBytes AS BIGINT) AS grp
        |  FROM f)
        |SELECT grp, count(*) AS n_files, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  min(file_id) AS first_file, max(file_id) AS last_file,
        |  CASE WHEN count(*) = 1 AND sum(bytes) > $CompactTargetBytes
        |    THEN 1 ELSE 0 END AS oversized
        |FROM g GROUP BY grp ORDER BY grp""".stripMargin,
    "q107_zone_map" ->
      s"""SELECT zone, count(*) AS n_docs,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(max(nt) < $ZoneTokenPredicate AS BIGINT) AS skippable
        |FROM (
        |  SELECT doc_id // $ZoneDocs AS zone, lang,
        |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS nt
        |  FROM documents)
        |GROUP BY zone ORDER BY zone""".stripMargin,
    // q170: zone assignment, predicate bounds, and the scan decision
    // are all integer arithmetic mirrored term by term; `//` operates
    // on BIGINT operands throughout (ORACLE_DIALECT rule 4)
    "q170_zorder_layout" ->
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |dom AS (SELECT CAST(max(user_id) + 1 AS BIGINT) AS udom, min(d) AS d0,
        |        CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS ddom
        |        FROM ev),
        |rws AS (SELECT user_id, udom, ddom,
        |        CAST(date_diff('day', d0, d) AS BIGINT) AS day FROM ev, dom),
        |lin AS (SELECT 'linear' AS layout, (user_id * $ZorderZones) // udom
        |          AS zone, user_id, day FROM rws),
        |zor AS (SELECT 'zorder' AS layout,
        |        (((su >> 2) & 1) * 32 + ((sd >> 2) & 1) * 16 +
        |         ((su >> 1) & 1) * 8 + ((sd >> 1) & 1) * 4 +
        |         (su & 1) * 2 + (sd & 1)) AS zone, user_id, day
        |        FROM (SELECT user_id, day, (user_id * 8) // udom AS su,
        |              (day * 8) // ddom AS sd FROM rws)),
        |zmap AS (SELECT layout, zone, count(*) AS n_rows,
        |         min(user_id) AS zu0, max(user_id) AS zu1,
        |         min(day) AS zd0, max(day) AS zd1
        |         FROM (SELECT * FROM lin UNION ALL SELECT * FROM zor)
        |         GROUP BY 1, 2),
        |preds AS (SELECT pred, fu, fd,
        |          udom // 4 AS ulo, udom // 4 + udom // 8 - 1 AS uhi,
        |          ddom // 4 AS dlo, ddom // 4 + ddom // 8 - 1 AS dhi
        |          FROM (VALUES ('user', 1, 0), ('day', 0, 1), ('both', 1, 1))
        |            AS t(pred, fu, fd), dom),
        |sc AS (SELECT layout, pred,
        |       CAST(count(*) AS BIGINT) AS zones_total,
        |       CAST(coalesce(sum(CASE WHEN scan THEN 1 ELSE 0 END), 0)
        |         AS BIGINT) AS zones_scanned,
        |       CAST(coalesce(sum(CASE WHEN scan THEN n_rows END), 0)
        |         AS BIGINT) AS rows_scanned
        |       FROM (SELECT layout, pred, n_rows,
        |             ((fu = 0) OR (zu1 >= ulo AND zu0 <= uhi)) AND
        |             ((fd = 0) OR (zd1 >= dlo AND zd0 <= dhi)) AS scan
        |             FROM zmap, preds) GROUP BY 1, 2),
        |mt AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(CASE WHEN user_id BETWEEN ulo AND uhi THEN 1 END)
        |         AS BIGINT) AS m_user,
        |       CAST(count(CASE WHEN day BETWEEN dlo AND dhi THEN 1 END)
        |         AS BIGINT) AS m_day,
        |       CAST(count(CASE WHEN user_id BETWEEN ulo AND uhi
        |         AND day BETWEEN dlo AND dhi THEN 1 END) AS BIGINT) AS m_both
        |       FROM rws, (SELECT ulo, uhi, dlo, dhi FROM preds
        |                  WHERE pred = 'both')),
        |mr AS (SELECT 'user' AS pred, m_user AS rows_matched, n_total FROM mt
        |       UNION ALL SELECT 'day', m_day, n_total FROM mt
        |       UNION ALL SELECT 'both', m_both, n_total FROM mt)
        |SELECT layout, pred, zones_total, zones_scanned, rows_scanned,
        |  rows_matched,
        |  round(1.0 - CAST(rows_scanned AS DOUBLE) / CAST(n_total AS DOUBLE),
        |    6) AS skip_ratio
        |FROM sc JOIN mr USING (pred)
        |ORDER BY layout, pred""".stripMargin,
    // q173: the oracle recomputes the bottom-512 sample under the same
    // row hash, the rank-derived boundaries, and the full assignment —
    // all in exact cents
    "q173_range_planner" -> {
      val h = LlmOps.hashD("'rp:' || CAST(o_orderkey AS VARCHAR)")
      val gap = RangeSampleK / RangeParts
      s"""WITH r AS (SELECT o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |hh AS (SELECT v, $h AS h FROM r),
        |sk AS (SELECT v FROM hh ORDER BY h, v LIMIT $RangeSampleK),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM sk),
        |ska AS (SELECT list(v ORDER BY v) AS ss, count(*) AS n FROM sk),
        |b AS (SELECT CASE WHEN n > 0 THEN list_transform(range(1, $RangeParts),
        |        j -> ss[CAST(greatest(1, least(j * $gap, n)) AS INT)])
        |        ELSE CAST([] AS BIGINT[]) END AS bl
        |      FROM ska),
        |asg AS (SELECT r.v,
        |        CAST(len(list_filter(b.bl, x -> r.v > x)) AS BIGINT) AS pid
        |        FROM r, b),
        |cnt AS (SELECT pid, CAST(count(*) AS BIGINT) AS n_rows
        |        FROM asg GROUP BY pid),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM r)
        |SELECT pid,
        |  CASE WHEN pid > 0 THEN bl[CAST(pid AS INT)] END AS lo_cents,
        |  CASE WHEN pid < ${RangeParts - 1} THEN bl[CAST(pid AS INT) + 1] END
        |    AS hi_cents,
        |  n_rows, nt.n_total, ns.n_sample,
        |  round(CAST(n_rows AS DOUBLE) * $RangeParts
        |    / CAST(nt.n_total AS DOUBLE), 6) AS balance_ratio
        |FROM cnt, b, nt, ns ORDER BY pid""".stripMargin
    },
    "q87_snapshot_delta" ->
      s"""WITH old AS (
        |  SELECT doc_id, ${hashD("text")} AS old_hash
        |  FROM documents WHERE doc_id % 13 != 5),
        |neu AS (
        |  SELECT doc_id,
        |    ${hashD("text || (CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END)")} AS new_hash
        |  FROM documents WHERE doc_id % 11 != 7)
        |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
        |  CASE WHEN old.doc_id IS NULL THEN 'added'
        |       WHEN neu.doc_id IS NULL THEN 'deleted'
        |       WHEN old_hash != new_hash THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(old_hash, -1) AS old_hash,
        |  coalesce(new_hash, -1) AS new_hash
        |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q139_snapshot_merge" ->
      // the new snapshot's manifest recomputed DIRECTLY (no merge
      // mechanics): hash-matching the engine's old+delta merge against
      // this proves incremental apply == full rebuild
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 5 THEN 'inserted'
        |       WHEN doc_id % 7 = 0 THEN 'updated'
        |       ELSE 'kept' END AS op_applied,
        |  ${hashD("text || (CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END)")} AS text_hash
        |FROM documents WHERE doc_id % 11 != 7
        |ORDER BY doc_id""".stripMargin,
    "q88_dataset_split" ->
      s"""SELECT doc_id,
        |  CASE WHEN ${hashD("'split:' || doc_id")} % 100 < 96 THEN 'train'
        |       WHEN ${hashD("'split:' || doc_id")} % 100 < 98 THEN 'val'
        |       ELSE 'test' END AS split,
        |  ${hashD("'ord:' || doc_id")} % 64 AS shard,
        |  ${hashD("'ord:' || doc_id")} AS ord_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q89_scd2_history" ->
      """SELECT user_id, event_id, event_type, value,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    AS BIGINT) AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q90_quantile_norm" ->
      s"""WITH $qualityCteD,
        |d AS (SELECT doc_id, source, quality, round(quality, 4) AS qb FROM qual),
        |b AS (SELECT source, qb, count(*) AS cnt FROM d GROUP BY 1, 2),
        |cdf AS (
        |  SELECT source, qb,
        |    round(CAST(sum(cnt) OVER (PARTITION BY source ORDER BY qb
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / sum(cnt) OVER (PARTITION BY source), 6) AS q_norm
        |  FROM b)
        |SELECT d.doc_id, d.source, round(d.quality, 6) AS quality, cdf.q_norm
        |FROM d JOIN cdf ON d.source = cdf.source AND d.qb = cdf.qb
        |ORDER BY d.doc_id""".stripMargin,
    "q91_funnel" ->
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |v AS (SELECT user_id, min(ts) AS first_view FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS first_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.first_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS first_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.first_click GROUP BY 1)
        |SELECT u.user_id, u.n_events, v.first_view, c.first_click, p.first_purchase,
        |  CAST(p.first_purchase IS NOT NULL AS BIGINT) AS converted
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |ORDER BY u.user_id""".stripMargin,
    "q92_rolling_features" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_prev_1h,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE), 0.0)
        |    AS sum_prev_1h
        |FROM (SELECT *, epoch_us(ts) AS us FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q101_engagement" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dd
        |  FROM events),
        |dau AS (SELECT dd, count(*) AS dau FROM ud GROUP BY 1),
        |w AS (
        |  SELECT DISTINCT user_id, dd + r.i AS dd
        |  FROM ud, LATERAL unnest(range(0, 7)) AS r(i)),
        |wau AS (SELECT dd, count(*) AS wau_7d FROM w GROUP BY 1)
        |SELECT DATE '1970-01-01' + CAST(dau.dd AS INT) AS day,
        |  dau.dau, wau.wau_7d,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau_7d, 4) AS stickiness
        |FROM dau JOIN wau USING (dd)
        |ORDER BY day""".stripMargin,
    "q102_integrity_audit" ->
      """WITH
        |f1 AS (SELECT 'lineitem' AS rel, 'fk_orders' AS test,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |     ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS n_violations),
        |f2 AS (SELECT 'lineitem', 'fk_part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |     ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL)),
        |f3 AS (SELECT 'lineitem', 'fk_supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
        |     ON l.l_suppkey = s.s_suppkey WHERE s.s_suppkey IS NULL)),
        |f4 AS (SELECT 'orders', 'fk_customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o LEFT JOIN customer c
        |     ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)),
        |u1 AS (SELECT 'lineitem', 'unique_pk', count(*),
        |  count(*) - count(DISTINCT l_orderkey || ':' || l_linenumber)
        |  FROM lineitem),
        |u2 AS (SELECT 'orders', 'unique_pk', count(*),
        |  count(*) - count(DISTINCT o_orderkey) FROM orders),
        |allr AS (
        |  SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
        |  SELECT * FROM f3 UNION ALL SELECT * FROM f4 UNION ALL
        |  SELECT * FROM u1 UNION ALL SELECT * FROM u2)
        |SELECT rel, test, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  round(CAST(n_violations AS DOUBLE) / n_rows, 6) AS ratio
        |FROM allr ORDER BY rel, test""".stripMargin,
    "q103_column_profile" ->
      (Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |  CAST(sum(CAST($c IS NULL AS BIGINT)) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v,
           |  round(CAST(sum(CAST($c AS DECIMAL(18,6))) AS DOUBLE) / count($c), 6) AS mean_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nUNION ALL\n") +
        Seq("l_returnflag", "l_linestatus").map { c =>
          s"""SELECT '$c', count(*),
             |  CAST(sum(CAST($c IS NULL AS BIGINT)) AS BIGINT),
             |  count(DISTINCT $c),
             |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
             |FROM lineitem""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")),
    "q152_profile_drift" ->
      s"""WITH f AS (SELECT lang, source, n_chars,
        |         CAST(doc_id % 13 != 5 AS BIGINT) AS in_old,
        |         CAST(doc_id % 11 != 7 AS BIGINT) AS in_new
        |       FROM documents),
        |e AS (
        |  SELECT 'lang' AS col_name, lang AS bucket, in_old, in_new FROM f
        |  UNION ALL
        |  SELECT 'source', source, in_old, in_new FROM f
        |  UNION ALL
        |  SELECT 'n_chars', 'b' || CAST((n_chars // 500) * 500 AS VARCHAR),
        |    in_old, in_new FROM f),
        |c AS (SELECT col_name, bucket, CAST(sum(in_old) AS BIGINT) AS n_old,
        |        CAST(sum(in_new) AS BIGINT) AS n_new
        |      FROM e GROUP BY 1, 2),
        |p AS (SELECT *,
        |        greatest(CAST(n_old AS DOUBLE) /
        |          sum(n_old) OVER (PARTITION BY col_name), 1e-6) AS p_old,
        |        greatest(CAST(n_new AS DOUBLE) /
        |          sum(n_new) OVER (PARTITION BY col_name), 1e-6) AS p_new
        |      FROM c),
        |t AS (SELECT *,
        |        round((p_new - p_old) * ln(p_new / p_old), 6) AS psi_term
        |      FROM p)
        |SELECT col_name AS "column", bucket, n_old, n_new,
        |  round(p_old, 6) AS p_old, round(p_new, 6) AS p_new, psi_term,
        |  CAST(sum(CAST(psi_term AS DECIMAL(18, 6)))
        |    OVER (PARTITION BY col_name) AS DOUBLE) AS column_psi
        |FROM t ORDER BY "column", bucket""".stripMargin)
}
