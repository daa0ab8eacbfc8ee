package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Engine

/** Product/corpus analytics a training-data platform runs alongside the
  * curation pipeline — cohort retention, session transition structure,
  * experiment readouts, shard audit manifests, freshness-decayed
  * engagement, code-vs-prose screening, RFM customer segmentation, and
  * the k-anonymity privacy audit.
  *
  * Determinism discipline (same as StatsOps): group keys and counts are
  * exact integers; every ratio is ONE final double expression over
  * integer/decimal sufficient statistics, rounded to 6 places before it
  * is emitted or ordered on. Time arithmetic stays in whole days /
  * integer weeks (`datediff` + truncating division) so no float ever
  * enters a key. Decay weights are powers of two (0.5^k), which scale a
  * double's exponent without touching its mantissa — the one
  * multiplication in q128 is exact.
  */
object AnalyticsOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  /** Fixture epoch (first event day) — cohort/decay weeks count from here. */
  val CohortEpoch = "2024-01-01"

  /** As-of date for freshness decay (day after the last fixture event). */
  val DecayAsOf = "2024-01-31"

  /** Audit-manifest shard count (mirrors a real manifest's file fanout). */
  val NumShards = 8

  /** Checksum modulus 2^40: per-row folded hashes sum exactly in BIGINT
    * for corpora up to 2^23 rows per shard.
    */
  val ChecksumMod: Long = 1L << 40

  /** q124: docs with at least this code-char density are flagged. */
  val CodeScoreThreshold = 0.02

  // ---------------------------------------------------------------
  // q121 — weekly retention cohorts
  // ---------------------------------------------------------------

  /** q121: classic cohort-retention triangle over `events` — users are
    * cohorted by the week of their first event; each (cohort, week
    * offset) cell counts the cohort members active that week.
    *
    * Scale shape: ONE distinct over (user_id, week) — a map-side
    * combinable shuffle keyed by user — then everything downstream
    * (first-week min, cohort sizes, the triangle itself) aggregates the
    * per-user-week table, which is ≤ users × weeks rows, orders of
    * magnitude smaller than the event log. The cohort-size join is a
    * broadcast (weeks-many rows).
    */
  val q121RetentionCohorts: Q = (s, dir) => {
    val act = t(s, dir, "events")
      .select(col("user_id"),
        expr(s"datediff(to_date(ts), date'$CohortEpoch') div 7").as("wk"))
      .distinct()
    val coh = act.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val sizes = coh.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    act.join(coh, Seq("user_id"))
      .withColumn("week_offset", col("wk") - col("cohort"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  // ---------------------------------------------------------------
  // q122 — session Markov transitions
  // ---------------------------------------------------------------

  /** q122: first-order Markov transition matrix of event types WITHIN
    * sessions (30-min-gap sessionization, same rule as q30/q115) —
    * P(next=dst | cur=src) with transition counts. The per-row chain is
    * built with lag/lead windows partitioned by user, so the event log
    * shuffles once by user_id and every window reuses that partitioning;
    * the transition matrix itself is |types|² rows.
    */
  val q122MarkovTransitions: Q = (s, dir) => {
    val e = StatsOps.sessionized(t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts"))))
    val bySession = Window.partitionBy(col("user_id"), col("session"))
      .orderBy(col("us").asc, col("event_id").asc)
    val trans = e
      .withColumn("dst", lead(col("event_type"), 1).over(bySession))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("p",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("src"))), 6))
      .orderBy(col("src"), col("dst"))
  }

  // ---------------------------------------------------------------
  // q124 — code-vs-prose screening
  // ---------------------------------------------------------------

  /** q124: code-character density screen over `documents` — the cheap
    * map-side classifier a text pipeline runs to route code-looking
    * documents away from the prose dedup/quality path. Counts are
    * length deltas against single-char `replace` (exact on both
    * engines, no regex dialect to reconcile); the score is one double
    * division per row. Narrow map-only plan — scales linearly.
    */
  val q124CodeDetect: Q = (s, dir) => {
    // single-char count as a length delta against non-regex replace —
    // exact on both engines, no regex dialect to reconcile
    def cnt(ch: String) =
      expr(s"length(text) - length(replace(text, '$ch', ''))")
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        (cnt("{") + cnt("}")).as("n_brace"),
        cnt(";").as("n_semi"),
        cnt("=").as("n_eq"),
        (cnt("(") + cnt(")")).as("n_paren"))
      .withColumn("code_score",
        round((col("n_brace") * 3 + col("n_semi") * 2 + col("n_eq") +
          col("n_paren")).cast("double") / greatest(col("n_chars"), lit(1)), 6))
      .withColumn("is_code",
        (col("code_score") >= CodeScoreThreshold).cast("int"))
      .drop("n_chars")
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q125 — shard audit manifest
  // ---------------------------------------------------------------

  /** q125: the audit manifest a shard writer publishes next to its
    * output — per (hash-assigned) shard: row count, an
    * order-independent content checksum (sum of per-row folded hashes —
    * commutative, so any partitioning/merge order produces the same
    * value), id range, language cardinality, byte mass. Verifying a
    * 100 TB copy then means comparing 8 manifest rows, not re-reading
    * the corpus. Single map-side-combinable aggregation.
    */
  val q125ShardManifest: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("shard", expr(s"stable_hash64(cast(doc_id as string)) % $NumShards"))
      .withColumn("rh", expr(s"stable_hash64(text) % $ChecksumMod"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("rh")).as("checksum"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("shard"))
  }

  // ---------------------------------------------------------------
  // q126 — A/B experiment readout
  // ---------------------------------------------------------------

  /** q126: two-arm experiment readout — users hash-split into arms
    * (deterministic assignment, the same stable_hash64 the splitter
    * q88 uses), conversion = "ever purchased", plus the pooled
    * two-proportion z statistic carried on both rows. The event log
    * collapses to one row per user before anything else, so the
    * z-arithmetic runs over a 2-row aggregate; the per-user collapse is
    * the only real shuffle.
    */
  val q126AbTest: Q = (s, dir) => {
    val u = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("int")).as("conv"))
      .withColumn("arm", expr("stable_hash64(cast(user_id as string)) % 2"))
    val arms = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val pooled = arms.agg(
      sum(col("n_users")).as("tu"), sum(col("n_conv")).as("tc"),
      sum(when(col("arm") === 0, col("n_conv"))).as("c0"),
      sum(when(col("arm") === 0, col("n_users"))).as("u0"),
      sum(when(col("arm") === 1, col("n_conv"))).as("c1"),
      sum(when(col("arm") === 1, col("n_users"))).as("u1"))
    val p = col("tc").cast("double") / col("tu")
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("u0") + lit(1.0) / col("u1")))
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_users"), col("n_conv"),
        round(col("n_conv").cast("double") / col("n_users"), 6).as("rate"),
        round(when(se =!= 0.0,
          (col("c1").cast("double") / col("u1") -
            col("c0").cast("double") / col("u0")) / se), 6).as("z"))
      .orderBy(col("arm"))
  }

  // ---------------------------------------------------------------
  // q128 — freshness-decayed engagement
  // ---------------------------------------------------------------

  /** q128: per-user engagement score with exponential freshness decay —
    * each event contributes value · 0.5^(age in whole weeks), the
    * standard recency weighting for ranking / sampling users (or
    * documents) by CURRENT activity rather than lifetime totals.
    *
    * Exactness: 0.5^k scales the double's exponent only, so
    * value · decay is exact; it is rounded to 6 places and summed in
    * decimal, making the aggregate order-independent under any
    * partitioning. Map-side combinable single aggregation.
    */
  val q128DecayedEngagement: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .withColumn("age_wk",
        expr(s"datediff(date'$DecayAsOf', to_date(ts)) div 7"))
      .withColumn("contrib",
        round(col("value") * pow(lit(0.5), col("age_wk")), 6)
          .cast(DecimalType(28, 8)))
    e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("contrib")).cast("double"), 6).as("score"))
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------------------------
  // q131 — RFM customer segmentation
  // ---------------------------------------------------------------

  /** q131: RFM (recency / frequency / monetary) segmentation over
    * `orders` — the classic customer-value grid, computed exactly:
    * per customer, days since last order (against the corpus's own
    * max date, so the query is reproducible on a frozen snapshot),
    * order count, and cents-exact lifetime spend; each dimension then
    * quintile-scores 1–5 by ntile over a FULLY tie-broken order
    * (value, then custkey — ntile on a partial order would be
    * partitioning-dependent). One shuffle keyed by customer builds
    * the per-customer table; the three ntiles ride one global sort
    * each over the customer-sized aggregate, not the order log.
    */
  val q131RfmSegments: Q = (s, dir) => {
    val o = t(s, dir, "orders")
    val asOf = o.agg(max(to_date(col("o_orderdate"))).as("as_of"))
    val per = o
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
      .crossJoin(broadcast(asOf))
      .select(col("o_custkey"),
        datediff(col("as_of"), col("last_d")).as("recency_days"),
        col("frequency"),
        // per-customer cents stay far under 2^53, so double division
        // is correctly rounded and engine-identical
        (col("cents").cast("double") / 100).as("monetary"))
    val r = ntile(5).over(Window.orderBy(col("recency_days").asc, col("o_custkey").asc))
    val f = ntile(5).over(Window.orderBy(col("frequency").desc, col("o_custkey").asc))
    val m = ntile(5).over(Window.orderBy(col("monetary").desc, col("o_custkey").asc))
    per.select(col("o_custkey"), col("recency_days"), col("frequency"),
      col("monetary"), r.as("r_score"), f.as("f_score"), m.as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy(col("o_custkey"))
  }

  // ---------------------------------------------------------------
  // q134 — k-anonymity audit
  // ---------------------------------------------------------------

  /** q134 reports anonymity at these k thresholds. */
  val AnonKs = Seq(2, 5, 10)

  /** q134: k-anonymity audit over the customer quasi-identifiers
    * (nation, market segment, account-balance band) — the privacy
    * screen run before releasing joined analytics extracts: a row is
    * at risk when its QI equivalence class holds fewer than k
    * records. One class-size aggregation (map-side combinable, the
    * class table is |QI-domain|-bounded); the per-k report rows are
    * conditional sums over that table — the corpus is scanned once
    * for all thresholds. Complements q83's content-level PII
    * redaction with the structural-reidentification side.
    */
  val q134KAnonymity: Q = (s, dir) => {
    val cls = t(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(floor(c_acctbal / 1000) as bigint)").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
    val reports = AnonKs.map { k =>
      cls.agg(
        lit(k).as("k"),
        count(lit(1)).as("n_classes"),
        sum((col("n") < k).cast("bigint")).as("n_violating_classes"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_rows_at_risk"),
        round(sum(when(col("n") < k, col("n")).otherwise(0L)).cast("double") /
          sum(col("n")), 6).as("risk_rate"))
    }
    reports.reduce(_ unionAll _).orderBy(col("k"))
  }

  // ---------------------------------------------------------------
  // q136 — session-length statistics
  // ---------------------------------------------------------------

  /** q136: session statistics by length bucket — sessions (30-min gap,
    * the q30/q115/q122 rule) roll up to one row each (duration, event
    * count, value mass), then summarize per length bucket: how many
    * sessions, how long they run, what they're worth. The engagement
    * report next to q122's transition structure. Durations are integer
    * micros and values sum in decimal, so every mean is one exact
    * division; the event log shuffles once by user, the session rollup
    * re-keys on (user, session), and the bucket summary is 4 rows.
    */
  val q136SessionStats: Q = (s, dir) => {
    val ses = StatsOps.sessionized(t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts"))))
      .groupBy(col("user_id"), col("session"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("dur_us"),
        sum(col("value").cast(DecimalType(18, 6))).as("val_sum"))
    ses
      .withColumn("bucket",
        when(col("n_events") === 1, "1")
          .when(col("n_events") <= 4, "2-4")
          .when(col("n_events") <= 9, "5-9")
          .otherwise("10+"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        round(sum(col("dur_us")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("avg_duration_sec"),
        round(sum(col("val_sum")).cast("double") / count(lit(1)), 6)
          .as("avg_session_value"))
      .orderBy(col("bucket"))
  }

  /** q143: each user contributes at most this many events. */
  val CapPerUser = 20

  /** q143: per-user contribution capping — the bounded-sensitivity
    * preparation step for privacy-aware aggregates (and the anti-whale
    * step for product metrics): every user keeps only their
    * [[CapPerUser]] most recent events (ties pinned by event_id), and
    * the per-type report shows raw vs capped volumes, the distinct
    * contributing users, the realized per-user maximum (≤ cap by
    * construction — the bound a DP noise calibration would use), and
    * the capped decimal-exact value mass. Without the cap one heavy
    * user dominates every aggregate; with it each user's influence on
    * any output row is provably bounded.
    *
    * Scale shape: the cap is ONE user-partitioned row_number whose
    * rank ≤ K filter folds to WindowGroupLimit (map-side K-heaps per
    * user — the event log is never fully sorted); the report
    * aggregates (event_type, user) partials first (map-side
    * combinable), then |types|-rows; the raw counts ride a separate
    * |types|-row aggregate joined back.
    */
  val q143ContributionCap: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val capped = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= CapPerUser)
    val raw = e.groupBy(col("event_type")).agg(count(lit(1)).as("n_raw"))
    capped.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_u"),
        sum(col("value").cast(DecimalType(18, 6))).as("v_u"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_u")).as("n_capped"),
        count(lit(1)).as("n_users"),
        max(col("n_u")).as("max_user_events"),
        round(sum(col("v_u")).cast("double"), 6).as("sum_value_capped"))
      .join(raw, Seq("event_type"))
      .select(col("event_type"), col("n_raw"), col("n_capped"),
        col("n_users"), col("max_user_events"), col("sum_value_capped"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------
  // q155 — conversion attribution (first-touch vs last-touch)
  // ---------------------------------------------------------------

  /** q155 conversion event and the touch types eligible for credit
    * ('error' events never earn attribution). */
  val AttribConversion = "purchase"
  val AttribTouches = Seq("click", "view", "signup")

  /** q155: marketing-style conversion attribution — for every purchase,
    * credit the FIRST and the LAST eligible touch (click/view/signup)
    * that preceded it IN THE SAME SESSION (the q115/q136 30-minute gap
    * sessionization, order pinned by (ts, event_id)); purchases with no
    * preceding touch credit 'direct'. Both models aggregate side by
    * side — one row per (model, touch_type) with conversion count and
    * decimal-exact attributed revenue — because the first/last-touch
    * DISAGREEMENT is the actual product question (which channels open
    * vs close journeys).
    *
    * Scale shape: the event log shuffles ONCE by user_id; the
    * sessionization lag window and both running first/last windows
    * reuse that partitioning (frames are session-bounded); the
    * two-model explode doubles only the |purchases| rows, and the
    * final aggregation is map-side combinable on the tiny (model,
    * touch) domain. Revenue sums as DECIMAL(18,6), rounded once at
    * output — the engine's float-parity discipline.
    */
  val q155Attribution: Q = (s, dir) => {
    val e = StatsOps.sessionized(t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts"))))
    val bySes = Window.partitionBy(col("user_id"), col("session"))
      .orderBy(col("us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin(AttribTouches: _*),
      col("event_type"))
    val attributed = e
      .withColumn("ft", first(touch, ignoreNulls = true).over(bySes))
      .withColumn("lt", last(touch, ignoreNulls = true).over(bySes))
      .filter(col("event_type") === AttribConversion)
      .select(col("value"),
        explode(array(
          struct(lit("first_touch").as("model"),
            coalesce(col("ft"), lit("direct")).as("touch_type")),
          struct(lit("last_touch").as("model"),
            coalesce(col("lt"), lit("direct")).as("touch_type")))).as("m"))
      .select(col("m.model").as("model"), col("m.touch_type").as("touch_type"),
        col("value"))
    attributed.groupBy(col("model"), col("touch_type"))
      .agg(count(lit(1)).as("n_conversions"),
        round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 6)
          .as("attributed_value"))
      .orderBy(col("model"), col("touch_type"))
  }

  // ---------------------------------------------------------------
  // q164 — Kaplan–Meier survival of user lifetimes
  // ---------------------------------------------------------------

  /** q164: right-censoring horizon — users whose last event falls
    * within this many HOURS of the observation edge are censored
    * (still active), not churned. Hours, not days: the fixture users
    * are hyper-active over a 30-day window (a 7-day horizon censors
    * every user at every SF), and 12 h yields churn events at all
    * three SFs (5 / 40 / 489 users).
    */
  val KmCensorHours = 12

  /** q164: Kaplan–Meier product-limit estimate of user lifetime — the
    * survival-analysis complement to q121's cohort retention: cohorts
    * answer "how many came back in week k", KM answers "what fraction
    * of accounts SURVIVE past t days" while handling the users still
    * active at the observation edge correctly (right-censoring —
    * counting them as churned is the classic retention-analysis bias).
    * Lifetime = days between a user's first and last event; a user is
    * churned iff their last event predates the corpus edge by more
    * than [[KmCensorHours]] hours. At each churn time t:
    * S(t) = Π_{t'≤t} (1 − d(t')/n(t')), with n = users still at risk.
    *
    * Determinism: d and n are exact integers; each factor is ONE
    * double division rounded to 6 dp; the running product is
    * exp(Σ ln factor) over the ascending-t cumulative window — both
    * engines sum the identical rounded doubles in the identical
    * (sorted) order — rounded to 6 dp on emit.
    *
    * Scale shape: one shuffle by user_id for the lifespan aggregate,
    * one by t_days for the per-day tallies; the cumulative windows run
    * over DISTINCT lifetime days — bounded by the observation span in
    * days, not corpus cardinality (whitelisted in ScaleAuditSpec with
    * that bound).
    */
  val q164Survival: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val mx = ev.agg(max(col("ts")).as("max_ts"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(mx))
      .select(
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .cast("long").as("t_days"),
        (col("last_ts") <= expr(s"max_ts - INTERVAL $KmCensorHours HOUR"))
          .cast("long").as("churned"))
    val byT = users.groupBy(col("t_days"))
      .agg(count(lit(1)).as("n_users"), sum(col("churned")).as("n_churn"))
    val tot = users.agg(count(lit(1)).as("n_total"))
    val wPrev = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("n_users")).over(wPrev), lit(0L)))
      .filter(col("n_churn") > 0)
      .withColumn("factor", round(
        lit(1.0) - col("n_churn").cast("double") / col("n_risk"), 6))
      // ln guarded by a 1e-12 floor ON BOTH SIDES: a factor of exactly 0
      // (every at-risk user churns at the final lifetime) is legal, and
      // Spark's log(0) returns NULL while DuckDB's ln(0) THROWS — the
      // floor makes both engines produce survival = 0.0 instead
      .withColumn("survival", round(
        exp(sum(log(greatest(col("factor"), lit(1e-12)))).over(wCum)), 6))
      .select(col("t_days"), col("n_risk"), col("n_churn"), col("factor"),
        col("survival"))
      .orderBy(col("t_days"))
  }

  val queries: Map[String, Q] = Map(
    "q164_survival" -> q164Survival,
    "q155_attribution" -> q155Attribution,
    "q143_contribution_cap" -> q143ContributionCap,
    "q136_session_stats" -> q136SessionStats,
    "q134_k_anonymity" -> q134KAnonymity,
    "q131_rfm_segments" -> q131RfmSegments,
    "q121_retention_cohorts" -> q121RetentionCohorts,
    "q122_markov_transitions" -> q122MarkovTransitions,
    "q124_code_detect" -> q124CodeDetect,
    "q125_shard_manifest" -> q125ShardManifest,
    "q126_ab_test" -> q126AbTest,
    "q128_decayed_engagement" -> q128DecayedEngagement)

  // ---- DuckDB oracle dialect ----

  private def hashD(x: String): String = LlmOps.hashD(x)

  val oracles: Map[String, String] = Map(
    "q164_survival" ->
      s"""WITH mx AS (SELECT max(ts) AS max_ts FROM events),
        |users AS (
        |  SELECT date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS t_days,
        |    CAST(max(ts) <= (SELECT max_ts FROM mx) - INTERVAL $KmCensorHours HOUR AS BIGINT) AS churned
        |  FROM events GROUP BY user_id),
        |by_t AS (
        |  SELECT t_days, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(churned) AS BIGINT) AS n_churn
        |  FROM users GROUP BY t_days),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM users),
        |risk AS (
        |  SELECT t_days, n_churn,
        |    t.n_total - coalesce(sum(n_users) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM by_t, tot t),
        |ev AS (
        |  SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_churn,
        |    round(1.0 - CAST(n_churn AS DOUBLE) / n_risk, 6) AS factor
        |  FROM risk WHERE n_churn > 0)
        |SELECT t_days, n_risk, n_churn, factor,
        |  round(exp(sum(ln(greatest(factor, 1e-12))) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
        |FROM ev ORDER BY t_days""".stripMargin,
    "q155_attribution" -> {
      val touches = AttribTouches.map(t => s"'$t'").mkString(", ")
      val touchCase = s"CASE WHEN event_type IN ($touches) THEN event_type END"
      s"""WITH ${StatsOps.sessionCteD("user_id, event_id, event_type, value")},
        |a AS (SELECT *,
        |    first_value($touchCase IGNORE NULLS) OVER wf AS ft,
        |    last_value($touchCase IGNORE NULLS) OVER wf AS lt
        |  FROM ses
        |  WINDOW wf AS (PARTITION BY user_id, session ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT value, coalesce(ft, 'direct') AS ft,
        |        coalesce(lt, 'direct') AS lt
        |      FROM a WHERE event_type = '$AttribConversion'),
        |u AS (SELECT 'first_touch' AS model, ft AS touch_type, value FROM p
        |      UNION ALL
        |      SELECT 'last_touch', lt, value FROM p)
        |SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conversions,
        |  round(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE), 6)
        |    AS attributed_value
        |FROM u GROUP BY 1, 2 ORDER BY model, touch_type""".stripMargin
    },
    "q143_contribution_cap" ->
      s"""WITH r AS (
        |  SELECT event_type, user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |raw AS (SELECT event_type, count(*) AS n_raw FROM events GROUP BY event_type),
        |pu AS (
        |  SELECT event_type, user_id, count(*) AS n_u,
        |    sum(CAST(value AS DECIMAL(18,6))) AS v_u
        |  FROM r WHERE rn <= $CapPerUser GROUP BY event_type, user_id)
        |SELECT p.event_type,
        |  CAST(raw.n_raw AS BIGINT) AS n_raw,
        |  CAST(sum(p.n_u) AS BIGINT) AS n_capped,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(max(p.n_u) AS BIGINT) AS max_user_events,
        |  round(CAST(sum(p.v_u) AS DOUBLE), 6) AS sum_value_capped
        |FROM pu p JOIN raw USING (event_type)
        |GROUP BY p.event_type, raw.n_raw
        |ORDER BY p.event_type""".stripMargin,
    "q136_session_stats" ->
      s"""WITH ${StatsOps.sessionCteD("user_id, event_id, value")},
        |sesagg AS (
        |  SELECT user_id, session, count(*) AS n_events,
        |    max(us) - min(us) AS dur_us,
        |    sum(CAST(value AS DECIMAL(18,6))) AS val_sum
        |  FROM ses GROUP BY user_id, session),
        |b AS (
        |  SELECT CASE WHEN n_events = 1 THEN '1'
        |    WHEN n_events <= 4 THEN '2-4'
        |    WHEN n_events <= 9 THEN '5-9'
        |    ELSE '10+' END AS bucket, *
        |  FROM sesagg)
        |SELECT bucket, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  round(CAST(sum(dur_us) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    AS avg_duration_sec,
        |  round(CAST(sum(val_sum) AS DOUBLE) / count(*), 6)
        |    AS avg_session_value
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q134_k_anonymity" -> {
      val branches = AnonKs.map(k =>
        s"""SELECT $k AS k, count(*) AS n_classes,
           |  CAST(sum(CASE WHEN n < $k THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_classes,
           |  CAST(sum(CASE WHEN n < $k THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           |  round(CAST(sum(CASE WHEN n < $k THEN n ELSE 0 END) AS DOUBLE)
           |    / sum(n), 6) AS risk_rate
           |FROM cls""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |$branches
        |ORDER BY k""".stripMargin
    },
    "q131_rfm_segments" ->
      s"""WITH lastday AS (SELECT max(CAST(o_orderdate AS DATE)) AS as_of FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      (SELECT as_of FROM lastday)) AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
        |      AS monetary
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT *,
        |    ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
        |    ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
        |    ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
        |  FROM per)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin,
    "q121_retention_cohorts" ->
      s"""WITH act AS (
        |  SELECT DISTINCT user_id,
        |    date_diff('day', DATE '$CohortEpoch', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort FROM act GROUP BY user_id),
        |sizes AS (SELECT cohort, count(*) AS cohort_size FROM coh GROUP BY cohort),
        |cells AS (
        |  SELECT cohort, wk - cohort AS week_offset, count(*) AS n_active
        |  FROM act JOIN coh USING (user_id)
        |  GROUP BY cohort, wk - cohort)
        |SELECT cohort, week_offset, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
        |FROM cells JOIN sizes USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin,
    "q122_markov_transitions" ->
      s"""WITH ${StatsOps.sessionCteD("user_id, event_id, event_type")},
        |tr AS (
        |  SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id, session
        |      ORDER BY us, event_id) AS dst
        |  FROM ses),
        |cnt AS (
        |  SELECT src, dst, count(*) AS n FROM tr
        |  WHERE dst IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS p
        |FROM cnt ORDER BY src, dst""".stripMargin,
    "q124_code_detect" ->
      s"""WITH c AS (
        |  SELECT doc_id, n_chars,
        |    (length(text) - length(replace(text, '{', '')))
        |      + (length(text) - length(replace(text, '}', ''))) AS n_brace,
        |    length(text) - length(replace(text, ';', '')) AS n_semi,
        |    length(text) - length(replace(text, '=', '')) AS n_eq,
        |    (length(text) - length(replace(text, '(', '')))
        |      + (length(text) - length(replace(text, ')', ''))) AS n_paren
        |  FROM documents),
        |sc AS (
        |  SELECT *, round(CAST(n_brace * 3 + n_semi * 2 + n_eq + n_paren
        |    AS DOUBLE) / greatest(n_chars, 1), 6) AS code_score FROM c)
        |SELECT doc_id, n_brace, n_semi, n_eq, n_paren, code_score,
        |  CASE WHEN code_score >= $CodeScoreThreshold THEN 1 ELSE 0 END AS is_code
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q125_shard_manifest" ->
      s"""SELECT ${hashD("CAST(doc_id AS VARCHAR)")} % $NumShards AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(${hashD("text")} % $ChecksumMod) AS BIGINT) AS checksum,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    "q126_ab_test" ->
      s"""WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    ${hashD("CAST(user_id AS VARCHAR)")} % 2 AS arm
        |  FROM events GROUP BY user_id),
        |arms AS (
        |  SELECT arm, count(*) AS n_users,
        |    CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM u GROUP BY arm),
        |pooled AS (
        |  SELECT sum(n_users) AS tu, sum(n_conv) AS tc,
        |    sum(CASE WHEN arm = 0 THEN n_conv END) AS c0,
        |    sum(CASE WHEN arm = 0 THEN n_users END) AS u0,
        |    sum(CASE WHEN arm = 1 THEN n_conv END) AS c1,
        |    sum(CASE WHEN arm = 1 THEN n_users END) AS u1
        |  FROM arms),
        |se AS (
        |  SELECT *, sqrt((CAST(tc AS DOUBLE) / tu) * (1.0 - CAST(tc AS DOUBLE) / tu)
        |    * (1.0 / u0 + 1.0 / u1)) AS sev FROM pooled)
        |SELECT arm, n_users, n_conv,
        |  round(CAST(n_conv AS DOUBLE) / n_users, 6) AS rate,
        |  round(CASE WHEN sev != 0.0 THEN
        |    (CAST(c1 AS DOUBLE) / u1 - CAST(c0 AS DOUBLE) / u0) / sev END, 6) AS z
        |FROM arms, se ORDER BY arm""".stripMargin,
    "q128_decayed_engagement" ->
      s"""WITH e AS (
        |  SELECT user_id,
        |    CAST(round(value * pow(0.5,
        |      date_diff('day', CAST(ts AS DATE), DATE '$DecayAsOf') // 7), 6)
        |      AS DECIMAL(28,8)) AS contrib
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(contrib) AS DOUBLE), 6) AS score
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)
}
