package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Engine

/** Statistical analytics over the fixture tables — the closed-form
  * statistics a data platform computes ON the corpus (trends,
  * correlations, anomaly flags, digit-distribution audits, path
  * mining).
  *
  * Shared determinism discipline: every statistic is assembled from
  * EXACT sufficient statistics — decimal/integer sums that are
  * order-independent under any partitioning — with the floating-point
  * arithmetic confined to one final per-group expression. A running
  * float mean/variance would hash-diverge across engines; Σx, Σx²,
  * Σxy in decimal cannot.
  */
object StatsOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  private def dec(c: Column): Column = c.cast(DecimalType(28, 8))

  // ---------------------------------------------------------------
  // q111 — per-group OLS regression (trend per source)
  // ---------------------------------------------------------------

  /** q111: ordinary-least-squares slope/intercept of quality against
    * log-length, per source — "does this source's quality rise or fall
    * with document length", the per-stratum trend screen run before
    * choosing length cutoffs.
    *
    * One map-side-combinable aggregation per source collecting the
    * five sufficient statistics (n, Σx, Σy, Σxy, Σx²); slope and
    * intercept are one final double expression per group. x = rounded
    * log-token-count and y = rounded quality keep the decimal sums
    * exact cross-engine.
    */
  val q111GroupRegression: Q = (s, dir) => {
    val q = LlmOps.qualityTable(s, dir)
      .select(col("source"),
        round(log(col("n_tokens").cast("double")), 6).as("x"),
        round(col("quality"), 6).as("y"))
    // degenerate groups (n = 1, or constant x) have zero variance: the
    // slope is explicitly NULL on BOTH engines — Spark's divide already
    // NULLs on a zero divisor but DuckDB produces IEEE NaN/inf, so the
    // guard is what keeps the engines aligned
    val varx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = when(varx =!= 0.0,
      (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / varx)
    q.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"))
      .select(col("source"), col("n"),
        round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n"), 6).as("intercept"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q112 — correlation matrix
  // ---------------------------------------------------------------

  /** Numeric columns correlated pairwise in q112. */
  val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q112: Pearson correlation matrix over the lineitem measures —
    * ONE pass collecting every pairwise sufficient statistic (the
    * aggregation carries Σxᵢ, Σxᵢ², Σxᵢxⱼ for all pairs — 4 + 4 + 6
    * decimal buffers, constant-size whatever the corpus), then the
    * 4×4 matrix unpivots from a single row. The feature-redundancy
    * screen before model training.
    */
  val q112CorrMatrix: Q = (s, dir) => {
    // row-level arithmetic in exact scaled longs: the 2-dp measures
    // scale to integers exactly, so squares/products are long multiplies
    // inside codegen instead of per-row BigDecimal work (double→decimal
    // routes through Double.toString — measured ~2× on this aggregate).
    // The de-scale below divides each exact integer sum back to the SAME
    // DECIMAL(38,8) value (2/4-dp rationals, exact at scale 8) the
    // decimal formulation produced, so the final-formula arithmetic —
    // and therefore the oracle — is unchanged.
    val li = t(s, dir, "lineitem")
    // ONE cents contract: Relational.cents/lsum (pinned by
    // CentsParitySpec); only the de-scale differs — back to
    // DECIMAL(38,8) so the final-formula operand types (and therefore
    // the oracle) are exactly the decimal formulation's
    def descale(c: Column, pow10: Long): Column =
      (c / lit(pow10)).cast(DecimalType(38, 8))
    val scaled = li.select(
      CorrCols.map(c => Relational.cents(col(c)).as(s"c_$c")): _*)
    val raw = scaled.agg(
      count(lit(1)).as("n"),
      CorrCols.map(c => Relational.lsum(col(s"c_$c")).as(s"r_$c")) ++
        CorrCols.map(c => Relational.lsum(col(s"c_$c") * col(s"c_$c")).as(s"rr_$c")) ++
        (for {
          i <- CorrCols.indices; j <- (i + 1) until CorrCols.size
        } yield Relational.lsum(col(s"c_${CorrCols(i)}") * col(s"c_${CorrCols(j)}"))
          .as(s"rp_${CorrCols(i)}_${CorrCols(j)}")): _*)
    val sums = raw.select(
      col("n") +:
        (CorrCols.map(c => descale(col(s"r_$c"), 100L).as(s"s_$c")) ++
          CorrCols.map(c => descale(col(s"rr_$c"), 10000L).as(s"ss_$c")) ++
          (for {
            i <- CorrCols.indices; j <- (i + 1) until CorrCols.size
          } yield descale(col(s"rp_${CorrCols(i)}_${CorrCols(j)}"), 10000L)
            .as(s"sp_${CorrCols(i)}_${CorrCols(j)}"))): _*)
    def corr(a: String, b: String): Column = {
      val sp = if (CorrCols.indexOf(a) < CorrCols.indexOf(b))
        col(s"sp_${a}_$b") else col(s"sp_${b}_$a")
      val cov = (col("n") * sp - col(s"s_$a") * col(s"s_$b")).cast("double")
      val va = (col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")).cast("double")
      val vb = (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")).cast("double")
      // constant column → zero variance → correlation undefined: NULL
      // on both engines (DuckDB would otherwise emit IEEE NaN)
      round(when(va * vb =!= 0.0, cov / sqrt(va * vb)), 6)
    }
    val cells = for { a <- CorrCols; b <- CorrCols } yield
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        (if (a == b) lit(1.0) else corr(a, b)).as("pearson"))
    sums.select(explode(array(cells: _*)).as("c"))
      .select(col("c.col_a"), col("c.col_b"), col("c.pearson"))
      .orderBy(col("col_a"), col("col_b"))
  }

  // ---------------------------------------------------------------
  // q113 — z-score anomaly flags
  // ---------------------------------------------------------------

  /** q113: per-user z-score anomaly detection — events whose value
    * sits more than 2σ from the user's own mean (population σ from
    * exact sums). The per-entity outlier screen; broadcast-free: the
    * per-user statistics join back co-partitioned on user_id.
    */
  val q113Anomalies: Q = (s, dir) => {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val stats = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).as("sv"),
        sum(dec(col("value")) * dec(col("value"))).as("svv"))
      .select(col("user_id"),
        (col("sv").cast("double") / col("n")).as("mean"),
        (sqrt((col("n") * col("svv") - col("sv") * col("sv")).cast("double")) /
          col("n").cast("double")).as("sd"))
    // sd = 0 (a user whose values are all identical) yields NULL z on
    // both engines — DuckDB's IEEE division would emit ±inf instead.
    // The threshold tests the RAW z (the oracle's WHERE does too); only
    // the emitted column rounds — filtering on the rounded value would
    // flip rows whose raw |z| sits within 5e-7 of the cut.
    e.join(stats, Seq("user_id"))
      .withColumn("zr",
        when(col("sd") =!= 0.0, (col("value") - col("mean")) / col("sd")))
      .filter(abs(col("zr")) > 2.0)
      .select(col("event_id"), col("user_id"),
        col("value"), round(col("zr"), 6).as("z"))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------
  // q114 — Benford digit audit (chi-square)
  // ---------------------------------------------------------------

  /** q114: first-digit distribution audit — observed leading-digit
    * counts of line prices vs the Benford expectation, with each
    * digit's chi-square contribution. The fraud/synthetic-data screen
    * (q95 finds WHICH digit is hot; this quantifies the whole
    * distribution's deviation). Counts are exact integers; expected
    * shares are log10 constants — all double arithmetic is per-row
    * on final values.
    */
  val q114BenfordAudit: Q = (s, dir) => {
    val digits = t(s, dir, "lineitem")
      .select(substring(floor(col("l_extendedprice")).cast("bigint")
        .cast("string"), 1, 1).cast("int").as("digit"))
    val nRow = digits.agg(count(lit(1)).as("n_total"))
    digits.groupBy(col("digit")).agg(count(lit(1)).as("observed"))
      .crossJoin(broadcast(nRow))
      .withColumn("p_benford",
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("expected", round(col("p_benford") * col("n_total"), 2))
      .withColumn("chi2",
        round(pow(col("observed") - col("expected"), 2) / col("expected"), 6))
      .select(col("digit"), col("observed"), col("expected"),
        col("p_benford"), col("chi2"))
      .orderBy(col("digit"))
  }

  // ---------------------------------------------------------------
  // q115 — session path mining
  // ---------------------------------------------------------------

  /** Session gap — THE q30 constant (one definition, so the "same
    * sessionization" claim cannot drift).
    */
  val SessionGapUs: Long = Relational.SessionGapUs

  /** THE 30-min-gap sessionization rule (engine side), shared by
    * q115/q122/q136 — adds `session` to an event frame carrying
    * (user_id, event_id, us). One definition so the gap predicate and
    * the (us, event_id) tie-break can never drift between the queries
    * whose scaladocs promise "the same rule"; [[sessionCteD]] is its
    * oracle-side twin.
    */
  private[operators] def sessionized(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    e.withColumn("gap",
        (col("us") - lag(col("us"), 1).over(byUser) > SessionGapUs).cast("int"))
      .withColumn("session",
        sum(coalesce(col("gap"), lit(0))).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("gap")
  }

  /** Oracle-side sessionization CTE chain (`e` → `g` → `ses`):
    * `ses` carries `cols`, `us`, and `session`.
    */
  private[operators] def sessionCteD(cols: String): String =
    s"""e AS (
       |  SELECT $cols, epoch_us(ts) AS us FROM events),
       |g AS (
       |  SELECT *, CASE WHEN us - lag(us) OVER w > $SessionGapUs
       |    THEN 1 ELSE 0 END AS gap
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |ses AS (
       |  SELECT * EXCLUDE (gap), sum(gap) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
       |  FROM g)""".stripMargin

  /** q115: behavioral path mining — the most common 3-step event-type
    * sequences WITHIN a session (30-minute gap sessionization, order
    * pinned by (ts, event_id)). The product-analytics "what do users
    * do next" staple.
    *
    * Shape: sessionization is the q30 gap-window inside per-user
    * partitions; each session's ordered type list assembles with ONE
    * ordered collect per session (sessions are bounded, never
    * corpus-scale); the 3-gram explode and count are map-side
    * combinable.
    */
  val q115SessionPaths: Q = (s, dir) => {
    val e = sessionized(t(s, dir, "events")
      .withColumn("us", unix_micros(col("ts"))))
    val paths = e.groupBy(col("user_id"), col("session"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(us, event_id, event_type))), x -> x.event_type)")
        .as("types"))
      .filter(size(col("types")) >= 3)
      // element-wise concat, NOT concat_ws: concat_ws SKIPS null
      // elements (a null event_type would silently shorten the path),
      // while concat propagates null exactly like the oracle's ||
      .select(explode(expr(
        "transform(sequence(1, size(types) - 2), i -> concat(types[i-1], '>', types[i], '>', types[i+1]))"))
        .as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("path").asc)
      .limit(25)
  }

  // ---------------------------------------------------------------
  // q154 — chi-square independence test (lang × source)
  // ---------------------------------------------------------------

  /** q154: Pearson chi-square test of independence between the corpus'
    * two categorical facets (is language mix independent of source?),
    * with Cramér's V effect size — the contingency-table screen run
    * before stratifying a mixture by one facet while assuming the
    * other follows. One row per (lang, source) cell: observed count,
    * expected count under independence, and the cell's chi-square
    * contribution; the table-level χ², degrees of freedom, and V ride
    * along on every row.
    *
    * Determinism (q152's discipline): expected = row·col/N from exact
    * longs; each cell contribution (obs − exp)²/exp is rounded to 6 dp
    * BEFORE the total, and the total sums rounded terms as
    * DECIMAL(18,6) — float accumulation order can never flip the
    * hash. V = sqrt(χ²/(N·min(r−1, c−1))) from that exact total.
    *
    * Scale shape: ONE map-side-combinable count aggregation over the
    * corpus; everything after operates on the (|lang|·|source|)-cell
    * contingency table — marginals are windows over the bounded facet
    * domains, and the scalar (N, r, c) frame broadcasts.
    */
  val q154ChiSquare: Q = (s, dir) => {
    // the contingency table feeds THREE consumers (marginal windows,
    // the scalar frame, the χ² total) — materialize the corpus scan +
    // count ONCE so the 100 TB input is read once, not per branch
    // (lazy: plan inspection runs zero jobs)
    val cells = Engine.materialize(
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("obs")),
      eager = false)
    val wL = Window.partitionBy("lang")
    val wS = Window.partitionBy("source")
    // scalar frame (N, r, c) and the χ² total are 1-row aggregates
    // broadcast back onto the cell table — never a global window,
    // which would serialize the whole relation through one partition
    val consts = cells.agg(sum(col("obs")).as("n"),
      countDistinct(col("lang")).as("n_lang"),
      countDistinct(col("source")).as("n_source"))
    val withExp = cells
      .withColumn("row_total", sum(col("obs")).over(wL))
      .withColumn("col_total", sum(col("obs")).over(wS))
      .crossJoin(broadcast(consts))
      .withColumn("exp",
        col("row_total").cast("double") * col("col_total") / col("n"))
      .withColumn("contrib", round(
        (col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp"), 6))
    val tot = withExp.agg(
      sum(col("contrib").cast(DecimalType(18, 6))).cast("double").as("chi2"))
    withExp.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("obs"),
        round(col("exp"), 6).as("expected"), col("contrib"),
        col("chi2"),
        ((col("n_lang") - 1) * (col("n_source") - 1))
          .cast("bigint").as("dof"),
        round(sqrt(col("chi2") /
          (col("n") * least(col("n_lang") - 1, col("n_source") - 1))), 6)
          .as("cramers_v"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // q163 — two-sample Kolmogorov–Smirnov drift test
  // ---------------------------------------------------------------

  /** q163: two-sample Kolmogorov–Smirnov test on the n_chars
    * distribution between the SAME two corpus snapshots q152's PSI
    * compares — the nonparametric member of the drift family (q152
    * PSI needs binning choices, q154 χ² needs categories; KS compares
    * the full empirical CDFs with no tuning, the standard screen for
    * "did the length distribution shift between crawls"). Emits the
    * supremum gap D, the value at which it is attained, the scaled
    * statistic √(nm/(n+m))·D and the α=0.05 decision (asymptotic
    * critical value 1.358, Smirnov's table).
    *
    * Determinism: per-value ECDFs are exact-integer cumulative counts
    * with ONE double division each; gaps round to 6 dp BEFORE the max;
    * the attained value is min(n_chars where gap = D) — a two-pass
    * selection rather than arg_max, whose tie policy differs across
    * engines.
    *
    * Scale shape: one shuffle groups rows to DISTINCT n_chars values,
    * so the cumulative window runs over the VALUE DOMAIN (bounded by
    * max document length, not corpus cardinality) — the global window
    * is whitelisted in ScaleAuditSpec with exactly that bound; both
    * snapshot counts ride the same scan via indicator sums (q152's
    * trick), so the corpus is read once.
    */
  val q163KsTest: Q = (s, dir) => {
    val counts = t(s, dir, "documents")
      .select(col("n_chars"),
        (col("doc_id") % 13 =!= 5).cast("long").as("in_old"),
        (col("doc_id") % 11 =!= 7).cast("long").as("in_new"))
      .groupBy(col("n_chars"))
      .agg(sum(col("in_old")).as("c_old"), sum(col("in_new")).as("c_new"))
    val tot = counts.agg(sum(col("c_old")).as("n_old"),
      sum(col("c_new")).as("n_new"))
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ecdf = counts.crossJoin(broadcast(tot))
      .withColumn("gap", round(abs(
        sum(col("c_old")).over(w).cast("double") / col("n_old") -
          sum(col("c_new")).over(w).cast("double") / col("n_new")), 6))
      .select(col("n_chars"), col("n_old"), col("n_new"), col("gap"))
    val mx = ecdf.agg(max(col("gap")).as("ks_d"))
    ecdf.crossJoin(broadcast(mx))
      .filter(col("gap") === col("ks_d"))
      .groupBy(col("n_old"), col("n_new"), col("ks_d"))
      .agg(min(col("n_chars")).cast("long").as("at_value"))
      .withColumn("ks_stat", round(
        sqrt(col("n_old").cast("double") * col("n_new") /
          (col("n_old") + col("n_new")).cast("double")) * col("ks_d"), 6))
      .select(col("n_old"), col("n_new"), col("ks_d"), col("at_value"),
        col("ks_stat"),
        (col("ks_stat") > 1.358).cast("long").as("reject_05"))
  }

  // ---------------------------------------------------------------
  // q172 — deterministic half-sample bootstrap CI for the median
  // ---------------------------------------------------------------

  /** q172 replica count. 64 half-samples give rank-4/rank-61 as the
    * 5%/95% envelope ([[BootRankLo]]).
    */
  val BootB = 64

  /** ⌈0.05·B⌉ — the CI envelope ranks are [[BootRankLo]] and
    * B+1−[[BootRankLo]] over the sorted replica medians.
    */
  val BootRankLo = 4

  /** q172: a CONFIDENCE INTERVAL for the corpus median without
    * distributional assumptions — the deterministic analog of the
    * bag-of-little-bootstraps resampling pattern (Kleiner et al. 2012)
    * a 100 TB profiler uses to put error bars on its statistics:
    * [[BootB]] half-sample replicas (replica b keeps the docs with
    * hash('bs:'||b||':'||doc_id) even — a pure function of the corpus,
    * so the "resampling" is reproducible across runs, engines, and
    * partitionings, unlike rand()-based bootstraps), the lower median
    * of each replica, and the 5%/95% ranks of the 64 replica medians
    * as the interval. Everything is exact integer arithmetic — there
    * is no float anywhere to drift.
    *
    * Scale shape: the replica explode is map-side and dies immediately
    * into a (b, value) pre-aggregated count — the shuffle carries at
    * most B·|value domain| rows, not B·corpus; each replica's median
    * is the q163 ECDF discipline (cumulative counts over the BOUNDED
    * distinct-value domain, partitioned by replica); the final rank
    * window orders exactly B=64 rows. At 100 TB nothing here scales
    * with row count except the first map-side count.
    */
  val q172BootstrapCi: Q = (s, dir) => {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("v"))
    val reps = base
      .select(col("doc_id"), col("v"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .filter(pmod(expr(LlmOps.hashS(
        "concat('bs:', CAST(b AS STRING), ':', CAST(doc_id AS STRING))")),
        lit(2)) === 0)
    val cnt = reps.groupBy(col("b"), col("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // lower median: smallest v whose cumulative count reaches half
    val medb = cnt
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_b", sum(col("c")).over(Window.partitionBy(col("b"))))
      .filter(col("cum") * 2 >= col("n_b"))
      .groupBy(col("b")).agg(min(col("v")).as("med"))
    val ranked = medb.withColumn("rk",
      row_number().over(Window.orderBy(col("med"), col("b"))))
    val ci = ranked.agg(
      max(when(col("rk") === BootRankLo, col("med"))).as("ci_lo"),
      max(when(col("rk") === (BootB + 1 - BootRankLo), col("med"))).as("ci_hi"))
    val cntF = base.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val medF = cntF
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      .filter(col("cum") * 2 >= col("n"))
      .agg(max(col("n")).as("n"), min(col("v")).as("median_exact"))
    medF.crossJoin(ci)
      .select(col("n"), col("median_exact"),
        lit(BootB.toLong).as("n_replicas"),
        col("ci_lo"), col("ci_hi"),
        (col("ci_hi") - col("ci_lo")).as("ci_width"))
  }

  // ---------------------------------------------------------------
  // q174 — CUSUM changepoint detection over daily ingest volume
  // ---------------------------------------------------------------

  /** q174: CUSUM (cumulative-sum) CHANGEPOINT DETECTION over the daily
    * event count — the sequential statistic an ingest monitor runs to
    * catch a crawler breaking or a source doubling: the one-sided
    * recurrence S_d = max(0, S_{d−1} + (x_d − μ) − slack) accumulates
    * sustained upward drift and alarms when it crosses a threshold,
    * while single-day noise is bled off by the slack term (Page 1954).
    *
    * Everything runs in EXACT integer arithmetic by scaling through
    * the day count: with n days and Σx total events, μ·n = Σx, so the
    * scaled residual n·x_d − Σx is an integer and the recurrence never
    * touches a float. Slack and threshold are fixed integer fractions
    * of the scaled mean (Σx div 100 and Σx div 4), identical under
    * DuckDB's `//`. The 1%-of-mean slack is a FAST-DETECTION tuning:
    * where daily noise is a large fraction of the mean (the tiny
    * sf0.001 fixture's Poisson counts) it alarms on noise — a property
    * of the tuning a production monitor sets from a noise estimate,
    * not of the statistic; the oracle value-checks the full CUSUM path
    * either way, and StatsOpsSpec proves the clean pre/post separation
    * on a noise-free level-shift corpus.
    *
    * The recurrence is inherently sequential, so it runs where a
    * sequential scan is honest at any corpus size: over the per-DAY
    * aggregate, bounded by the observation span (the q163/q164
    * discipline), as a higher-order `aggregate()` fold over the
    * day-sorted array — ONE shuffle (the daily count), then
    * span-bounded array arithmetic. The oracle replays the same
    * recurrence as a recursive CTE, step by step.
    */
  val q174CusumChangepoint: Q = (s, dir) =>
    cusumOf(t(s, dir, "events")
      .select(to_date(col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x")))

  /** The CUSUM path over an explicit (day, x) daily-count frame —
    * shared by q174 and StreamingCusumSpec's continuously-maintained
    * monitor state (whose stored per-batch day partials sum to exactly
    * this input).
    */
  private[graft] def cusumOf(daily: DataFrame): DataFrame = {
    val one = daily.agg(
      sort_array(collect_list(struct(col("day"), col("x")))).as("arr"),
      count(lit(1)).as("n"), sum(col("x")).cast("long").as("total"))
      .withColumn("slack", expr("total div 100"))
      .withColumn("h", expr("total div 4"))
    val step = "greatest(CAST(0 AS BIGINT), acc.s + n * e.x - total - slack)"
    one.select(col("h"), explode(expr(
        s"""aggregate(arr,
           |  named_struct('s', CAST(0 AS BIGINT),
           |    'out', CAST(array() AS ARRAY<STRUCT<day: DATE, x: BIGINT, s: BIGINT>>)),
           |  (acc, e) -> named_struct(
           |    's', $step,
           |    'out', array_append(acc.out,
           |      named_struct('day', e.day, 'x', e.x, 's', $step))),
           |  acc -> acc.out)""".stripMargin)).as("e"))
      .select(col("e.day").as("day"), col("e.x").as("n_events"),
        col("e.s").as("cusum"), col("h").as("threshold"),
        (col("e.s") > col("h")).cast("bigint").as("is_alarm"))
      .orderBy(col("day"))
  }

  val queries: Map[String, Q] = Map(
    "q172_bootstrap_ci" -> q172BootstrapCi,
    "q174_cusum_changepoint" -> q174CusumChangepoint,
    "q163_ks_test" -> q163KsTest,
    "q111_group_regression" -> q111GroupRegression,
    "q112_corr_matrix" -> q112CorrMatrix,
    "q113_anomalies" -> q113Anomalies,
    "q114_benford_audit" -> q114BenfordAudit,
    "q115_session_paths" -> q115SessionPaths,
    "q154_chi_square" -> q154ChiSquare)

  // ---- DuckDB oracle dialect ----

  /** The shared quality-score CTE (ONE formula definition — see
    * LlmOps.qualityOracleCteD), carrying `source` through.
    */
  private val qualityLangCteD = LlmOps.qualityOracleCteD("q", Seq("source"))

  val oracles: Map[String, String] = Map(
    // q172: replica membership, per-replica lower medians over the
    // bounded value domain, and the rank-envelope CI recomputed from
    // raw rows — pure integer arithmetic end to end
    "q172_bootstrap_ci" -> {
      val h = LlmOps.hashD(
        "'bs:' || CAST(b.b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
      s"""WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v
        |              FROM documents),
        |reps AS (SELECT b.b, doc_id, v
        |         FROM base, LATERAL unnest(range(0, $BootB)) AS b(b)
        |         WHERE $h % 2 = 0),
        |cnt AS (SELECT b, v, count(*) AS c FROM reps GROUP BY 1, 2),
        |cum AS (SELECT b, v,
        |        CAST(sum(c) OVER (PARTITION BY b ORDER BY v) AS BIGINT) AS cum,
        |        CAST(sum(c) OVER (PARTITION BY b) AS BIGINT) AS n_b
        |        FROM cnt),
        |medb AS (SELECT b, min(v) AS med FROM cum
        |         WHERE cum * 2 >= n_b GROUP BY b),
        |rk AS (SELECT med, row_number() OVER (ORDER BY med, b) AS rk
        |       FROM medb),
        |ci AS (SELECT max(CASE WHEN rk = $BootRankLo THEN med END) AS ci_lo,
        |       max(CASE WHEN rk = ${BootB + 1 - BootRankLo} THEN med END)
        |         AS ci_hi FROM rk),
        |cf AS (SELECT v, count(*) AS c FROM base GROUP BY v),
        |cumf AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
        |         FROM cf),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
        |medf AS (SELECT min(v) AS median_exact FROM cumf, nn
        |         WHERE cum * 2 >= n)
        |SELECT nn.n, medf.median_exact, CAST($BootB AS BIGINT) AS n_replicas,
        |  ci.ci_lo, ci.ci_hi, ci.ci_hi - ci.ci_lo AS ci_width
        |FROM nn, medf, ci""".stripMargin
    },
    // q174: the oracle replays the integer CUSUM recurrence as a
    // recursive CTE over the day sequence — step-identical to the
    // engine's aggregate() fold
    "q174_cusum_changepoint" ->
      s"""WITH RECURSIVE d AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(x) AS BIGINT) AS total,
        |      CAST(sum(x) AS BIGINT) // 100 AS slack,
        |      CAST(sum(x) AS BIGINT) // 4 AS h FROM d),
        |seq AS (SELECT day, x, row_number() OVER (ORDER BY day) AS i FROM d),
        |rec AS (
        |  SELECT i, day, x,
        |    greatest(CAST(0 AS BIGINT), p.n * x - p.total - p.slack) AS s
        |  FROM seq, p WHERE i = 1
        |  UNION ALL
        |  SELECT seq.i, seq.day, seq.x,
        |    greatest(CAST(0 AS BIGINT), rec.s + p.n * seq.x - p.total - p.slack)
        |  FROM rec, seq, p WHERE seq.i = rec.i + 1)
        |SELECT rec.day, rec.x AS n_events, rec.s AS cusum, p.h AS threshold,
        |  CAST(rec.s > p.h AS BIGINT) AS is_alarm
        |FROM rec, p ORDER BY rec.day""".stripMargin,
    "q163_ks_test" ->
      s"""WITH base AS (
        |  SELECT n_chars,
        |    CAST(doc_id % 13 != 5 AS BIGINT) AS in_old,
        |    CAST(doc_id % 11 != 7 AS BIGINT) AS in_new
        |  FROM documents),
        |counts AS (
        |  SELECT n_chars, CAST(sum(in_old) AS BIGINT) AS c_old,
        |    CAST(sum(in_new) AS BIGINT) AS c_new
        |  FROM base GROUP BY n_chars),
        |tot AS (SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
        |          CAST(sum(c_new) AS BIGINT) AS n_new FROM counts),
        |ecdf AS (
        |  SELECT n_chars, t.n_old, t.n_new,
        |    round(abs(
        |      CAST(sum(c_old) OVER (ORDER BY n_chars) AS DOUBLE) / t.n_old -
        |      CAST(sum(c_new) OVER (ORDER BY n_chars) AS DOUBLE) / t.n_new), 6) AS gap
        |  FROM counts, tot t),
        |mx AS (SELECT max(gap) AS ks_d FROM ecdf)
        |SELECT t.n_old, t.n_new, m.ks_d,
        |  (SELECT min(n_chars) FROM ecdf WHERE gap = m.ks_d) AS at_value,
        |  round(sqrt(CAST(t.n_old AS DOUBLE) * t.n_new / (t.n_old + t.n_new)) * m.ks_d, 6) AS ks_stat,
        |  CAST(round(sqrt(CAST(t.n_old AS DOUBLE) * t.n_new / (t.n_old + t.n_new)) * m.ks_d, 6) > 1.358 AS BIGINT) AS reject_05
        |FROM tot t, mx m""".stripMargin,
    "q111_group_regression" ->
      s"""WITH $qualityLangCteD,
        |xy AS (SELECT source,
        |         round(ln(CAST(n_tokens AS DOUBLE)), 6) AS x,
        |         round(quality, 6) AS y FROM q),
        |st AS (
        |  SELECT source, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(28,8))) AS sx,
        |    sum(CAST(y AS DECIMAL(28,8))) AS sy,
        |    sum(CAST(x * y AS DECIMAL(28,8))) AS sxy,
        |    sum(CAST(x * x AS DECIMAL(28,8))) AS sxx
        |  FROM xy GROUP BY source),
        |sl AS (
        |  SELECT *, CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) != 0.0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |         / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope0
        |  FROM st)
        |SELECT source, n, round(slope0, 6) AS slope,
        |  round((CAST(sy AS DOUBLE) - slope0 * CAST(sx AS DOUBLE)) / n, 6)
        |    AS intercept
        |FROM sl ORDER BY source""".stripMargin,
    "q112_corr_matrix" -> {
      val sumsD =
        (CorrCols.map(c => s"sum(CAST($c AS DECIMAL(28,8))) AS s_$c") ++
          CorrCols.map(c =>
            s"sum(CAST($c AS DECIMAL(28,8)) * CAST($c AS DECIMAL(28,8))) AS ss_$c") ++
          (for {
            i <- CorrCols.indices; j <- (i + 1) until CorrCols.size
          } yield s"sum(CAST(${CorrCols(i)} AS DECIMAL(28,8)) * CAST(${CorrCols(j)} AS DECIMAL(28,8))) AS sp_${CorrCols(i)}_${CorrCols(j)}"))
          .mkString(",\n    ")
      def corrD(a: String, b: String): String =
        if (a == b) "1.0"
        else {
          val sp = if (CorrCols.indexOf(a) < CorrCols.indexOf(b)) s"sp_${a}_$b" else s"sp_${b}_$a"
          s"""round(CASE WHEN CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
             |          * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE) != 0.0
             |   THEN CAST(n * $sp - s_$a * s_$b AS DOUBLE)
             |     / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
             |            * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)) END, 6)""".stripMargin
        }
      val cells = (for { a <- CorrCols; b <- CorrCols } yield
        s"SELECT '$a' AS col_a, '$b' AS col_b, ${corrD(a, b)} AS pearson FROM st")
        .mkString("\nUNION ALL\n")
      s"""WITH st AS (
         |  SELECT count(*) AS n,
         |    $sumsD
         |  FROM lineitem)
         |$cells
         |ORDER BY col_a, col_b""".stripMargin
    },
    "q113_anomalies" ->
      """WITH st AS (
        |  SELECT user_id, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(28,8))) AS sv,
        |    sum(CAST(value AS DECIMAL(28,8)) * CAST(value AS DECIMAL(28,8))) AS svv
        |  FROM events GROUP BY user_id),
        |m AS (SELECT user_id,
        |        CAST(sv AS DOUBLE) / n AS mean,
        |        sqrt(CAST(n * svv - sv * sv AS DOUBLE)) / CAST(n AS DOUBLE) AS sd
        |      FROM st)
        |SELECT e.event_id, e.user_id, e.value,
        |  round((e.value - m.mean) / m.sd, 6) AS z
        |FROM events e JOIN m USING (user_id)
        |WHERE m.sd != 0.0 AND abs((e.value - m.mean) / m.sd) > 2.0
        |ORDER BY e.event_id""".stripMargin,
    "q114_benford_audit" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM lineitem),
        |n AS (SELECT count(*) AS n_total FROM d),
        |o AS (SELECT digit, count(*) AS observed FROM d GROUP BY digit),
        |x AS (
        |  SELECT digit, observed, n.n_total,
        |    round(log10(1.0 + 1.0 / digit), 6) AS p_benford
        |  FROM o, n),
        |e AS (SELECT *, round(p_benford * n_total, 2) AS expected FROM x)
        |SELECT digit, observed, expected, p_benford,
        |  round(pow(observed - expected, 2) / expected, 6) AS chi2
        |FROM e ORDER BY digit""".stripMargin,
    "q115_session_paths" ->
      s"""WITH ${sessionCteD("user_id, event_id, event_type")},
        |paths AS (
        |  SELECT user_id, session,
        |    list(event_type ORDER BY us, event_id) AS types
        |  FROM ses GROUP BY user_id, session),
        |grams AS (
        |  SELECT unnest(list_transform(range(1, len(types) - 1),
        |    i -> types[i] || '>' || types[i+1] || '>' || types[i+2])) AS path
        |  FROM paths WHERE len(types) >= 3)
        |SELECT path, count(*) AS freq FROM grams
        |GROUP BY path ORDER BY freq DESC, path ASC LIMIT 25""".stripMargin,
    "q154_chi_square" ->
      s"""WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        |         FROM documents GROUP BY 1, 2),
        |consts AS (SELECT count(DISTINCT lang) AS n_lang,
        |             count(DISTINCT source) AS n_source,
        |             CAST(count(*) AS BIGINT) AS n FROM documents),
        |m AS (SELECT *,
        |        sum(obs) OVER (PARTITION BY lang) AS row_total,
        |        sum(obs) OVER (PARTITION BY source) AS col_total
        |      FROM cells),
        |x AS (SELECT m.*, consts.*,
        |        CAST(row_total AS DOUBLE) * col_total / n AS exp
        |      FROM m, consts),
        |c AS (SELECT *,
        |        round((obs - exp) * (obs - exp) / exp, 6) AS contrib FROM x),
        |tot AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(18, 6))) AS DOUBLE)
        |          AS chi2 FROM c)
        |SELECT lang, source, obs, round(exp, 6) AS expected, contrib, chi2,
        |  CAST((n_lang - 1) * (n_source - 1) AS BIGINT) AS dof,
        |  round(sqrt(chi2 / (n * least(n_lang - 1, n_source - 1))), 6)
        |    AS cramers_v
        |FROM c, tot ORDER BY lang, source""".stripMargin)
}
