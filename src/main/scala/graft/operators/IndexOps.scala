package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine
import graft.Engine.MaterializeSyntax

/** Indexing, sketch-accelerated counting, and data-engineering
  * diagnostics — the operators a corpus platform runs AROUND the
  * content pipeline: building the retrieval index, finding heavy keys
  * before they melt a shuffle, linking dirty records back to a
  * catalog, and the tokenizer-training count pass.
  */
object IndexOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  // ---------------------------------------------------------------
  // q95 — heavy hitters: Misra-Gries sketch + exact verify pass
  // ---------------------------------------------------------------

  /** Heavy-hitter threshold: items with frequency > n/[[HeavyK]] are
    * reported. 8 is calibrated to the fixture stream (leading digits
    * of line prices): digit '1' sits at ~15% share by construction
    * (the price range spans a decade boundary — the Benford effect),
    * everything else at ~10.5%, so the hitter set is {1} at every SF.
    */
  val HeavyK = 8

  /** q95: exact heavy hitters with sketch pruning — the two-pass shape
    * for "which items exceed an n/k share" at 100 TB:
    *
    * Pass 1: ONE [[graft.functions.MisraGriesAgg]] aggregation — each
    * task summarizes its partition into a (k−1)-counter sketch, the
    * sketches merge (mergeable-summaries guarantee: the merged
    * candidate set is a SUPERSET of every item with true frequency
    * > n/k), and a single k-sized candidate array reaches the plan —
    * the full per-item count table never shuffles.
    *
    * Pass 2: exact counts for the candidates only (the scan is
    * re-filtered by the broadcast candidate set before the count
    * shuffle) and the threshold test runs on EXACT frequencies, so
    * false candidates drop out and the final answer is deterministic —
    * sketch internals (merge order, which false positives survive)
    * never reach the output. The stream here is the leading digit of
    * `l_extendedprice` — the Benford screening used in fraud/anomaly
    * audits; a digit far above its expected share is the audit signal.
    */
  val q95HeavyHitters: Q = (s, dir) => {
    val items = t(s, dir, "lineitem")
      .select(substring(floor(col("l_extendedprice")).cast("bigint")
        .cast("string"), 1, 1).as("item"))
    // the stream total rides the SAME aggregation as the sketch — pass
    // 1 is exactly one scan (a separate count would be a third pass)
    val pass1 = items
      .agg(graft.functions.MisraGriesAgg.misra_gries(col("item"), HeavyK)
        .as("cands"), count(lit(1)).as("n_total"))
      .materialize(true) // 1 row, referenced twice below
    val cands = pass1.select(explode(col("cands")).as("item"), col("n_total"))
    items.join(broadcast(cands.select(col("item"))), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(pass1.select(col("n_total"))))
      .filter(col("freq") * HeavyK > col("n_total"))
      .select(col("item"), col("freq"), col("n_total"),
        round(col("freq").cast("double") / col("n_total"), 6).as("share"))
      .orderBy(col("item"))
  }

  // ---------------------------------------------------------------
  // q123 — Count-Min sketch point estimates + exact verify
  // ---------------------------------------------------------------

  /** Point queries are answered for part keys up to this id. */
  val CmsMaxItem = 20

  /** q123: Count-Min frequency estimates over the part-key stream,
    * verified against exact counts — the sketch complement to q95's
    * Misra-Gries: MG answers "which items are heavy", CMS answers "how
    * often does THIS item occur" for any item, in one constant-size
    * (d·w longs) mergeable buffer.
    *
    * Scale shape: pass 1 is ONE [[graft.functions.CountMinAgg]]
    * aggregation — each task condenses its partition into a ~2 KiB
    * counter grid and only those grids shuffle, never per-item rows.
    * The estimates are then read out of the broadcast 1-row sketch
    * with plain element_at arithmetic, and the exact side (restricted
    * to the queried keys) pins the one-sided error: est ≥ exact
    * always, est − exact ≤ εn w.h.p. The output carries both so the
    * oracle checks the sketch ARITHMETIC, not just the estimates'
    * existence.
    */
  val q123CmsSketch: Q = (s, dir) => {
    import graft.functions.CountMinAgg.{A, B, D, P, W}
    val items = t(s, dir, "lineitem")
      .select(col("l_partkey").cast("string").as("item"))
    val sketch = items
      .agg(graft.functions.CountMinAgg.count_min(col("item")).as("cm"))
    val exact = items.filter(col("item").cast("bigint") <= CmsMaxItem)
      .groupBy(col("item")).agg(count(lit(1)).as("exact_cnt"))
    val est = (0 until D).map { i =>
      expr(s"element_at(cm, ${i * W} + cast(((${A(i)} * " +
        s"(stable_hash64(item) % $P) + ${B(i)}) % $P) % $W as int) + 1)")
    }
    exact.crossJoin(broadcast(sketch))
      .select(col("item").cast("bigint").as("item_id"),
        least(est: _*).as("cms_est"), col("exact_cnt"))
      .orderBy(col("item_id"))
  }

  // ---------------------------------------------------------------
  // q97 — inverted index construction
  // ---------------------------------------------------------------

  /** Cap on postings materialized per term in the REPORT output (the
    * full list would be the sink payload in a real build; the cap only
    * bounds the presentation row, not df/cf, which stay exact totals).
    */
  val PostingsCap = 50

  /** q97: inverted index build — per term: document frequency,
    * collection frequency, and the doc_id-ordered postings list
    * `doc:tf,doc:tf,…` (first [[PostingsCap]] entries; df/cf remain
    * exact over ALL postings). The batch side of the q80 BM25 ranker.
    *
    * Scale shape: after the per-(term, doc) tf aggregation — map-side
    * combinable, only (term, doc_id, tf) triples shuffle, text dies in
    * the scan — each term's postings group on the term key. Common
    * terms make big groups; a production sink writes postings as
    * sharded runs (the q81 shard sink), which is why the report row
    * caps the materialized list instead of collecting it all.
    */
  val q97InvertedIndex: Q = (s, dir) => {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(expr(LlmOps.toksS)).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        array_join(
          transform(
            slice(sort_array(collect_list(struct(col("doc_id"), col("tf")))),
              1, PostingsCap),
            p => concat(p("doc_id"), lit(":"), p("tf"))),
          ",").as("postings"))
      .select(col("token"), col("df"), col("cf").cast("long").as("cf"),
        col("postings"))
      .orderBy(col("token"))
  }

  // ---------------------------------------------------------------
  // q153 — time-bucketed KMV sketch rollup
  // ---------------------------------------------------------------

  /** q153 sketch size (per time bucket). Small enough that sf0.001's
    * 15 users under-fill it and sf0.1's 1500 overflow it — both code
    * paths of the estimator are exercised across the gate's SFs.
    */
  val KmvRollupK = 64

  /** q153: mergeable-sketch RE-AGGREGATION over time — the production
    * pattern q119's set algebra implies but doesn't exercise: store a
    * tiny per-DAY sketch of active users, answer WEEK and MONTH
    * distinct-user questions by merging stored sketches, never
    * rescanning raw events. For bottom-k sketches the rollup is exact
    * by construction: any of a scope's k smallest user hashes is also
    * among its own day's k smallest (fewer than k smaller hashes exist
    * scope-wide, hence day-wide), so bottom-k(∪ daily sketches) ==
    * bottom-k(scope) and the merged estimate EQUALS the direct one —
    * the query emits both plus the equality flag, and the oracle
    * value-checks all three (a broken merge can't hide: the flag rows
    * would flip).
    *
    * Scale shape: raw events die at the per-(day, user) distinct;
    * every bottom-k — the per-day sketch build, the merged rollup AND
    * the direct baseline — is the [[graft.functions.KmvSample]]
    * TypedImperativeAggregate: each task keeps one k-sized tree per
    * group and shuffles exactly k (hash, hash) pairs per group, so NO
    * scope ever serializes its full distinct-hash set through a single
    * sort task (the rank-window formulation this replaced did exactly
    * that for the month scope — every distinct user hash in one
    * partition; VERDICT r9 item 1). At 100 TB the daily sketches are
    * the STORED artifact (a few KB/day) and month-level questions
    * never touch the raw corpus — re-aggregation without rescan is the
    * entire point of mergeable sketches.
    *
    * Scope keys carry the calendar month (`2026-03_month`,
    * `2026-03_week_2`) so a fixture spanning a month boundary rolls up
    * per month instead of silently merging same-day-of-month days from
    * different months (ADVICE r9).
    */
  /** q153's scope keys for a date column: the month scope and the
    * MONTH-QUALIFIED week scope (`2026-03_month`, `2026-03_week_2`).
    * Factored out so the month-boundary spec (IndexOpsSpec) can drive
    * a synthetic two-month frame through the SAME expression and prove
    * days from different months never merge — the ADVICE r9 fix's
    * semantics, now pinned by a fixture-independent test (VERDICT r11
    * item 4).
    */
  private[graft] def rollupScopes(dayCol: String): org.apache.spark.sql.Column =
    array(
      concat(date_format(col(dayCol), "yyyy-MM"), lit("_month")),
      concat(date_format(col(dayCol), "yyyy-MM"), lit("_week_"),
        expr(s"(dayofmonth($dayCol) - 1) div 7")))

  val q153SketchRollup: Q = (s, dir) => {
    val twoP60 = 1152921504606846976.0 // 2^60
    val dayUsers = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .withColumn("h",
        expr(LlmOps.hashS("concat('kru:', CAST(user_id AS STRING))")))
    def kmvAgg = graft.functions.KmvSample
      .kmv_sample(struct(col("h"), col("h")), KmvRollupK)
    // stored artifact: per-day bottom-k sketch (k rows per day)
    val daily = dayUsers
      .groupBy(col("day"))
      .agg(kmvAgg.as("sk"))
      .select(col("day"), explode(col("sk")).as("h"))
    def scoped(df: DataFrame): DataFrame = df
      .select(col("h"), explode(rollupScopes("day")).as("scope"))
      .select(col("scope"), col("h"))
    // KMV estimate from a bottom-k sample: (|sk| - 1) / max(h / 2^60).
    // h -> double is lossy above 2^53 but monotone, and the division
    // by an exact power of two is exact, so the value is bit-identical
    // to the oracle's per-row u = h / 2^60 formulation.
    def bottomK(df: DataFrame, est: String): DataFrame = df
      .groupBy(col("scope"))
      .agg(kmvAgg.as("sk"))
      .select(col("scope"),
        round((size(col("sk")) - 1).cast("double") /
          (element_at(col("sk"), -1).cast("double") / lit(twoP60)), 2).as(est))
    val merged = bottomK(scoped(daily), "n_est_merged")
    val direct = bottomK(scoped(dayUsers), "n_est_direct")
    val exact = scoped(dayUsers).groupBy(col("scope"))
      .agg(countDistinct(col("h")).as("n_exact"))
    exact.join(merged, Seq("scope")).join(direct, Seq("scope"))
      .select(col("scope"), col("n_exact"),
        col("n_est_merged"), col("n_est_direct"),
        (col("n_est_merged") === col("n_est_direct"))
          .cast("bigint").as("rollup_exact"))
      .orderBy(col("scope"))
  }

  // ---------------------------------------------------------------
  // q207/q208 — HDR-histogram quantile sketch (mergeable, exact algebra)
  // ---------------------------------------------------------------

  /** Sub-bucket bits per octave: 32 linear sub-buckets inside every
    * power of two, bounding the mid-point estimate's relative error at
    * 1/64 (≈1.6%) for values ≥ 32 — and values < 32 get singleton
    * buckets, i.e. EXACT. The HdrHistogram bucketing (public: Gil
    * Tene's HDR histogram), chosen over GK/KLL/DDSketch for one
    * engine-shaped reason: the bucket function is PURE INTEGER
    * arithmetic (binary length, shift, mask — no log/exp), so the
    * sketch is bit-reproducible across engines, partitionings and
    * replays — the DuckDB oracle replays the identical algebra and the
    * driver hash-compares the ESTIMATES themselves, not a tolerance.
    */
  val HdrSubBits = 5

  /** Bucket id of non-negative integer column `v` — for v ≥ 32:
    * exponent e = length(bin(v)) − 1, sub = top [[HdrSubBits]] mantissa
    * bits, id = e·32 + sub (ids ≥ 160); for v < 32: id = v (singleton
    * buckets 0–31; the id ranges cannot collide). Integer-exact in any
    * engine with a binary-representation function.
    */
  private[graft] def hdrBid(v: String): String =
    s"CASE WHEN $v < 32 THEN CAST($v AS BIGINT) ELSE CAST(" +
      s"(length(bin($v)) - 1) * 32 + " +
      s"(shiftright($v, length(bin($v)) - 6) & 31) AS BIGINT) END"

  /** Mid-point representative of bucket `bid` — lower bound
    * (32 + sub) · 2^(e−5) plus half the bucket width; exact value for
    * the singleton buckets and for the e = 5 octave (width 1).
    */
  private[graft] val hdrRep: String =
    "CASE WHEN bid < 32 THEN bid ELSE " +
      "shiftleft(CAST(32 + bid % 32 AS BIGINT), CAST(bid div 32 AS INT) - 5) + " +
      "shiftright(shiftleft(CAST(1 AS BIGINT), CAST(bid div 32 AS INT) - 5), 1) END"

  /** The sketch of `valueCol` per `keys`: one (keys, bid, cnt) row per
    * occupied bucket — ≤ 32·59 rows per group whatever the data, built
    * by ONE map-side-combinable count aggregate.
    */
  private[graft] def hdrSketch(df: DataFrame, valueCol: String,
      keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+ expr(hdrBid(valueCol)).as("bid"): _*)
      .groupBy((keys :+ "bid").map(col): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from a (key, bid, cnt) sketch: rank
    * r = ⌊q·(n−1)⌋, answer = representative of the first bucket whose
    * cumulative count exceeds r. The windows run over SKETCH rows
    * (≤ ~2k per key), never data rows.
    */
  private[graft] def hdrQuantiles(sk: DataFrame, key: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val w = Window.partitionBy(key).orderBy("bid")
    val cum = sk
      .withColumn("rep", expr(hdrRep))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(key)))
    cum.groupBy(col(key))
      .agg(max(col("n")).as("n_docs"),
        qs.map { case (name, q) =>
          min(when(col("cum") > floor(lit(q) * (col("n") - 1)), col("rep")))
            .as(name)
        }: _*)
  }

  /** q207: per-language n_chars quantiles (p50/p90/p99) from the HDR
    * sketch — the mergeable-quantile family member next to q153's
    * distinct-count KMV: the corpus dies into a ≤ ~2k-row bucket-count
    * table in one map-side-combinable pass, and every later question
    * (any quantile, any rank) is a window walk over sketch rows. At
    * 100 TB the sketch is what you STORE; this query is the build +
    * extraction. Estimates carry the documented ≤ 1/64 relative error
    * (spec-pinned against exact percentiles); the oracle replays the
    * integer bucket algebra verbatim, so the gate hash-checks the
    * estimates exactly.
    */
  val q207HdrQuantiles: Q = (s, dir) =>
    hdrQuantiles(hdrSketch(t(s, dir, "documents"), "n_chars", Seq("lang")),
      "lang", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .orderBy(col("lang"))

  /** q208: the MERGE property executed — per-(lang, source) sketches
    * (the stored granularity) merged up to per-lang by SUMMING bucket
    * counts, quantiles extracted from the merged sketch, and compared
    * in-query against the direct per-lang build (q153's emit-both-plus-
    * flag discipline: a broken merge flips `merge_exact` rows, so the
    * oracle catches it by value). Merging histograms is count
    * addition — associative, commutative, loss-free — which is exactly
    * why the stored fine-grained sketches answer every coarser rollup
    * without rescanning the corpus.
    */
  val q208HdrRollup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val fine = hdrSketch(docs, "n_chars", Seq("lang", "source"))
    val merged = fine.groupBy(col("lang"), col("bid"))
      .agg(sum(col("cnt")).as("cnt"))
    val fromMerged = hdrQuantiles(merged, "lang",
      Seq("p50_merged" -> 0.5, "p90_merged" -> 0.9))
    val direct = hdrQuantiles(hdrSketch(docs, "n_chars", Seq("lang")),
      "lang", Seq("p50_direct" -> 0.5, "p90_direct" -> 0.9))
      .drop("n_docs")
    fromMerged.join(direct, Seq("lang"))
      .select(col("lang"), col("n_docs"),
        col("p50_merged"), col("p90_merged"),
        (col("p50_merged") === col("p50_direct") &&
          col("p90_merged") === col("p90_direct"))
          .cast("bigint").as("merge_exact"))
      .orderBy(col("lang"))
  }

  /** HDR-artifact layout version. */
  private val HdrLayout = 1L

  private[graft] def hdrRoot(dir: String): String =
    graft.sources.StandingIndex.artifactRoot(dir, "hdr")

  /** The per-(lang, source) HDR sketch persisted as a STANDING
    * ARTIFACT (signature-validated meta row, reuse/rebuild like every
    * other store) — q207's scaladoc says the sketch is what you store
    * at 100 TB; this is that store. ≤ ~2k rows per corpus, built in
    * one pass, and every later quantile question at any rollup level
    * is a sketch-row walk with ZERO corpus reads.
    */
  def ensureHdrArtifact(s: SparkSession, dir: String): String = {
    import graft.sources.StandingIndex
    val root = hdrRoot(dir)
    StandingIndex.ensureArtifact(s, root)(StandingIndex.refresh(s, root,
      StandingIndex.inputSig(s, dir, Seq("documents"), HdrLayout)) {
      hdrSketch(t(s, dir, "documents"), "n_chars", Seq("lang", "source"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/sk")
    })
    s"$root/sk"
  }

  /** q216: quantiles ANSWERED FROM THE STORED SKETCH — the standing
    * artifact merged up to per-lang (count addition, loss-free) and
    * walked for p50/p90/p99. Because the bucket algebra is
    * deterministic and the merge exact, the answer is BIT-IDENTICAL
    * to q207's direct build — so this query shares q207's raw-table
    * oracle verbatim, proving store → merge → extract loses nothing.
    * The plan reads ≤ ~2k sketch rows; the corpus is never scanned
    * (after the one signature pass that guards artifact freshness).
    */
  val q216HdrStanding: Q = (s, dir) => {
    val sk = s.read.parquet(ensureHdrArtifact(s, dir))
      .groupBy(col("lang"), col("bid"))
      .agg(sum(col("cnt")).as("cnt"))
    hdrQuantiles(sk, "lang",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------
  // q151 — phrase search over positional postings
  // ---------------------------------------------------------------

  /** q151's fixed benchmark phrase (present in the synthetic corpus at
    * every scale factor — the fixture vocabulary is closed). */
  val PhraseTerms = Seq("big", "order", "scan")

  /** q151: exact phrase search — the positional-index complement to
    * q97's document-level postings and q80's bag-of-words BM25: find
    * every document containing the three [[PhraseTerms]] ADJACENTLY,
    * with occurrence count and first match position.
    *
    * Engine path: positional postings (token, doc_id, position),
    * filtered to the query terms BEFORE any shuffle (in a standing
    * index this is the term-key lookup; here the filter prunes the
    * exploded scan the same way), then ONE per-doc aggregation pivots
    * the three terms' position lists, and the adjacency check is pure
    * array arithmetic: positions p where p ∈ P₁, p+1 ∈ P₂, p+2 ∈ P₃ —
    * computed as P₁ ∩ (P₂−1) ∩ (P₃−2) with no join back to the text.
    *
    * The oracle is deliberately INDEPENDENT of the index formulation:
    * it rescans each document's token array directly (tok[i..i+2] ==
    * phrase), so a hash match proves the postings pivot + offset
    * intersection finds exactly the occurrences a sequential scan does.
    *
    * Scale shape: only (doc_id, pos) pairs for the THREE query terms
    * ever shuffle — corpus text dies in the scan; the per-doc groups
    * are term-frequency-bounded. A standing positional index would
    * equi-join on the term key instead of re-exploding; the post-lookup
    * algebra is identical.
    */
  val q151PhraseSearch: Q = (s, dir) => {
    val Seq(w1, w2, w3) = PhraseTerms
    val pos = t(s, dir, "documents")
      .select(col("doc_id"), posexplode(expr(LlmOps.toksS)))
      .toDF("doc_id", "pos", "token")
      .filter(col("token").isin(PhraseTerms: _*))
    val byDoc = pos.groupBy(col("doc_id"))
      .agg(
        collect_list(when(col("token") === w1, col("pos"))).as("p1"),
        collect_list(when(col("token") === w2, col("pos"))).as("p2"),
        collect_list(when(col("token") === w3, col("pos"))).as("p3"))
    byDoc
      .withColumn("occ", array_intersect(
        array_intersect(col("p1"), expr("transform(p2, x -> x - 1)")),
        expr("transform(p3, x -> x - 2)")))
      .filter(size(col("occ")) > 0)
      .select(col("doc_id"),
        size(col("occ")).cast("long").as("n_occ"),
        array_min(col("occ")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q98 — blocked fuzzy join (dirty-record linkage)
  // ---------------------------------------------------------------

  /** Candidate pairs must share at least this many distinct 3-grams
    * before paying the edit-distance verify. The q-gram bound (a
    * length-m string at edit distance e shares ≥ m−2−3e trigrams with
    * its original) gives ≥ 2 for the fixture names (m ≥ 7, e ≤ 1 by
    * construction), so blocking loses no true match here; corpora with
    * shorter keys would lower the cut.
    */
  val FuzzyMinSharedGrams = 2
  val FuzzyMaxEdit = 2

  /** q98: entity resolution — link "dirty" records back to a clean
    * catalog via q-gram blocking + edit-distance verify, never
    * all-pairs. The dirty side is derived deterministically (each part
    * name loses one character at a key-dependent position — a typo
    * feed); the catalog side is the distinct name vocabulary.
    *
    * Scale shape: the join key is the 3-gram, so candidate generation
    * is an equi-join (dirty explodes to ~m grams/record; catalog-side
    * gram table is vocabulary-sized). The shared-gram count filter
    * runs BEFORE levenshtein, so the O(m²) verify touches only pairs
    * that can possibly match. Common-gram skew (every name sharing
    * `wid` with "widget") is bounded by the vocabulary, and AQE
    * skew-join splits any hot gram's partition.
    */
  val q98FuzzyJoin: Q = (s, dir) => {
    // names shorter than 3 chars have no trigrams (and no valid typo
    // position): excluded on BOTH sides, matching the oracle's empty
    // range(1, len-1) — without the guard Spark's sequence(1, len-2)
    // would COUNT DOWN (default step -1) and fabricate bogus grams
    val dirty = t(s, dir, "part")
      .filter(length(col("p_name")) >= 3)
      .withColumn("pos", (col("p_partkey") % (length(col("p_name")) - 2) + 2)
        .cast("int"))
      .select(col("p_partkey").as("part_id"),
        concat(expr("substring(p_name, 1, pos - 1)"),
          expr("substring(p_name, pos + 1)")).as("dirty_name"))
      .filter(length(col("dirty_name")) >= 3)
    val names = t(s, dir, "part")
      .filter(length(col("p_name")) >= 3)
      .select(col("p_name").as("name")).distinct()
    def grams(c: String): Column =
      explode(array_distinct(expr(
        s"transform(sequence(1, length($c) - 2), i -> substring($c, i, 3))")))
    val dg = dirty.select(col("part_id"), col("dirty_name"),
      grams("dirty_name").as("g"))
    val ng = names.select(col("name"), grams("name").as("g"))
    val cand = dg.join(ng, Seq("g"))
      .groupBy(col("part_id"), col("dirty_name"), col("name"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= FuzzyMinSharedGrams)
      .withColumn("dist", levenshtein(col("dirty_name"), col("name")))
      .filter(col("dist") <= FuzzyMaxEdit)
    val w = Window.partitionBy(col("part_id"))
      .orderBy(col("dist").asc, col("name").asc)
    cand
      .withColumn("rn", row_number().over(w))
      .withColumn("n_matches", count(lit(1))
        .over(Window.partitionBy(col("part_id"))))
      .filter(col("rn") === 1)
      .select(col("part_id"), col("dirty_name"), col("name").as("match_name"),
        col("dist").cast("int").as("dist"), col("n_matches"))
      .orderBy(col("part_id"))
  }

  // ---------------------------------------------------------------
  // q99 — BPE pair counting (one tokenizer-training iteration)
  // ---------------------------------------------------------------

  /** q99: byte-pair-encoding statistics — the inner loop of BPE
    * tokenizer training: count adjacent symbol pairs across the corpus
    * weighted by word frequency, rank the merge candidates. One
    * iteration (symbols = characters) — the full trainer repeats this
    * against the re-segmented vocabulary.
    *
    * Scale shape: the word-frequency table (vocabulary-sized, NOT
    * corpus-sized) is built first with a map-side-combinable count, so
    * the quadratic-ish pair explosion runs over the vocabulary — the
    * corpus text is touched exactly once. This is why real BPE
    * trainers work from word counts, and the plan mirrors it.
    */
  val q99BpePairs: Q = (s, dir) => {
    val words = t(s, dir, "documents")
      .select(explode(expr(LlmOps.toksS)).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
    words
      .select(col("wf"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(50)
  }

  // ---------------------------------------------------------------
  // q100 — shuffle-key skew diagnostics
  // ---------------------------------------------------------------

  /** q100: key-skew report for the join/aggregation keys a pipeline
    * shuffles on — per key column: row count, distinct keys, the
    * hottest key's count, mean count, the max/mean skew ratio, and the
    * salt factor that would level the hottest key to the mean (what
    * `Salting.saltedJoin` takes as its fan-out). The planning input
    * for AQE-threshold and salting decisions; at 100 TB you run this
    * BEFORE the 6-hour job, not after it dies on one straggler task.
    *
    * Each branch is a per-key count (map-side combinable) followed by
    * a scalar rollup — the heavy shuffle is the per-key table itself,
    * which is exactly the cardinality being measured.
    */
  val q100SkewReport: Q = (s, dir) => {
    def branch(df: DataFrame, rel: String, c: String): DataFrame =
      df.groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"))
        .select(lit(rel).as("rel"), lit(c).as("key_col"),
          col("n_rows").cast("long").as("n_rows"), col("n_keys"),
          col("max_cnt"),
          round(col("n_rows").cast("double") / col("n_keys"), 2).as("mean_cnt"),
          round(col("max_cnt") * col("n_keys").cast("double") / col("n_rows"), 4)
            .as("skew_ratio"),
          ceil(col("max_cnt") * col("n_keys").cast("double") / col("n_rows"))
            .cast("long").as("salt_factor"))
    val li = t(s, dir, "lineitem")
    branch(li, "lineitem", "l_partkey")
      .unionAll(branch(li, "lineitem", "l_suppkey"))
      .unionAll(branch(t(s, dir, "events"), "events", "user_id"))
      .orderBy(col("rel"), col("key_col"))
  }

  // ---------------------------------------------------------------
  // q119 — KMV distinct sketches + set-operation estimates
  // ---------------------------------------------------------------

  /** KMV sketch size (k smallest hash values per set). */
  val KmvK = 256

  /** q119: KMV (k-minimum-values) distinct-count sketches — the
    * MERGEABLE distinct estimator whose sketch is a pure function of
    * the data: the k smallest 60-bit hashes of the key set. Unlike an
    * HLL register file, the sketch and therefore the ESTIMATE are
    * bit-identical on every engine, so the oracle checks the estimates
    * themselves, not a tolerance booleans dance (contrast q32).
    * Estimate = (k−1)/u_k with u_k the k-th smallest hash normalized
    * to (0,1); the union sketch is the k smallest of the two sketches'
    * union — the sketch algebra a federation layer runs instead of
    * re-scanning either side.
    *
    * Scale shape: each sketch is a global top-k by hash —
    * TakeOrderedAndProject, map-side partial k-heaps, no full sort;
    * the union estimate touches only 2k sketch rows. Exact counts ride
    * along for the reported relative error.
    */
  private val kmvKeyCache = new graft.SessionCache

  val q119KmvSketch: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    def keys(c: String): DataFrame =
      li.select(col(c).cast("string").as("key")).distinct()
        .withColumn("u",
          expr(s"${LlmOps.hashS("concat('kmv:', key)")}").cast("double") /
            lit(1152921504606846976.0)) // 2^60
    def sketch(df: DataFrame): DataFrame =
      df.select(col("u")).orderBy(col("u").asc).limit(KmvK)
    def estimate(sk: DataFrame, name: String, exact: DataFrame): DataFrame =
      sk.agg(max(col("u")).as("uk"), count(lit(1)).as("kk"))
        .crossJoin(exact)
        .select(lit(name).as("set_name"), col("n_exact"),
          round((col("kk") - 1).cast("double") / col("uk"), 2).as("n_est"),
          round(abs((col("kk") - 1) / col("uk") - col("n_exact")) /
            col("n_exact"), 6).as("rel_err"))
    // each key table feeds THREE consumers (its sketch, its exact
    // count, the union's exact count) — materialize the distinct+hash
    // scan once per side (20k/150k-row tables) instead of replaying
    // the 600k-row distinct shuffle per consumer. LAZY checkpoints
    // inside a SessionCache: constructing the query (plan inspection,
    // PlanSpec/ScaleAuditSpec) runs zero jobs, the first action
    // materializes once, and repeat q119 invocations reuse the same
    // checkpoints (evicted on application end) instead of stacking
    // new RDDs per call
    val parts = kmvKeyCache.getOrElseUpdate(s, s"$dir#l_partkey")(
      keys("l_partkey").materialize(false))
    val orders = kmvKeyCache.getOrElseUpdate(s, s"$dir#l_orderkey")(
      keys("l_orderkey").materialize(false))
    // lazy for the same plan-inspection reason as the key tables
    val skP = sketch(parts).materialize(false)
    val skO = sketch(orders).materialize(false)
    // sketch algebra, no rescan; distinct because set union dedups
    // (partkey 123 and orderkey 123 are the same key string)
    val skU = sketch(skP.unionAll(skO).distinct())
    val exP = parts.agg(count(lit(1)).as("n_exact"))
    val exO = orders.agg(count(lit(1)).as("n_exact"))
    // exact union: partkeys and orderkeys hash apart, but compute it
    // honestly over the distinct key union
    val exU = parts.select(col("key")).unionAll(orders.select(col("key")))
      .distinct().agg(count(lit(1)).as("n_exact"))
    estimate(skP, "parts", exP)
      .unionAll(estimate(skO, "orders", exO))
      .unionAll(estimate(skU, "union", exU))
      .orderBy(col("set_name"))
  }

  // ---------------------------------------------------------------
  // q146 — KMV-sample quantile estimation (grouped, mergeable)
  // ---------------------------------------------------------------

  /** q146 sample size (per group). */
  val KmvQK = 128
  /** q146 probe quantiles (name → probability). */
  val KmvQProbs: Seq[(String, Double)] =
    Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  /** q146: grouped quantile ESTIMATION from a KMV bottom-k sample —
    * the mergeable rank sketch q119's distinct counter extends to: the
    * k smallest stable-hashed distinct values per group are a uniform
    * sample of the group's value domain, so the sample's empirical
    * quantiles estimate the distinct-value quantiles. Unlike GK / KLL /
    * t-digest — whose compactions depend on partial-buffer merge order,
    * which Spark does not fix across runs — the bottom-k sample is a
    * pure set function of the data ([[graft.functions.KmvSample]]), so
    * the ESTIMATES themselves are deterministic and value-checked by
    * the oracle (`QUALIFY row_number() OVER (ORDER BY h, v) <= k`),
    * not just bounded by a tolerance flag (contrast q32's HLL).
    *
    * Estimator: for probability p over a sorted m-sample, take index
    * floor(p·(m−1)) — the same rule applied to the full sorted
    * distinct-value set gives the exact baseline reported next to it.
    *
    * Scale shape (q32 pattern): ONE distinct shuffle of (group, value)
    * feeds both sides. The exact baseline then fully sorts each group's
    * distinct values (the cost a sketch exists to avoid — kept as the
    * in-query ground truth); the KMV side is the scale path: k-sized
    * trees per group per task, map-side partial aggregation, k rows
    * per group on the shuffle. Values are centified to BIGINT so no
    * float ever enters the sample or the hash.
    */
  val q146KmvQuantiles: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val dv = li
      .filter(col("l_extendedprice").isNotNull)
      .select(
        coalesce(col("l_returnflag"), lit("?")).as("returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
      .distinct()
      .withColumn("hv",
        expr(LlmOps.hashS("concat('kq:', CAST(v AS STRING))")))
    val ranked = dv
      .withColumn("rn", row_number().over(
        Window.partitionBy("returnflag").orderBy("v")))
      .withColumn("d", count(lit(1)).over(Window.partitionBy("returnflag")))
    // exact AND KMV estimators ride ONE aggregation over the ranked
    // frame: the window's hash(returnflag) output partitioning already
    // satisfies the groupBy, so the whole query is scan → distinct →
    // window → final agg with NO second lineitem scan, NO second
    // per-group exchange, and NO join (the old two-branch form planned
    // `dv` twice — the window columns under one branch defeat exchange
    // reuse — then paid a join to glue two single-row-per-group
    // aggregates back together). kmv_sample sees the same (hv, v)
    // multiset either way, so every output cell is unchanged.
    val aggs =
      (max(col("d")).as("n_distinct") +:
        KmvQProbs.map { case (nm, p) =>
          max(when(col("rn") - 1 === floor(lit(p) * (col("d") - 1)), col("v")))
            .as(s"exact_$nm")
        }) :+
        graft.functions.KmvSample
          .kmv_sample(struct(col("hv"), col("v")), KmvQK).as("sample")
    val outCols =
      Seq(col("returnflag"), col("n_distinct"),
        size(col("sample")).cast("long").as("sample_size")) ++
        KmvQProbs.map(p => col(s"exact_${p._1}")) ++
        KmvQProbs.map { case (nm, p) =>
          element_at(col("sample"),
            (floor(lit(p) * (size(col("sample")) - 1)) + 1).cast("int"))
            .as(s"kmv_$nm")
        }
    ranked.groupBy(col("returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(outCols: _*)
      .orderBy(col("returnflag"))
  }

  // ---------------------------------------------------------------
  // q169 — KMV join-cardinality estimation (the planner statistic)
  // ---------------------------------------------------------------

  /** q169 sketch size. 256 is calibrated like q153's k: the sf0.001
    * union key domain (~165 distinct) under-fills it — the exact code
    * path — while sf0.1 (~16.5k) overflows it — the estimation path —
    * so the gate's SFs exercise both estimator branches.
    */
  val JoinEstK = 256

  /** The two-branch bottom-k NDV estimate — exact when the sketch is
    * under-filled (the sketch IS the distinct set), (k−1)/u_k with
    * u_k = h_k/2^60 when filled. ONE definition shared by
    * q169/q176/q177 (ORACLE_DIALECT's own warning: these branches must
    * stay bit-identical across every call site); callers apply their
    * own output rounding.
    */
  private[operators] def kmvNdvEst(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit(k - 1).cast("double") /
        (element_at(sk, k).cast("double") / lit(1152921504606846976.0)))

  /** Oracle twin of [[kmvNdvEst]]'s branch arithmetic over explicit
    * count/max-hash SQL expressions.
    */
  private[operators] def kmvNdvEstSqlD(n: String, hk: String, k: Int): String =
    s"CASE WHEN $n < $k THEN CAST($n AS DOUBLE) ELSE CAST(${k - 1} AS DOUBLE) / (CAST($hk AS DOUBLE) / 1152921504606846976.0) END"

  /** q169: JOIN-SIZE ESTIMATION from bottom-k (KMV) key sketches — the
    * statistic a cost-based planner (or AQE) wants before committing to
    * a join strategy: how many rows will `events ⋈ orders ON user_id =
    * o_custkey` produce, WITHOUT running the join. The classic
    * distinct-value-synopsis construction (Beyer et al., SIGMOD'07):
    *
    *  - each side keeps the bottom-k of a uniform hash of its DISTINCT
    *    keys ([[graft.functions.KmvSample]] — O(k) state, map-side
    *    combinable, merge-order insensitive);
    *  - the union sketch is bottom-k(L_A ∪ L_B); its members present in
    *    BOTH side sketches are a uniform sample of the key
    *    INTERSECTION, giving Jaccard ρ̂ = |sample|/|L_U| and
    *    D̂_∩ = ρ̂ · D̂_∪;
    *  - per-key multiplicities are exact but looked up ONLY for the ≤k
    *    sampled keys (broadcast semi-filter, then count) — the join
    *    size estimate is D̂_∩ × avg(mult_A·mult_B) over the sample.
    *
    * The query emits the estimates NEXT TO the exact values (full
    * distinct counts, true join cardinality via Σ mult_A·mult_B over
    * the real key intersection) plus the relative error, and the
    * oracle recomputes BOTH columns families from scratch — the
    * estimator itself is value-checked, not just bounded (the q146/
    * q153 discipline). Estimator branches mirror exactly: a sketch
    * with fewer than k entries IS its side's full distinct key set, so
    * the estimate degrades to exact; a filled sketch estimates
    * (k−1)/u_k with u_k = h_k/2^60 (h → double is monotone and both
    * engines round to nearest, so the branch arithmetic is
    * bit-identical).
    *
    * Scale shape: the sketches shuffle k longs per side regardless of
    * corpus size; the multiplicity probe filters each side by a
    * broadcast of ≤k sampled keys BEFORE aggregating (only matching
    * rows shuffle); the exact baseline (two per-key count aggregations
    * + an equi-join) is the verification cost this query exists to
    * show you can avoid — at 100 TB only the sketch path runs, the
    * probe's broadcast stays ≤k keys, and nothing scales with the key
    * domain. The 1-row sketch frame is localCheckpoint'ed so the probe
    * jobs don't re-run the side aggregations.
    */
  val q169JoinCardinality: Q = (s, dir) => {
    val k = JoinEstK
    def keyed(df: DataFrame, c: String): DataFrame = df.select(
      expr(LlmOps.hashS(s"concat('jk:', CAST($c AS STRING))")).as("h"))
    val a = keyed(t(s, dir, "events"), "user_id")
    val b = keyed(t(s, dir, "orders"), "o_custkey")
    def kmvAgg = graft.functions.KmvSample
      .kmv_sample(struct(col("h"), col("h")), k)
    // one aggregation per side: the k-sketch and the exact distinct
    // count (the verification column) share a single pass
    val sk = a.agg(kmvAgg.as("ska"), countDistinct(col("h")).as("nd_a"))
      .crossJoin(b.agg(kmvAgg.as("skb"), countDistinct(col("h")).as("nd_b")))
      .withColumn("lu",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("li",
        array_intersect(array_intersect(col("lu"), col("ska")), col("skb")))
      .materialize()
    def est(c: Column): Column = kmvNdvEst(c, k)
    // exact multiplicities for the ≤k sampled intersection keys only
    val inter = sk.select(explode(col("li")).as("h"))
    def mults(side: DataFrame, cnt: String): DataFrame =
      side.join(broadcast(inter), Seq("h"))
        .groupBy(col("h")).agg(count(lit(1)).as(cnt))
    val prod = mults(a, "ca").join(mults(b, "cb"), Seq("h"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
        .cast("long").as("jprod_sum"))
    // exact baseline: true join cardinality = Σ mult_A·mult_B over the
    // real key intersection (never materializes the joined rows)
    val exact = t(s, dir, "events")
      .groupBy(col("user_id").as("kk")).agg(count(lit(1)).as("xa"))
      .join(t(s, dir, "orders")
        .groupBy(col("o_custkey").as("kk")).agg(count(lit(1)).as("xb")),
        Seq("kk"))
      .agg(coalesce(sum(col("xa") * col("xb")), lit(0L))
          .cast("long").as("join_exact"),
        count(lit(1)).as("nd_inter_exact"))
    val jacRaw = size(col("li")).cast("double") / size(col("lu")).cast("double")
    val estU = est(col("lu"))
    val joinEstRaw = when(size(col("li")) === 0, lit(0.0))
      .otherwise(jacRaw * estU *
        (col("jprod_sum").cast("double") / size(col("li")).cast("double")))
    sk.crossJoin(prod).crossJoin(exact)
      .select(
        lit(k.toLong).as("k"),
        col("nd_a"),
        round(est(col("ska")), 6).as("nd_a_est"),
        col("nd_b"),
        round(est(col("skb")), 6).as("nd_b_est"),
        round(estU, 6).as("nd_union_est"),
        size(col("li")).cast("long").as("n_sample_inter"),
        round(jacRaw, 6).as("jaccard_est"),
        col("nd_inter_exact"),
        round(jacRaw * estU, 6).as("nd_inter_est"),
        col("join_exact"),
        round(joinEstRaw, 6).as("join_est"),
        // NULL (not a division by zero) on a disjoint-key corpus —
        // Spark's x/0.0 and DuckDB's differ, so the guard is parity,
        // not just hygiene
        when(col("join_exact") === 0, lit(null).cast("double"))
          .otherwise(round(abs(joinEstRaw - col("join_exact").cast("double")) /
            col("join_exact").cast("double"), 6)).as("rel_err"))
  }

  // ---------------------------------------------------------------
  // q176 — ANALYZE-style column statistics for the cost-based planner
  // ---------------------------------------------------------------

  /** q176 sketch size (shared rationale with [[JoinEstK]]). */
  val ColStatsK = 256

  /** The (table, column) pairs q176 profiles — string and integer
    * columns only, so the min/max VARCHAR projection is
    * dialect-identical (doubles would drag float-formatting divergence
    * into the hash).
    */
  val ColStatsCols: Seq[(String, String)] = Seq(
    "lineitem" -> "l_returnflag", "orders" -> "o_custkey",
    "orders" -> "o_orderpriority", "customer" -> "c_mktsegment",
    "part" -> "p_brand", "documents" -> "lang",
    "documents" -> "n_chars", "events" -> "user_id",
    "events" -> "event_type")

  /** q176: the `ANALYZE TABLE ... FOR COLUMNS` statistics pass — the
    * table a cost-based optimizer consults for selectivity and join
    * ordering: per column, row count, null count, native-type min/max,
    * and the distinct-value count BOTH ways — exact (the verification
    * baseline) and from the same bottom-k KMV sketch q169's join
    * estimator uses (the O(k)-state path a 100 TB ANALYZE actually
    * runs). Columns with small domains (flags, priorities, segments)
    * exercise the under-filled exact branch while the key columns
    * (o_custkey at sf0.01+, user_id at sf0.1) overflow k and exercise
    * the estimator — the q153/q169 two-branch discipline, all
    * value-checked per branch by the oracle's per-column recompute.
    *
    * Scale shape: ONE aggregation per profiled column (count/nulls/
    * min/max/exact-distinct share the pass with the k-sketch, which
    * shuffles k longs regardless of table size); the 9 single-row
    * results union into the stats table. min/max compute on the
    * NATIVE type and only then cast to VARCHAR, so integer columns
    * order numerically.
    */
  val q176ColumnStats: Q = (s, dir) => {
    val k = ColStatsK
    val parts = ColStatsCols.map { case (tbl, c) =>
      val h = expr(LlmOps.hashS(s"concat('cs:$tbl.$c:', CAST($c AS STRING))"))
      t(s, dir, tbl).agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("ndv_exact"),
          graft.functions.KmvSample.kmv_sample(struct(h, h), k).as("sk"),
          expr(s"CAST(min($c) AS STRING)").as("min_s"),
          expr(s"CAST(max($c) AS STRING)").as("max_s"))
        .select(lit(tbl).as("tbl"), lit(c).as("col_name"),
          col("n_rows"), (col("n_rows") - col("n_nonnull")).as("n_nulls"),
          col("ndv_exact"),
          round(kmvNdvEst(col("sk"), k), 2).as("ndv_est"),
          col("min_s"), col("max_s"))
    }
    parts.reduce(_ unionByName _).orderBy(col("tbl"), col("col_name"))
  }

  // ---------------------------------------------------------------
  // q177 — incremental ANALYZE: mergeable stats maintenance
  // ---------------------------------------------------------------

  /** q177 delta split (residue of [[StandingIndex-style]] doc hash). */
  val StatsDeltaMod = 10

  /** q177: INCREMENTAL statistics maintenance — why a production
    * ANALYZE stores SKETCHES, not answers: when a ~10% delta lands,
    * counts and min/max merge trivially, and the bottom-k KMV NDV
    * sketch merges EXACTLY (bottom-k(base ∪ delta sketches) =
    * bottom-k(whole) — any of the whole corpus's k smallest hashes is
    * among its own segment's k smallest), so the refreshed statistics
    * equal a from-scratch ANALYZE without rescanning the base — the
    * q153/q160 re-aggregation story applied to the planner's stats
    * table. The query emits the merged-path AND direct-path NDV
    * estimates plus their equality flag, and the oracle replays both
    * paths from raw rows (the q153 discipline: a broken merge cannot
    * hide — the flag row would flip).
    *
    * Scale shape: the delta pass scans ONLY delta rows; per (segment,
    * column) one O(k)-state aggregation; the merge is array arithmetic
    * on two k-length sketches. Exact NDV appears nowhere in the
    * maintained path — it is precisely the statistic that does NOT
    * merge, which is the point of sketching.
    */
  val q177StatsMaintenance: Q = (s, dir) => {
    val k = ColStatsK
    val docs = t(s, dir, "documents").withColumn("is_delta",
      pmod(expr(LlmOps.hashS("concat('st:', CAST(doc_id AS STRING))")),
        lit(StatsDeltaMod)) === (StatsDeltaMod - 1))
    def est(c: Column): Column = round(kmvNdvEst(c, k), 2)
    val parts = Seq("lang", "n_chars").map { c =>
      val h = expr(LlmOps.hashS(s"concat('cst:$c:', CAST($c AS STRING))"))
      // segment min/max stay NATIVE-typed so the merge orders
      // numerically for integer columns; only the merged value is
      // cast to the output VARCHAR
      def seg(delta: Boolean) = docs.filter(col("is_delta") === delta).agg(
        count(lit(1)).as("n_rows"),
        count(col(c)).as("n_nonnull"),
        graft.functions.KmvSample.kmv_sample(struct(h, h), k).as("sk"),
        min(col(c)).as("min_v"), max(col(c)).as("max_v"))
      val base = seg(delta = false).select(
        col("n_rows").as("nb"), col("n_nonnull").as("nnb"),
        col("sk").as("skb"), col("min_v").as("minb"), col("max_v").as("maxb"))
      val delta = seg(delta = true).select(
        col("n_rows").as("ndl"), col("n_nonnull").as("nnd"),
        col("sk").as("skd"), col("min_v").as("mind"), col("max_v").as("maxd"))
      val direct = docs.agg(graft.functions.KmvSample
        .kmv_sample(struct(h, h), k).as("ska"))
      base.crossJoin(delta).crossJoin(direct)
        .withColumn("skm",
          slice(array_sort(array_union(col("skb"), col("skd"))), 1, k))
        .select(lit(c).as("col_name"),
          (col("nb") + col("ndl")).as("n_rows"),
          (col("nb") + col("ndl") - col("nnb") - col("nnd")).as("n_nulls"),
          least(col("minb"), col("mind")).cast("string").as("min_s"),
          greatest(col("maxb"), col("maxd")).cast("string").as("max_s"),
          est(col("skm")).as("ndv_est_merged"),
          est(col("ska")).as("ndv_est_direct"),
          (est(col("skm")) === est(col("ska"))).cast("bigint").as("merge_exact"))
    }
    parts.reduce(_ unionByName _).orderBy(col("col_name"))
  }

  // ---------------------------------------------------------------
  // q178 — selectivity-estimation audit (the CBO model vs truth)
  // ---------------------------------------------------------------

  /** q178: SELECTIVITY ESTIMATION next to its truth — the audit of the
    * cost model the q176 statistics feed: equality predicates are
    * estimated with the textbook uniform assumption sel = 1/NDV, range
    * predicates with linear interpolation over [min, max], and each
    * estimate sits beside the actually-measured selectivity with its
    * absolute error — the report that tells a planner team WHERE the
    * uniform assumption is safe (balanced fixture domains) and where
    * real skew would break it. The range predicate's bounds derive
    * from the column's own min/max in integer arithmetic, so the audit
    * is scale-invariant and fully oracle-mirrorable.
    *
    * Scale shape: one aggregation per audited predicate (NDV/count/
    * match share a pass); the range branch runs min/max first and
    * broadcasts the 1-row bounds into the counting pass — exactly the
    * two-phase shape a real optimizer uses (stats lookup, then
    * evaluation).
    */
  val q178SelectivityAudit: Q = (s, dir) => {
    def eq(tbl: String, c: String, v: String, pred: String): DataFrame =
      t(s, dir, tbl).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(c)).as("ndv"),
          count(when(col(c) === v, 1)).as("act_rows"))
        .select(lit(pred).as("pred"), col("n_rows"),
          round(lit(1.0) / col("ndv"), 6).as("est_sel"),
          round(col("act_rows").cast("double") / col("n_rows"), 6)
            .as("act_sel"),
          round(lit(1.0) / col("ndv") * col("n_rows"), 2).as("est_rows"),
          col("act_rows"),
          round(abs(lit(1.0) / col("ndv") -
            col("act_rows").cast("double") / col("n_rows")), 6).as("abs_err"))
    val rangeAudit = {
      val docs = t(s, dir, "documents")
      val bounds = docs.agg(
          min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
        .select(col("mn"), col("mx"),
          expr("mn + (mx - mn) div 4").as("lo"),
          expr("mn + (mx - mn) div 2").as("hi"))
      docs.crossJoin(broadcast(bounds))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("n_chars").between(col("lo"), col("hi")), 1))
            .as("act_rows"),
          max(col("lo") - col("mn")).as("off_lo"),
          max(col("hi") - col("mn")).as("off_hi"),
          max(col("mx") - col("mn")).as("width"))
        .select(lit("range_nchars_q2q3").as("pred"), col("n_rows"),
          round((col("off_hi") - col("off_lo") + 1).cast("double") /
            (col("width") + 1).cast("double"), 6).as("est_sel"),
          round(col("act_rows").cast("double") / col("n_rows"), 6)
            .as("act_sel"),
          round((col("off_hi") - col("off_lo") + 1).cast("double") /
            (col("width") + 1).cast("double") * col("n_rows"), 2)
            .as("est_rows"),
          col("act_rows"),
          round(abs((col("off_hi") - col("off_lo") + 1).cast("double") /
            (col("width") + 1).cast("double") -
            col("act_rows").cast("double") / col("n_rows")), 6).as("abs_err"))
    }
    Seq(eq("documents", "lang", "en", "eq_lang_en"),
      eq("events", "event_type", "view", "eq_event_view"),
      eq("orders", "o_orderpriority", "1-URGENT", "eq_priority_urgent"),
      rangeAudit)
      .reduce(_ unionByName _).orderBy(col("pred"))
  }

  val queries: Map[String, Q] = Map(
    "q178_selectivity_audit" -> q178SelectivityAudit,
    "q177_stats_maintenance" -> q177StatsMaintenance,
    "q176_column_stats" -> q176ColumnStats,
    "q169_join_cardinality" -> q169JoinCardinality,
    "q146_kmv_quantiles" -> q146KmvQuantiles,
    "q119_kmv_sketch" -> q119KmvSketch,
    "q95_heavy_hitters" -> q95HeavyHitters,
    "q123_cms_sketch" -> q123CmsSketch,
    "q97_inverted_index" -> q97InvertedIndex,
    "q151_phrase_search" -> q151PhraseSearch,
    "q153_sketch_rollup" -> q153SketchRollup,
    "q207_hdr_quantiles" -> q207HdrQuantiles,
    "q208_hdr_rollup" -> q208HdrRollup,
    "q216_hdr_standing" -> q216HdrStanding,
    "q98_fuzzy_join" -> q98FuzzyJoin,
    "q99_bpe_pairs" -> q99BpePairs,
    "q100_skew_report" -> q100SkewReport)

  // ---- DuckDB oracle dialect ----

  private val toksD = LlmOps.toksD

  private def skewBranchD(rel: String, c: String): String =
    s"""SELECT '$rel' AS rel, '$c' AS key_col,
       |  CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
       |  max(cnt) AS max_cnt,
       |  round(CAST(sum(cnt) AS DOUBLE) / count(*), 2) AS mean_cnt,
       |  round(max(cnt) * CAST(count(*) AS DOUBLE) / sum(cnt), 4) AS skew_ratio,
       |  CAST(ceil(max(cnt) * CAST(count(*) AS DOUBLE) / sum(cnt)) AS BIGINT)
       |    AS salt_factor
       |FROM (SELECT $c AS k, count(*) AS cnt FROM $rel GROUP BY 1)""".stripMargin

  /** q207/q208 bucket algebra in DuckDB's dialect (`>>`/`<<`/`//` for
    * shiftright/shiftleft/div) — value-identical to [[hdrBid]]/
    * [[hdrRep]]: both engines' `bin` is the minimal-length binary
    * string and every other op is integer-exact.
    */
  private val hdrBidD =
    "CASE WHEN n_chars < 32 THEN CAST(n_chars AS BIGINT) " +
      "ELSE CAST((length(bin(n_chars)) - 1) * 32 + " +
      "((n_chars >> (length(bin(n_chars)) - 6)) & 31) AS BIGINT) END"

  private val hdrRepD =
    "CASE WHEN bid < 32 THEN bid " +
      "ELSE (CAST(32 + bid % 32 AS BIGINT) << CAST(bid // 32 - 5 AS INTEGER)) + " +
      "((CAST(1 AS BIGINT) << CAST(bid // 32 - 5 AS INTEGER)) >> 1) END"

  /** Cumulative sketch walk + rank extraction over a (lang, bid, cnt)
    * relation named `src`, one output column per (name, q).
    */
  private def hdrQuantD(src: String, qs: Seq[(String, Double)]): String = {
    val cols = qs.map { case (name, q) =>
      s"CAST(min(CASE WHEN cum > floor($q*(n-1)) THEN rep END) AS BIGINT) AS $name"
    }.mkString(",\n  ")
    s"""SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
       |  $cols
       |FROM (SELECT lang, bid, $hdrRepD AS rep,
       |    sum(cnt) OVER (PARTITION BY lang ORDER BY bid) AS cum,
       |    sum(cnt) OVER (PARTITION BY lang) AS n
       |  FROM $src)
       |GROUP BY lang""".stripMargin
  }

  private def kmvEstD(sk: String, name: String, exact: String): String =
    s"""SELECT '$name' AS set_name, ($exact) AS n_exact,
       |  round(CAST(kk - 1 AS DOUBLE) / uk, 2) AS n_est,
       |  round(abs(CAST(kk - 1 AS DOUBLE) / uk - ($exact)) / ($exact), 6) AS rel_err
       |FROM (SELECT max(u) AS uk, count(*) AS kk FROM $sk)""".stripMargin

  val oracles: Map[String, String] = Map(
    // q178: each branch recomputes the estimate's inputs (NDV or
    // min/max bounds) and the true match count from raw rows, with the
    // estimator arithmetic mirrored term by term
    "q178_selectivity_audit" -> {
      def eq(tbl: String, c: String, v: String, pred: String): String =
        s"""SELECT '$pred' AS pred, CAST(count(*) AS BIGINT) AS n_rows,
          |  round(1.0 / count(DISTINCT $c), 6) AS est_sel,
          |  round(CAST(count(CASE WHEN $c = '$v' THEN 1 END) AS DOUBLE)
          |    / count(*), 6) AS act_sel,
          |  round(1.0 / count(DISTINCT $c) * count(*), 2) AS est_rows,
          |  CAST(count(CASE WHEN $c = '$v' THEN 1 END) AS BIGINT)
          |    AS act_rows,
          |  round(abs(1.0 / count(DISTINCT $c)
          |    - CAST(count(CASE WHEN $c = '$v' THEN 1 END) AS DOUBLE)
          |      / count(*)), 6) AS abs_err
          |FROM $tbl""".stripMargin
      val rng =
        s"""SELECT 'range_nchars_q2q3' AS pred,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  round(CAST(b.off_hi - b.off_lo + 1 AS DOUBLE)
          |    / CAST(b.width + 1 AS DOUBLE), 6) AS est_sel,
          |  round(CAST(count(CASE WHEN n_chars BETWEEN b.lo AND b.hi
          |    THEN 1 END) AS DOUBLE) / count(*), 6) AS act_sel,
          |  round(CAST(b.off_hi - b.off_lo + 1 AS DOUBLE)
          |    / CAST(b.width + 1 AS DOUBLE) * count(*), 2) AS est_rows,
          |  CAST(count(CASE WHEN n_chars BETWEEN b.lo AND b.hi THEN 1 END)
          |    AS BIGINT) AS act_rows,
          |  round(abs(CAST(b.off_hi - b.off_lo + 1 AS DOUBLE)
          |    / CAST(b.width + 1 AS DOUBLE)
          |    - CAST(count(CASE WHEN n_chars BETWEEN b.lo AND b.hi
          |        THEN 1 END) AS DOUBLE) / count(*)), 6) AS abs_err
          |FROM documents, (
          |  SELECT mn, mx, mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi,
          |    (mx - mn) // 4 AS off_lo,
          |    (mx - mn) // 2 AS off_hi, mx - mn AS width
          |  FROM (SELECT CAST(min(n_chars) AS BIGINT) AS mn,
          |        CAST(max(n_chars) AS BIGINT) AS mx FROM documents)) b
          |GROUP BY b.off_lo, b.off_hi, b.width, b.lo, b.hi""".stripMargin
      Seq(eq("documents", "lang", "en", "eq_lang_en"),
        eq("events", "event_type", "view", "eq_event_view"),
        eq("orders", "o_orderpriority", "1-URGENT", "eq_priority_urgent"),
        rng).mkString("", "\nUNION ALL\n", "\nORDER BY pred")
    },
    // q177: per column, the oracle replays BOTH NDV paths from raw
    // rows — merged = bottom-k(bottom-k(base) ∪ bottom-k(delta)),
    // direct = bottom-k(all) — plus counts and native-type min/max
    // (global min/max equals the merged least/greatest by definition)
    "q177_stats_maintenance" -> {
      val k = ColStatsK
      val hd = LlmOps.hashD("'st:' || CAST(doc_id AS VARCHAR)")
      def ctes(c: String): String = {
        val hs = LlmOps.hashD(s"'cst:$c:' || CAST($c AS VARCHAR)")
        s"""skb_$c AS (SELECT h FROM (
          |    SELECT DISTINCT $hs AS h FROM documents
          |    WHERE $hd % $StatsDeltaMod != ${StatsDeltaMod - 1}
          |      AND $c IS NOT NULL) ORDER BY h LIMIT $k),
          |skd_$c AS (SELECT h FROM (
          |    SELECT DISTINCT $hs AS h FROM documents
          |    WHERE $hd % $StatsDeltaMod = ${StatsDeltaMod - 1}
          |      AND $c IS NOT NULL) ORDER BY h LIMIT $k),
          |skm_$c AS (SELECT h FROM (SELECT h FROM skb_$c
          |    UNION SELECT h FROM skd_$c) ORDER BY h LIMIT $k),
          |ska_$c AS (SELECT h FROM (
          |    SELECT DISTINCT $hs AS h FROM documents
          |    WHERE $c IS NOT NULL) ORDER BY h LIMIT $k)""".stripMargin
      }
      def estQ(src: String): String =
        s"(SELECT round(${kmvNdvEstSqlD("count(*)", "max(h)", k)}, 2) FROM $src)"
      def branch(c: String): String =
        s"""SELECT '$c' AS col_name,
          |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
          |  (SELECT CAST(count(*) - count($c) AS BIGINT) FROM documents)
          |    AS n_nulls,
          |  (SELECT CAST(min($c) AS VARCHAR) FROM documents) AS min_s,
          |  (SELECT CAST(max($c) AS VARCHAR) FROM documents) AS max_s,
          |  ${estQ(s"skm_$c")} AS ndv_est_merged,
          |  ${estQ(s"ska_$c")} AS ndv_est_direct,
          |  CAST(${estQ(s"skm_$c")} = ${estQ(s"ska_$c")} AS BIGINT)
          |    AS merge_exact""".stripMargin
      s"""WITH ${ctes("lang")},
        |${ctes("n_chars")}
        |${branch("lang")}
        |UNION ALL
        |${branch("n_chars")}
        |ORDER BY col_name""".stripMargin
    },
    // q176: one UNION ALL branch per profiled column, each recomputing
    // counts, native-type min/max, and BOTH distinct paths (exact +
    // the bottom-k estimate with q169's branch arithmetic)
    "q176_column_stats" -> {
      val k = ColStatsK
      val branches = ColStatsCols.map { case (tbl, c) =>
        val h = LlmOps.hashD(s"'cs:$tbl.$c:' || CAST($c AS VARCHAR)")
        s"""SELECT '$tbl' AS tbl, '$c' AS col_name,
          |  CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
          |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv_exact,
          |  (SELECT round(${kmvNdvEstSqlD("count(*)", "max(h)", k)}, 2)
          |   FROM (SELECT h FROM (
          |     SELECT DISTINCT $h AS h FROM $tbl WHERE $c IS NOT NULL)
          |     ORDER BY h LIMIT $k)) AS ndv_est,
          |  CAST(min($c) AS VARCHAR) AS min_s,
          |  CAST(max($c) AS VARCHAR) AS max_s
          |FROM $tbl""".stripMargin
      }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, col_name")
    },
    // q169: the oracle recomputes sketches AND exact truths from raw
    // rows; estimator branches (under-filled = exact, filled =
    // (k-1)/u_k) are mirrored term by term so the estimate itself is
    // value-checked, not just its error bound
    "q169_join_cardinality" -> {
      val k = JoinEstK
      val ha = LlmOps.hashD("'jk:' || CAST(user_id AS VARCHAR)")
      val hb = LlmOps.hashD("'jk:' || CAST(o_custkey AS VARCHAR)")
      def estD(n: String, hk: String): String = kmvNdvEstSqlD(n, hk, k)
      s"""WITH ra AS (SELECT CAST($ha AS BIGINT) AS h FROM events),
        |rb AS (SELECT CAST($hb AS BIGINT) AS h FROM orders),
        |da AS (SELECT DISTINCT h FROM ra),
        |db AS (SELECT DISTINCT h FROM rb),
        |la AS (SELECT h FROM da ORDER BY h LIMIT $k),
        |lb AS (SELECT h FROM db ORDER BY h LIMIT $k),
        |lu AS (SELECT h FROM (SELECT h FROM la UNION SELECT h FROM lb) u
        |       ORDER BY h LIMIT $k),
        |li AS (SELECT h FROM lu WHERE h IN (SELECT h FROM la)
        |                          AND h IN (SELECT h FROM lb)),
        |sa AS (SELECT count(*) AS n, max(h) AS hk FROM la),
        |sb AS (SELECT count(*) AS n, max(h) AS hk FROM lb),
        |su AS (SELECT count(*) AS n, max(h) AS hk FROM lu),
        |si AS (SELECT count(*) AS n FROM li),
        |ea AS (SELECT CAST(count(*) AS BIGINT) AS nd_a FROM da),
        |eb AS (SELECT CAST(count(*) AS BIGINT) AS nd_b FROM db),
        |ma AS (SELECT h, count(*) AS c FROM ra
        |       WHERE h IN (SELECT h FROM li) GROUP BY h),
        |mb AS (SELECT h, count(*) AS c FROM rb
        |       WHERE h IN (SELECT h FROM li) GROUP BY h),
        |mp AS (SELECT CAST(coalesce(sum(ma.c * mb.c), 0) AS BIGINT)
        |         AS jprod_sum FROM ma JOIN mb USING (h)),
        |ex AS (SELECT CAST(coalesce(sum(xa.c * xb.c), 0) AS BIGINT)
        |         AS join_exact,
        |         CAST(count(*) AS BIGINT) AS nd_inter_exact
        |       FROM (SELECT user_id AS kk, count(*) AS c FROM events
        |             GROUP BY 1) xa
        |       JOIN (SELECT o_custkey AS kk, count(*) AS c FROM orders
        |             GROUP BY 1) xb USING (kk)),
        |calc AS (SELECT
        |    CAST(si.n AS DOUBLE) / CAST(su.n AS DOUBLE) AS jac_raw,
        |    ${estD("su.n", "su.hk")} AS est_u,
        |    CASE WHEN si.n = 0 THEN CAST(0 AS DOUBLE)
        |         ELSE (CAST(si.n AS DOUBLE) / CAST(su.n AS DOUBLE))
        |              * ${estD("su.n", "su.hk")}
        |              * (CAST(mp.jprod_sum AS DOUBLE) / CAST(si.n AS DOUBLE))
        |    END AS join_est_raw
        |  FROM su, si, mp)
        |SELECT CAST($k AS BIGINT) AS k,
        |  ea.nd_a, round(${estD("sa.n", "sa.hk")}, 6) AS nd_a_est,
        |  eb.nd_b, round(${estD("sb.n", "sb.hk")}, 6) AS nd_b_est,
        |  round(calc.est_u, 6) AS nd_union_est,
        |  CAST(si.n AS BIGINT) AS n_sample_inter,
        |  round(calc.jac_raw, 6) AS jaccard_est,
        |  ex.nd_inter_exact,
        |  round(calc.jac_raw * calc.est_u, 6) AS nd_inter_est,
        |  ex.join_exact,
        |  round(calc.join_est_raw, 6) AS join_est,
        |  CASE WHEN ex.join_exact = 0 THEN CAST(NULL AS DOUBLE)
        |    ELSE round(abs(calc.join_est_raw - CAST(ex.join_exact AS DOUBLE))
        |      / CAST(ex.join_exact AS DOUBLE), 6) END AS rel_err
        |FROM sa, sb, su, si, ea, eb, mp, ex, calc""".stripMargin
    },
    "q146_kmv_quantiles" -> {
      val h = LlmOps.hashD("concat('kq:', CAST(v AS VARCHAR))")
      def probe(prefix: String, idxCol: String, nCol: String): String =
        KmvQProbs.map { case (nm, p) =>
          s"max(CASE WHEN $idxCol - 1 = CAST(floor($p * ($nCol - 1)) AS BIGINT) THEN v END) AS ${prefix}_$nm"
        }.mkString(",\n        ")
      s"""WITH dv AS (SELECT DISTINCT coalesce(l_returnflag, '?') AS returnflag,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |      FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |h AS (SELECT returnflag, v, $h AS hv FROM dv),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY returnflag ORDER BY v) AS rn,
        |        row_number() OVER (PARTITION BY returnflag ORDER BY hv, v) AS hr,
        |        count(*) OVER (PARTITION BY returnflag) AS d
        |      FROM h),
        |ex AS (SELECT returnflag, max(d) AS n_distinct,
        |        ${probe("exact", "rn", "d")}
        |       FROM r GROUP BY 1),
        |sr AS (SELECT returnflag, v,
        |        row_number() OVER (PARTITION BY returnflag ORDER BY v) AS sv,
        |        count(*) OVER (PARTITION BY returnflag) AS m
        |       FROM r WHERE hr <= $KmvQK),
        |es AS (SELECT returnflag, max(m) AS sample_size,
        |        ${probe("kmv", "sv", "m")}
        |       FROM sr GROUP BY 1)
        |SELECT returnflag, n_distinct, sample_size,
        |  exact_p50, exact_p90, exact_p99, kmv_p50, kmv_p90, kmv_p99
        |FROM ex JOIN es USING (returnflag)
        |ORDER BY returnflag""".stripMargin
    },
    "q119_kmv_sketch" -> {
      val h = LlmOps.hashD("'kmv:' || key")
      s"""WITH pk AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
        |ok AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS key FROM lineitem),
        |pu AS (SELECT $h / 1152921504606846976.0 AS u FROM pk),
        |ou AS (SELECT $h / 1152921504606846976.0 AS u FROM ok),
        |skp AS (SELECT u FROM pu ORDER BY u LIMIT $KmvK),
        |sko AS (SELECT u FROM ou ORDER BY u LIMIT $KmvK),
        |sku AS (SELECT u FROM (SELECT DISTINCT u FROM
        |          (SELECT u FROM skp UNION ALL SELECT u FROM sko))
        |        ORDER BY u LIMIT $KmvK),
        |uni AS (SELECT count(*) AS n FROM (
        |          SELECT key FROM pk UNION SELECT key FROM ok))
        |SELECT * FROM (
        |${kmvEstD("skp", "parts", "SELECT count(*) FROM pk")}
        |UNION ALL
        |${kmvEstD("sko", "orders", "SELECT count(*) FROM ok")}
        |UNION ALL
        |${kmvEstD("sku", "union", "SELECT n FROM uni")})
        |ORDER BY set_name""".stripMargin
    },
    "q95_heavy_hitters" ->
      s"""WITH i AS (
        |  SELECT substring(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1) AS item
        |  FROM lineitem),
        |n AS (SELECT count(*) AS n_total FROM i),
        |c AS (SELECT item, count(*) AS freq FROM i GROUP BY 1)
        |SELECT item, freq, n.n_total, round(CAST(freq AS DOUBLE) / n.n_total, 6) AS share
        |FROM c, n WHERE freq * $HeavyK > n.n_total
        |ORDER BY item""".stripMargin,
    "q123_cms_sketch" -> {
      import graft.functions.CountMinAgg.{A, B, D, P, W}
      def bucketD(i: Int, hp: String): String =
        s"((${A(i)} * $hp + ${B(i)}) % $P) % $W"
      val cntBranches = (0 until D).map(i =>
        s"SELECT $i AS r, ${bucketD(i, "hp")} AS bucket, count(*) AS c FROM h GROUP BY 2")
        .mkString("\n  UNION ALL ")
      val qBucket = (0 until D).map(i =>
        s"WHEN $i THEN ${bucketD(i, "q.hp")}").mkString(" ")
      s"""WITH i AS (SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
        |h AS (SELECT (${LlmOps.hashD("item")} % $P) AS hp FROM i),
        |cnts AS (
        |  $cntBranches),
        |q AS (
        |  SELECT DISTINCT l_partkey AS item_id,
        |    (${LlmOps.hashD("CAST(l_partkey AS VARCHAR)")} % $P) AS hp
        |  FROM lineitem WHERE l_partkey <= $CmsMaxItem),
        |est AS (
        |  SELECT item_id, min(c) AS cms_est
        |  FROM q JOIN cnts ON cnts.bucket = CASE cnts.r $qBucket END
        |  GROUP BY item_id),
        |ex AS (SELECT l_partkey AS item_id, count(*) AS exact_cnt
        |  FROM lineitem WHERE l_partkey <= $CmsMaxItem GROUP BY 1)
        |SELECT item_id, cms_est, exact_cnt FROM est JOIN ex USING (item_id)
        |ORDER BY item_id""".stripMargin
    },
    "q97_inverted_index" ->
      s"""WITH f AS (
        |  SELECT doc_id, unnest($toksD) AS token FROM documents),
        |tf AS (
        |  SELECT token, doc_id, count(*) AS tf FROM f
        |  WHERE length(token) > 0 GROUP BY 1, 2)
        |SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
        |  array_to_string(
        |    list_slice(list(doc_id || ':' || tf ORDER BY doc_id), 1, $PostingsCap),
        |    ',') AS postings
        |FROM tf GROUP BY token ORDER BY token""".stripMargin,
    "q151_phrase_search" -> {
      // deliberately INDEPENDENT of the positional-index formulation:
      // rescan each token array directly for the adjacent phrase
      val Seq(w1, w2, w3) = PhraseTerms
      s"""WITH b AS (SELECT doc_id, $toksD AS tok FROM documents),
        |occ AS (SELECT doc_id,
        |          list_filter(range(1, len(tok) - 1),
        |            i -> tok[i] = '$w1' AND tok[i + 1] = '$w2'
        |                 AND tok[i + 2] = '$w3') AS hits
        |        FROM b)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_occ,
        |  CAST(hits[1] - 1 AS BIGINT) AS first_pos
        |FROM occ WHERE len(hits) > 0
        |ORDER BY doc_id""".stripMargin
    },
    "q207_hdr_quantiles" ->
      s"""WITH sk AS (
         |  SELECT lang, $hdrBidD AS bid, count(*) AS cnt
         |  FROM documents GROUP BY 1, 2)
         |${hdrQuantD("sk", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))}
         |ORDER BY lang""".stripMargin,
    // q216 shares q207's oracle verbatim: the stored fine sketch
    // merged up is bit-identical to the direct per-lang build
    "q216_hdr_standing" ->
      s"""WITH sk AS (
         |  SELECT lang, $hdrBidD AS bid, count(*) AS cnt
         |  FROM documents GROUP BY 1, 2)
         |${hdrQuantD("sk", Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))}
         |ORDER BY lang""".stripMargin,
    "q208_hdr_rollup" ->
      s"""WITH fine AS (
         |  SELECT lang, source, $hdrBidD AS bid, count(*) AS cnt
         |  FROM documents GROUP BY 1, 2, 3),
         |merged AS (SELECT lang, bid, sum(cnt) AS cnt FROM fine GROUP BY 1, 2),
         |direct AS (
         |  SELECT lang, $hdrBidD AS bid, count(*) AS cnt
         |  FROM documents GROUP BY 1, 2),
         |mq AS (${hdrQuantD("merged",
            Seq("p50_merged" -> 0.5, "p90_merged" -> 0.9))}),
         |dq AS (${hdrQuantD("direct",
            Seq("p50_direct" -> 0.5, "p90_direct" -> 0.9))})
         |SELECT mq.lang, mq.n_docs, p50_merged, p90_merged,
         |  CAST(CASE WHEN p50_merged = p50_direct AND p90_merged = p90_direct
         |    THEN 1 ELSE 0 END AS BIGINT) AS merge_exact
         |FROM mq JOIN dq ON mq.lang = dq.lang
         |ORDER BY mq.lang""".stripMargin,
    "q153_sketch_rollup" -> {
      val h = LlmOps.hashD("'kru:' || CAST(user_id AS VARCHAR)")
      // rank on the BIGINT hash (the engine's kmv_sample order) and
      // only derive the double u = h / 2^60 inside the estimate — a
      // monotone cast, so max(double(h)) == double(max(h)) and the
      // estimate matches the engine's element_at(sk, -1) formulation
      val scopes = "[strftime(d, '%Y-%m') || '_month', strftime(d, '%Y-%m')" +
        " || '_week_' || CAST((EXTRACT(day FROM d) - 1) // 7 AS VARCHAR)]"
      s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |hh AS (SELECT DISTINCT d, CAST($h AS BIGINT) AS h FROM du),
        |daily AS (SELECT d, h FROM (
        |  SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rk FROM hh)
        |  WHERE rk <= $KmvRollupK),
        |sm AS (SELECT DISTINCT s.scope, h FROM daily, LATERAL unnest(
        |  $scopes) AS s(scope)),
        |sd AS (SELECT DISTINCT s.scope, h FROM hh, LATERAL unnest(
        |  $scopes) AS s(scope)),
        |em AS (SELECT scope,
        |    round((count(*) - 1)::DOUBLE
        |      / max(CAST(h AS DOUBLE) / 1152921504606846976.0), 2) AS n_est_merged
        |  FROM (SELECT scope, h,
        |          row_number() OVER (PARTITION BY scope ORDER BY h) AS rk FROM sm)
        |  WHERE rk <= $KmvRollupK GROUP BY scope),
        |ed AS (SELECT scope,
        |    round((count(*) - 1)::DOUBLE
        |      / max(CAST(h AS DOUBLE) / 1152921504606846976.0), 2) AS n_est_direct
        |  FROM (SELECT scope, h,
        |          row_number() OVER (PARTITION BY scope ORDER BY h) AS rk FROM sd)
        |  WHERE rk <= $KmvRollupK GROUP BY scope),
        |ex AS (SELECT scope, CAST(count(*) AS BIGINT) AS n_exact FROM sd GROUP BY scope)
        |SELECT ex.scope, n_exact, n_est_merged, n_est_direct,
        |  CAST(n_est_merged = n_est_direct AS BIGINT) AS rollup_exact
        |FROM ex JOIN em USING (scope) JOIN ed USING (scope)
        |ORDER BY scope""".stripMargin
    },
    "q98_fuzzy_join" ->
      s"""WITH dirty AS (
        |  SELECT p_partkey AS part_id,
        |    substring(p_name, 1, CAST(pos AS INT) - 1)
        |      || substring(p_name, CAST(pos AS INT) + 1) AS dirty_name
        |  FROM (SELECT *, p_partkey % (length(p_name) - 2) + 2 AS pos FROM part
        |        WHERE length(p_name) >= 3)
        |  WHERE length(p_name) - 1 >= 3),
        |names AS (SELECT DISTINCT p_name AS name FROM part
        |          WHERE length(p_name) >= 3),
        |dg AS (
        |  SELECT part_id, dirty_name, unnest(list_distinct(
        |    list_transform(range(1, length(dirty_name) - 1),
        |      i -> substring(dirty_name, CAST(i AS INT), 3)))) AS g
        |  FROM dirty),
        |ng AS (
        |  SELECT name, unnest(list_distinct(
        |    list_transform(range(1, length(name) - 1),
        |      i -> substring(name, CAST(i AS INT), 3)))) AS g
        |  FROM names),
        |cand AS (
        |  SELECT part_id, dirty_name, name, count(*) AS shared
        |  FROM dg JOIN ng USING (g)
        |  GROUP BY 1, 2, 3 HAVING count(*) >= $FuzzyMinSharedGrams),
        |v AS (
        |  SELECT *, levenshtein(dirty_name, name) AS dist FROM cand
        |  WHERE levenshtein(dirty_name, name) <= $FuzzyMaxEdit),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY part_id
        |      ORDER BY dist ASC, name ASC) AS rn,
        |    count(*) OVER (PARTITION BY part_id) AS n_matches
        |  FROM v)
        |SELECT part_id, dirty_name, name AS match_name,
        |  CAST(dist AS INT) AS dist, n_matches
        |FROM r WHERE rn = 1 ORDER BY part_id""".stripMargin,
    "q99_bpe_pairs" ->
      s"""WITH w AS (
        |  SELECT word, count(*) AS wf FROM (
        |    SELECT unnest($toksD) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(word)),
        |    i -> substring(word, CAST(i AS INT), 2))) AS pair, wf
        |  FROM w)
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin,
    "q100_skew_report" ->
      s"""${skewBranchD("lineitem", "l_partkey")}
        |UNION ALL
        |${skewBranchD("lineitem", "l_suppkey")}
        |UNION ALL
        |${skewBranchD("events", "user_id")}
        |ORDER BY rel, key_col""".stripMargin)
}
