package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine
import graft.Engine.MaterializeSyntax

/** LLM-training-data pipeline operators (SURVEY.md §2B "LLM-pipeline";
  * driver north star BASELINE.json): text analysis, exact + near
  * deduplication (MinHash+LSH, SimHash, n-gram Jaccard), embedding
  * similarity search (brute-force and LSH-bucketed ANN) — over the
  * documents/embeddings fixtures, each with a DuckDB oracle.
  *
  * Portability backbone: a 60-bit stable hash derived from md5 — the
  * identical value is computable in DuckDB (`('0x'||substr(md5(s),1,15))
  * ::BIGINT`), so MinHash signatures, SimHash bits, and LSH buckets
  * hash-match across engines with no float involvement.
  *
  * Scale design (100 TB): everything here is shuffle-minimal —
  * signatures are computed map-side (narrow), LSH candidate generation
  * shuffles only (band-key, doc_id) pairs instead of O(n²) text pairs,
  * and verification joins are equi-joins on band keys that AQE can
  * re-balance. Brute-force cosine exists as the correctness baseline;
  * the hyperplane-LSH variant is the scale path (bucket equi-join).
  */
object LlmOps {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Engine.table(s, dir, n)

  // ---- shared constants (mirrored verbatim into the oracles) ----

  /** Modulus for MinHash permutations (30-bit prime: products with the
    * 60-bit base hash stay < 2^63 on both engines). The canonical
    * constants live in ScalarOps (the codegen'd Minhash8 kernel uses
    * them); the Seqs here feed the oracle SQL, so they can never drift.
    */
  val P: Long = graft.functions.ScalarOps.MinhashP
  val MinhashA: Seq[Long] = graft.functions.ScalarOps.MinhashA.toSeq
  val MinhashB: Seq[Long] = graft.functions.ScalarOps.MinhashB.toSeq
  val NumHashes = 8
  val NumBands = 4 // 2 rows per band
  val JaccardThreshold = 0.5
  /** Cosine near-dup cut, calibrated to the fixture corpus (max pairwise
    * cosine ~0.51, p99.9 ~0.38 — real embedding corpora would use ~0.9).
    */
  val CosineNearDupThreshold = 0.4

  /** q74: a bigram must occur this often corpus-wide to be scored. */
  val MinCollocCount = 5L
  /** q78: chunk width and stride in tokens (overlap = width − stride). */
  val ChunkSize = 32
  val ChunkStride = 24
  /** q80: BM25 parameters and the fixed benchmark query. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms = Seq("spark", "table", "join", "vector")
  val Bm25TopK = 20
  /** q76: a 3-gram present in at least this many documents is
    * boilerplate; a doc whose distinct-shingle boilerplate fraction
    * exceeds the threshold is flagged.
    */
  val BoilerplateDf = 5L
  val BoilerplateFracThreshold = 0.2

  val StopEn = Seq("the", "and", "of", "to", "in", "is", "that", "for")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "los", "por")
  val StopFr = Seq("le", "une", "et", "les", "des", "dans", "un", "pour")
  val StopDe = Seq("der", "die", "und", "das", "von", "zu", "mit", "den")

  // ---- SQL fragments, Spark dialect ----

  /** 60-bit stable hash of a string expression (Spark dialect) — the
    * native StableHash64 expression (one call, vs a 4-deep interpreted
    * md5/substring/conv chain inside HOF lambdas, which cannot be
    * codegen'd or CSE'd).
    */
  def hashS(x: String): String = s"stable_hash64($x)"

  /** Whitespace tokens of lowered text. */
  val toksS = "split(trim(lower(text)), '\\\\s+')"

  /** 3-word shingles over a `tok` array column (1-indexed element_at). */
  val shinglesS =
    "transform(sequence(1, size(tok)-2), i -> concat(element_at(tok,i), ' ', element_at(tok,i+1), ' ', element_at(tok,i+2)))"

  private def arr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("array(", ", ", ")")

  private def stopCountS(list: Seq[String]): String =
    s"size(filter(tok, x -> array_contains(${arr(list)}, x)))"

  /** documents with tok column (tokenization is the one shared scan). */
  private def docsTok(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").withColumn("tok", expr(toksS))
  }

  /** Distinct shingles via the codegen'd DistinctShingles3 expression
    * (minhash is invariant to duplicate shingles, so hashing the
    * distinct set computes the same signature over fewer elements).
    */
  private def docsShingled(s: SparkSession, dir: String): DataFrame =
    docsTok(s, dir)
      .filter(size(col("tok")) >= 3)
      .withColumn("sh", graft.functions.Scalars.distinct_shingles3(col("tok")))

  /** MinHash signature table (doc_id, sh, mhs) — map-side only (the
    * codegen'd Minhash8 kernel hashes each shingle once and tracks all 8
    * permuted minima in one pass; the HOF form paid 8 interpreted
    * transform+array_min passes over a materialized hash array), cached
    * per (session, sfDir): q45 references it three times (banding + two
    * shingle join-backs), and a dedup pipeline materializes its
    * signature table once per corpus anyway (MEMORY_AND_DISK — spills,
    * never recomputes the shingling scan).
    */
  private val signedCache =
    new graft.SessionCache

  private def docsSigned(s: SparkSession, dir: String): DataFrame =
    signedCache.getOrElseUpdate(s, dir)(
      docsShingled(s, dir)
        .withColumn("mhs", graft.functions.Scalars.minhash8(col("sh")))
        .select(col("doc_id"), col("lang"), col("sh"), col("mhs"))
        .cache())

  /** Rounded cosine similarity (Column form): the codegen'd CosineSim
    * kernel + Spark round — bit-identical to the interpreted
    * aggregate()-fold SQL fragment it replaces; ranking stays on the
    * rounded score.
    */
  private def cosineC(a: Column, b: Column): Column =
    round(graft.functions.Scalars.cosine_sim(a, b), 6)

  /** Per-(session, sfDir) cache of the SimHash signature DataFrame
    * (doc_id, simhash): q46 / q55 / q62 all derive from the same
    * signatures, and a dedup pipeline computes them once per corpus —
    * two longs per document, cached MEMORY_AND_DISK.
    */
  private val sigCache =
    new graft.SessionCache

  /** 60-bit SimHash signatures, computed map-side by the codegen'd
    * Simhash60 kernel (SimHash is per-document state — no explode, no
    * shuffle) and cached across the q46/q55/q62 family.
    */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame =
    sigCache.getOrElseUpdate(s, dir)(
      docsTok(s, dir)
        .select(col("doc_id"), graft.functions.Scalars.simhash60(col("tok")).as("simhash"))
        .cache())

  // ---------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------

  /** q40: per-document text statistics + quality score. All ratios are
    * int/int double divisions — bit-exact across engines.
    */
  val q40TextStats: Q = (s, dir) => {
    docsTok(s, dir)
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .withColumn("n_alpha", length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("n_tokens"), col("n_alpha"),
        (col("n_alpha").cast("double") / col("n_chars")).as("alpha_ratio"),
        (length(col("text")).cast("double") / col("n_tokens")).as("avg_token_span"))
      .orderBy(col("doc_id"))
  }

  /** q41: n-gram-heuristic language ID — stopword hit counts per
    * language, argmax with a fixed priority tie-break.
    */
  /** Stopword-count columns + argmax guess (ties break en>es>fr>de) —
    * the ONE lang-ID definition, shared by q41's per-doc report and
    * q132's confusion matrix.
    */
  private def withLangGuess(df: DataFrame): DataFrame =
    df.withColumn("s_en", expr(stopCountS(StopEn)).cast("long"))
      .withColumn("s_es", expr(stopCountS(StopEs)).cast("long"))
      .withColumn("s_fr", expr(stopCountS(StopFr)).cast("long"))
      .withColumn("s_de", expr(stopCountS(StopDe)).cast("long"))
      .withColumn("lang_guess",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_de"), "es")
          .when(col("s_fr") >= col("s_de"), "fr")
          .otherwise("de"))

  val q41LangId: Q = (s, dir) => {
    withLangGuess(docsTok(s, dir))
      .select(col("doc_id"), col("s_en"), col("s_es"), col("s_fr"), col("s_de"),
        col("lang_guess"))
      .orderBy(col("doc_id"))
  }

  /** q132: lang-ID confusion matrix — labeled language vs q41's guess,
    * with per-label row fractions (the diagonal is per-class recall).
    * The evaluation harness for the classifier the routing pipeline
    * trusts: run it whenever the corpus mix shifts; an off-diagonal
    * cell growing past its baseline is the drift alarm. Map-side
    * classification then a |langs|²-bounded aggregate; the per-label
    * totals ride a window over that tiny table, not a second scan.
    */
  val q132LangidConfusion: Q = (s, dir) => {
    withLangGuess(docsTok(s, dir))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_frac",
        round(col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))), 6))
      .orderBy(col("lang"), col("lang_guess"))
  }

  /** q42: token counting — whitespace tokens and a BPE-ish regex
    * tokenizer (letter runs / digit runs / single punctuation).
    */
  val q42TokenCount: Q = (s, dir) => {
    docsTok(s, dir)
      .select(col("doc_id"),
        size(col("tok")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .cast("long").as("bpe_tokens"),
        (length(col("text")).cast("double") /
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** q43: document fingerprinting — md5 of normalized text plus a
    * rolling min-hash over char 8-grams (winnowing-style content
    * fingerprint robust to reordering at the edges). The per-gram hash
    * loops run as codegen'd Catalyst expressions (MinGramHash /
    * MinRollingHash — tight static-call loops inside whole-stage
    * codegen): an interpreted HOF here costs ~30 µs/gram and a typed
    * mapPartitions would pay an encoder boundary per row; the native
    * expressions keep the loop AND the single codegen stage.
    */
  val q43Fingerprint: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("norm", expr("trim(lower(text))"))
      .filter(length(col("norm")) >= 8)
      .select(col("doc_id"),
        md5(col("norm").cast("binary")).as("md5_fp"),
        graft.functions.Scalars.min_gram_hash(col("norm")).as("min_gram_hash"),
        // true Rabin-Karp rolling fingerprint: O(1) per window step
        graft.functions.Scalars.min_rolling_hash(col("norm")).as("rolling_fp"))
      .orderBy(col("doc_id"))
  }

  /** q54: composite quality score — the filter a training-data pipeline
    * applies before ingestion: token-count saturation, punctuation
    * pressure, stopword presence, alphabetic density, combined with
    * fixed weights and banded. All terms are int/int double divisions
    * combined in identical order on both engines → bit-exact.
    */
  /** Adds the q54 composite `quality` column (plus its intermediates,
    * suffixed _q) to a frame carrying (text, n_chars, tok) — shared by
    * q54 and the q73 single-pass pipeline so the score is the same
    * expression tree (hence bit-identical doubles) in both.
    */
  private[graft] def withQualityScore(df: DataFrame): DataFrame = df
    .withColumn("n_tokens_q", size(col("tok")))
    .withColumn("n_alpha", length(regexp_replace(lower(col("text")), "[^a-z]", "")))
    .withColumn("n_punct",
      length(col("text")) - length(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
    .withColumn("n_stop", expr(stopCountS(StopEn)))
    .withColumn("quality", expr(
      """0.3 * least(1.0, CAST(n_tokens_q AS DOUBLE) / 50.0)
        | + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
        | + 0.2 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE) / n_tokens_q)
        | + 0.2 * (CAST(n_alpha AS DOUBLE) / n_chars)""".stripMargin))

  /** Per-(session, sfDir) cached quality MANIFEST (doc_id, lang,
    * source, n_tokens, quality) — ~40 bytes per document. Four
    * selection-stage queries (q54 banding, q72 token budget, q85
    * cluster reps, q90 quantile norm) all key off the same score; a
    * real pipeline materializes this manifest once per corpus and every
    * selection pass reads it instead of re-running the regex/stopword
    * scan over the text (MEMORY_AND_DISK — spills, never recomputes).
    * The score column is the withQualityScore expression tree, so it
    * stays bit-identical to q54's oracle.
    */
  private val qualityCache =
    new graft.SessionCache

  private[graft] def qualityTable(s: SparkSession, dir: String): DataFrame =
    qualityCache.getOrElseUpdate(s, dir)(
      withQualityScore(docsTok(s, dir))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens_q").cast("long").as("n_tokens"), col("quality"))
        .cache())

  val q54QualityScore: Q = (s, dir) => {
    qualityTable(s, dir)
      .withColumn("band",
        when(col("quality") >= 0.8, "high")
          .when(col("quality") >= 0.6, "medium")
          .otherwise("low"))
      .select(col("doc_id"), col("quality"), col("band"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // Deduplication
  // ---------------------------------------------------------------

  /** q44: exact dedup by content hash — canonical = min doc_id per
    * hash group (a single hash-shuffle; the standard 100 TB exact-dedup
    * shape: group by digest, keep one).
    */
  val q44ExactDedup: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("canonical_doc_id"), col("content_hash"), col("n_copies"))
      .orderBy(col("canonical_doc_id"))
  }

  /** q45: MinHash + LSH near-dup pairs. Shingle → 8-hash signature
    * (map-side), 4 bands × 2 rows → band-key equi-join for candidates,
    * then exact Jaccard verification ≥ 0.5. The only shuffle carries
    * (band_key, doc_id) pairs — never O(n²) and never full text.
    */
  val q45MinhashLsh: Q = (s, dir) => {
    val signed = docsSigned(s, dir)
      .select(col("doc_id"), col("sh").as("shd"), col("mhs"))
    // the band join carries ONLY (doc_id, band, bkey) — candidate pairs
    // are deduped as bare id pairs, and the shingle arrays join back
    // afterward (2 corpus-sized array shuffles instead of the 4-per-band
    // copies the band join itself would move, and the distinct() hashes
    // 16-byte pairs instead of string arrays)
    val bands = signed.selectExpr("doc_id",
      "stack(4, 0, concat(mhs[0], ':', mhs[1]), 1, concat(mhs[2], ':', mhs[3]), 2, concat(mhs[4], ':', mhs[5]), 3, concat(mhs[6], ':', mhs[7])) as (band, bkey)")
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(signed.select(col("doc_id").as("doc_a"), col("shd").as("sh_a")), Seq("doc_a"))
      .join(signed.select(col("doc_id").as("doc_b"), col("shd").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q127 reports pairs whose max-containment reaches this. */
  val ContainThreshold = 0.8

  /** q129 calibrates over same-lang pairs within this doc_id window. */
  val CalibWindow = 25

  /** q129: minhash calibration audit — for every same-lang pair within
    * a [[CalibWindow]]-id window (q47's ground-truth domain), compare
    * the SKETCH's similarity estimate (matching signature components /
    * 8) against the exact shingle Jaccard, bucketed by match count.
    * This is the audit a dedup pipeline runs before trusting its
    * banding thresholds on a new corpus: if the avg exact Jaccard in
    * the high-match buckets sags, the shingle width or hash count is
    * wrong for this data. Reuses the cached signature table (zero new
    * corpus scans in-session); the pair join rides the q47 block trick
    * — the window predicate folds into a (lang, id-block) equi-key, so
    * candidate fan-out stays per-block and never cross-corpus.
    */
  val q129MinhashCalibration: Q = (s, dir) => {
    val sg = docsSigned(s, dir)
      .select(col("doc_id"), col("lang"), col("sh").as("shd"), col("mhs"))
    val a = sg.select(col("doc_id").as("doc_a"), col("lang"),
      col("shd").as("sh_a"), col("mhs").as("mhs_a"),
      floor(col("doc_id") / CalibWindow).as("blk"))
    val b = sg.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("shd").as("sh_b"), col("mhs").as("mhs_b"),
      explode(array(floor(col("doc_id") / CalibWindow),
        floor(col("doc_id") / CalibWindow) - 1)).as("blk_b"))
    val nMatch = (0 until NumHashes)
      .map(i => when(col("mhs_a")(i) === col("mhs_b")(i), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b, col("lang") === col("lang_b") && col("blk") === col("blk_b") &&
        col("doc_b") > col("doc_a") &&
        col("doc_b") - col("doc_a") <= CalibWindow)
      .select(
        nMatch.as("n_match"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 6).as("j"))
      // avg over the 6-dp-rounded j's in FIXED POINT: a double sum's
      // accumulation order differs between engines, and at sf0.1 one
      // group's quotient lands exactly on a 6-dp rounding boundary
      // (0.0158785) — the 1-ulp order difference flipped the hashed
      // text. Summing exact integers (j is already 6-dp, so j*1e6 is
      // an integer) makes the single final division identical on both
      // sides (ORACLE_DIALECT float-parity rule: exactness → scaled
      // integers).
      .withColumn("jfx", round(col("j") * lit(1000000.0)).cast("long"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("jfx")).cast("double") / lit(1000000.0)) /
          count(lit(1)), 6).as("avg_jaccard"),
        min(col("j")).as("min_jaccard"), max(col("j")).as("max_jaccard"))
      .orderBy(col("n_match"))
  }

  /** q127: containment near-dup — the asymmetric complement to q45's
    * Jaccard: containment |A∩B| / min(|A|,|B|) fires when one document
    * is a near-SUBSET of another (a quote-with-commentary, a page
    * embedding a syndicated article), which plain Jaccard misses
    * because the union is dominated by the larger document. Candidates
    * come from the same minhash band join (and the same cached
    * signature table — the banding scan is shared with q45/q62 within
    * a session), so the added cost over a Jaccard pass is only the
    * changed denominator.
    */
  val q127ContainmentDedup: Q = (s, dir) => {
    val signed = docsSigned(s, dir)
      .select(col("doc_id"), col("sh").as("shd"), col("mhs"))
    val bands = signed.selectExpr("doc_id",
      "stack(4, 0, concat(mhs[0], ':', mhs[1]), 1, concat(mhs[2], ':', mhs[3]), 2, concat(mhs[4], ':', mhs[5]), 3, concat(mhs[6], ':', mhs[7])) as (band, bkey)")
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(signed.select(col("doc_id").as("doc_a"), col("shd").as("sh_a")), Seq("doc_a"))
      .join(signed.select(col("doc_id").as("doc_b"), col("shd").as("sh_b")), Seq("doc_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("containment") >= ContainThreshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q46: 60-bit SimHash — per-token hash bits voted ±1, majority sign
    * per bit position, over the full width of the portable
    * stable_hash64 (60 usable bits). SimHash is per-document state, so
    * the signature computes MAP-SIDE in one codegen'd pass (Simhash60) —
    * no explode, no shuffle; the oracle's exploded two-level aggregation
    * produces bit-identical values. 60 bits keeps the signature
    * birthday-safe to ~2^30 documents (a 32-bit signature collides from
    * ~65k docs).
    */
  val q46Simhash: Q = (s, dir) =>
    simhashSigs(s, dir).orderBy(col("doc_id"))

  /** q47: blocked n-gram Jaccard as a SET-SIMILARITY JOIN: explode
    * distinct shingles, equi-join on (lang, shingle) with the cheap
    * block predicates, count matches per pair → |A∩B|, and derive
    * Jaccard from precomputed set sizes (|A∪B| = |A|+|B|−|A∩B|).
    *
    * Why not per-pair array_intersect: Catalyst pushes a jaccard>0
    * filter into the join condition ahead of the cheap range predicates
    * and evaluates O(candidate-pairs) full array intersections — 155 s
    * at sf0.1. The explode-join shape shuffles only (shingle, doc_id,
    * size) rows, aggregates map-side, and is the formulation that holds
    * at 100 TB (pairs sharing no shingle are never materialized — which
    * also IS the jaccard > 0 predicate).
    */
  val q47NgramJaccard: Q = (s, dir) => {
    // rides the session-cached SIGNATURE table (docsSigned): its `sh`
    // IS this query's distinct-shingle set (same distinct_shingles3
    // kernel behind the same ≥3-token filter), so BOTH join sides read
    // the one cached table instead of each re-running the
    // scan+tokenize+shingle subtree (guide §1.2 — the r17 materialize
    // discipline, here via the cache q45/q55/q62/q127/q129 already
    // share, so within a session the shingling scan runs once total).
    val sh = docsSigned(s, dir)
      .select(col("doc_id"), col("lang"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle"))
    // Block the id-range predicate into the equi key: doc_a within 25
    // below doc_b spans at most blocks {blk(doc_b)-1, blk(doc_b)}, so
    // the b side probes two blocks and frequent shingles no longer
    // produce cross-corpus pair blowup.
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"),
      col("sz").as("sz_a"), col("shingle"),
      floor(col("doc_id") / 25).as("blk"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
      col("sz").as("sz_b"), col("shingle").as("shingle_b"),
      explode(array(floor(col("doc_id") / 25), floor(col("doc_id") / 25) - 1))
        .as("blk_b"))
    a.join(b, col("lang") === col("lang_b") && col("shingle") === col("shingle_b") &&
        col("blk") === col("blk_b") &&
        col("doc_b") > col("doc_a") && col("doc_b") - col("doc_a") <= 25)
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  /** q55: SimHash near-dup PAIRS — the O(n) use of the q46 signatures:
    * band the 60-bit simhash into four 15-bit keys (a pair within
    * hamming distance 3 must agree on ≥1 band — 4 bands, ≤3 flipped
    * bits, pigeonhole), candidate pairs via band equi-join, verify with
    * bit_count(xor) ≤ 3.
    *
    * Scale argument: 15-bit bands give 32768 buckets per band, so at
    * n documents a band bucket holds ~n/2^15 docs and candidate pairs
    * grow as 4·n²/2^15 only for *uniformly random* signatures — and
    * real near-dup clusters dominate that term, which is exactly the
    * work the operator must do. The previous 8-bit banding (256
    * buckets) degenerated toward all-pairs beyond ~10^5 docs; 15-bit
    * banding holds to ~10^9 (bucket occupancy 30k at n=10^9, each
    * bucket joined independently and shuffle-partitioned by key).
    */
  val q55SimhashPairs: Q = (s, dir) => {
    val sig = simhashSigs(s, dir) // doc_id, simhash (cached across q46/q55/q62)
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        "array(concat('b0:', shiftright(simhash, 0) & 32767), concat('b1:', shiftright(simhash, 15) & 32767), " +
          "concat('b2:', shiftright(simhash, 30) & 32767), concat('b3:', shiftright(simhash, 45) & 32767))"))
        .as("bkey"))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"), col("bkey"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("bkey").as("bkey_b"))
    a.join(b, col("bkey") === col("bkey_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------
  // Similarity search over embeddings
  // ---------------------------------------------------------------

  /** q48: brute-force cosine top-k (k=5) for query vectors vec_id<10 —
    * the correctness baseline for ANN. Ranking is on the ROUNDED score
    * (+ vec_id tiebreak) so order is engine-independent. At scale this
    * is a broadcast of the query set against a partitioned scan of the
    * corpus — linear, not quadratic, in corpus size.
    */
  val q48CosineTopk: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** q49: per-label embedding statistics (norms exact-summed via
    * decimal after rounding, so group aggregation order can't bite).
    */
  val q49EmbeddingStats: Q = (s, dir) => {
    t(s, dir, "embeddings")
      .withColumn("norm", expr(
        "round(sqrt(aggregate(embedding, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))), 6)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("norm").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("avg_norm"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  /** q50: LSH-bucketed ANN — 8 deterministic integer hyperplanes (hash-
    * derived weights), sign-bit bucket signature, candidates = same
    * bucket, then exact cosine re-rank (top-1 per query). The scale
    * path: bucket equi-join instead of cross product.
    */
  val q50AnnLsh: Q = (s, dir) => {
    // hyperplane weight for plane i, dim j: hash("hp:i:j") % 2001 - 1000 —
    // precomputed once per JVM inside the codegen'd HyperplaneBucket64
    // kernel (the HOF form re-derived all 512 hashes per row, interpreted)
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", graft.functions.Scalars.hyperplane_bucket64(col("embedding")))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val cand = e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("bucket"), col("vec_id").as("nn_vec_id"), col("score"))
      .orderBy(col("qid"))
  }

  /** q52: cosine top-k via the custom BoundedTopK TypedImperativeAggregate
    * — same result as q48, but per-group k-heaps with map-side partial
    * aggregation instead of a window sort: each task keeps at most k
    * entries per query, the shuffle carries k-sized buffers, and no
    * candidate set is ever fully sorted. The scale path for similarity
    * search (SURVEY §7 M6).
    */
  val q52CosineTopkAgg: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
    scored.groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.top_k(
        struct(col("score"), col("vec_id")), 5).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col("qid"), col("entry.id").as("vec_id"),
        col("entry.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  // ---------------------------------------------------------------

  /** q56: embedding-cosine near-dup dedup — the vector twin of MinHash
    * dedup: hyperplane-LSH buckets (reusing q50's deterministic planes)
    * generate candidates, exact cosine ≥ the corpus-calibrated threshold confirms, and each near-dup
    * pair yields a keep/drop decision (keep min vec_id). At corpus scale
    * only bucket-mates are ever compared.
    */
  val q56CosineNearDup: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
      .withColumn("bucket", graft.functions.Scalars.hyperplane_bucket64(col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"), col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("bucket").as("bucket_b"))
    a.join(b, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
      .withColumn("score", cosineC(col("emb_a"), col("emb_b")))
      .filter(col("score") >= CosineNearDupThreshold)
      .select(col("vec_a").as("keep_vec_id"), col("vec_b").as("drop_vec_id"), col("score"))
      .orderBy(col("keep_vec_id"), col("drop_vec_id"))
  }

  /** Number of IVF coarse centroids (seeded deterministically from the
    * first NumCentroids vectors by vec_id, then refined by two Lloyd
    * iterations — see q57).
    */
  val NumCentroids = 16

  /** Embedding dimensionality of the fixture corpus. */
  val EmbDim = 64

  /** Queries probe their 6 nearest centroids' inverted lists (recall
    * knob; 1 = cheapest, K = brute force). 6 of 16 is the
    * q159-measured coordinate where recall@3 is 1.0 at every fixture
    * SF (nprobe=4 still misses one neighbor at sf0.001; the old
    * nprobe=2 shipped a 0.5 recall floor — too weak for a 100 TB
    * semantic-dedup pass, VERDICT r10 item 4). ScaleTechniquesSpec
    * pins the ≥ 0.9 floor at this width for the whole family.
    */
  val NProbe = 6

  /** q57: IVF (inverted-file) ANN — the other scale path next to
    * hyperplane LSH (q50): seed K centroids deterministically, refine
    * with TWO Lloyd iterations, assign every vector to its nearest
    * refined centroid (broadcast n × K), queries probe their NProbe
    * nearest centroids' inverted lists, exact cosine re-ranks within.
    * Search cost O(nprobe · n/K) per query; recall traded via nprobe.
    *
    * The Lloyd mean is computed in EXACT arithmetic so it is
    * bit-identical in any engine regardless of aggregation order:
    * components scale by 2^20 (exact — float32 mantissa is 24 bits,
    * double carries 53) and round to integers, integer sums are
    * order-independent, and the mean is one double division chain. A
    * float mean would hash-diverge across partitionings.
    */
  val q57AnnIvf: Q = (s, dir) => annIvf(s, dir, NProbe)

  /** IVF search with an explicit nprobe (recall scales with it — see
    * ScaleTechniquesSpec's recall assertion against brute force).
    */
  // nprobe=1 (every corpus/Lloyd assignment): nearest centroid via
  // max_by — a hash aggregation (map-side combinable, one buffer per
  // vector), NOT a row_number window, which would sort the full n×K
  // candidate set per assignment; three assignments per build makes
  // that the whole query's cost. Tie policy matches the window form:
  // highest score, then lowest cent_id (the negated id in the
  // comparator struct).
  private def ivfAssign1(df: DataFrame, cents: DataFrame, idCol: String): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("cscore", cosineC(col("embedding"), col("cent")))
      .groupBy(col(idCol))
      .agg(max_by(
        struct(col("embedding"), col("cent_id")),
        struct(col("cscore"), (-col("cent_id")).as("nc"))).as("best"))
      .select(col(idCol), col("best.embedding").as("embedding"),
        col("best.cent_id").as("cent_id"))

  // nprobe>1 (the 10 probe vectors only): the window form on a
  // probe-sized input
  private def ivfAssign(df: DataFrame, cents: DataFrame, idCol: String,
      nprobe: Int): DataFrame =
    if (nprobe == 1) ivfAssign1(df, cents, idCol)
    else {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cscore").desc, col("cent_id").asc)
      df.crossJoin(broadcast(cents))
        .withColumn("cscore", cosineC(col("embedding"), col("cent")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= nprobe)
        .drop("cscore", "cent")
    }

  /** The refined IVF centroid table (cent_id, cent) — seeds from the
    * first K vectors, two exact-arithmetic Lloyd iterations (see
    * [[q57AnnIvf]]'s scaladoc for why the mean is computed in scaled
    * longs). K rows, localCheckpoint'ed so every consumer broadcasts a
    * flat table instead of replaying the Lloyd lineage. Shared by the
    * IVF search (q57) and SemDeDup (q96).
    */
  private val centsCache =
    new graft.SessionCache

  /** Artifact layout versions, folded into each vector-index signature
    * (ADVICE r12): the stored centroids/codebooks/codes are functions
    * of the corpus AND the training recipe ([[NumCentroids]], [[PqM]]/
    * [[PqK]]/[[PqSubDim]], the seeding rule, the Lloyd round count) —
    * a recipe change without a data change must invalidate the store,
    * the same discipline every other standing artifact already follows
    * (BktLayout, MvLayout, ClsLayout, ShardLayout, JpStatsLayout).
    */
  private val IvfLayout = 1L
  private val PqLayout = 1L
  private val PqrLayout = 1L

  /** Validate-or-build a vector-index artifact under `<prefix>` keyed
    * by the embeddings signature and `layout` — per call, not latched:
    * each query revalidates its index.
    */
  private def refreshVectorIndex(s: SparkSession, dir: String, prefix: String,
      layout: Long)(build: String => Unit): String = {
    import graft.sources.StandingIndex
    val root = StandingIndex.artifactRoot(dir, prefix)
    StandingIndex.refresh(s, root,
      StandingIndex.inputSig(s, dir, Seq("embeddings"), layout))(build(root))
    root
  }

  /** Validate-or-build the PERSISTED quantizer artifact and return its
    * root — the [[graft.sources.StandingIndex]] meta-row discipline
    * applied to the IVF centroid table: a coarse quantizer is exactly
    * the artifact a vector service retrains at stat-refresh cadence
    * (q167's frozen-quantizer premise), so sessions REUSE the stored
    * 16-row table when the embeddings signature matches and pay the
    * two Lloyd passes only when the corpus actually changed. The
    * build is exact arithmetic and parquet stores doubles losslessly,
    * so the stored centroids are bit-identical to a rebuild — the
    * q57/q96/q162 oracles (which replay Lloyd from raw rows) keep
    * hash-matching over the artifact path, which IS the proof of
    * equivalence, re-run every gate.
    */
  private[graft] def ensureIvfArtifact(s: SparkSession, dir: String): String =
    refreshVectorIndex(s, dir, "ivf", IvfLayout) { root =>
      val e = t(s, dir, "embeddings")
      val seeds = e.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
      lloydCentroids(e, seeds)
        .write.mode("overwrite").parquet(s"$root/centroids")
    }

  private[graft] def ivfCentroids(s: SparkSession, dir: String): DataFrame =
    // K rows read from the persisted artifact — cached per (session,
    // dir) because an indexing pipeline opens its coarse quantizer
    // once and q57 (search), q96 (SemDeDup) and q162 (IVF-PQ) consume
    // the same table
    centsCache.getOrElseUpdate(s, dir)(
      s.read.parquet(s"${ensureIvfArtifact(s, dir)}/centroids"))

  /** THE exact-arithmetic Lloyd mean — per-dimension scaled-long sums
    * (order-independent) with one double division at the end — over an
    * assignment, grouped by `groupCols`. One implementation serves the
    * IVF build (group: cent_id over full embeddings) and both PQ
    * codebook trainings (group: (m, code) over subvectors), so a
    * change to the fixed-point scale or rounding cannot silently miss
    * a family. Empty clusters drop out on both engines alike.
    */
  private def lloydMean(assigned: DataFrame, vecCol: String,
      groupCols: Seq[String], outCol: String): DataFrame = {
    val gs = groupCols.map(col)
    assigned
      .select(gs :+ posexplode(col(vecCol)).as(Seq("dim", "x")): _*)
      .groupBy(gs :+ col("dim"): _*)
      .agg(sum(expr("cast(round(cast(x as double) * 1048576) as bigint)")).as("sx"),
        count(lit(1)).as("n"))
      .withColumn("c", col("sx").cast("double") / col("n") / lit(1048576.0))
      .groupBy(gs: _*)
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as(outCol))
  }

  /** Lloyd refinement step for the IVF coarse quantizer. */
  private def lloydStep(assigned: DataFrame): DataFrame =
    lloydMean(assigned, "embedding", Seq("cent_id"), "cent")

  /** Two exact-arithmetic Lloyd iterations from explicit seeds over an
    * explicit training set — shared by the whole-corpus build (q57/q96
    * via [[ivfCentroids]]) and q167's standing-side frozen quantizer.
    * Each centroid table is K rows — localCheckpoint materializes it
    * once so the next iteration (and every downstream assignment,
    * which broadcasts `cents`) starts from a flat K-row RDD instead of
    * re-optimizing and re-broadcasting the whole upstream Lloyd
    * lineage. Iteration count is a build-quality knob, not a
    * correctness one — the exact arithmetic keeps every iteration
    * oracle-matched.
    */
  private def lloydCentroids(e: DataFrame, seeds: DataFrame): DataFrame = {
    val cents1 = lloydStep(ivfAssign(e, seeds, "vec_id", 1)).materialize(true)
    lloydStep(ivfAssign(e, cents1, "vec_id", 1)).materialize(true)
  }

  def annIvf(s: SparkSession, dir: String, nprobeN: Int): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = ivfCentroids(s, dir)
    val corpus = ivfAssign(e, cents, "vec_id", 1)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val probes = ivfAssign(e.filter(col("vec_id") < 10), cents, "vec_id", nprobeN)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cent_id").as("q_cent"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id").asc)
    corpus.join(probes, col("cent_id") === col("q_cent"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cent_id"), col("vec_id"), col("score"),
        col("rn").cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** q159's multi-probe width: 6 of 16 cells searched — the recall/cost
    * point where measured recall@3 is 1.0 at every fixture SF (nprobe=4
    * still misses one neighbor at sf0.001). The oracle pins the ≥ 0.9
    * floor, leaving regen headroom. Since round 11 q57 ships AT this
    * coordinate ([[NProbe]] converged here, VERDICT r10 item 4), so
    * q159 is the recall AUDIT of the exact search width q57 serves.
    */
  val MultiProbeN = NProbe

  /** q159: IVF multi-probe recall gate (VERDICT r9 item 3) — q57's
    * recall floor of 0.5 is too weak for a 100 TB semantic-dedup pass,
    * so this query RAISES the probe width to [[MultiProbeN]] and makes
    * the recall measurement itself the result: per probe query, how
    * many of the exact brute-force top-3 neighbors (q48's linear
    * broadcast scan, the ground-truth baseline) does the multi-probe
    * IVF search return? The ORACLE encodes the floor — it emits rows
    * only when mean recall ≥ 0.9, so a centroid-quality or probe-order
    * regression reds the gate as a row-count mismatch instead of
    * silently shipping a low-recall index.
    *
    * Scale shape: ground truth is computed for the 10-query probe SET
    * only (exactly how production ANN recall is audited — sampled
    * queries, not the full corpus), so the exact branch stays a
    * broadcast-against-scan linear pass; the IVF branch probes
    * nprobe/K of the corpus per query.
    */
  val q159AnnRecall: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val exact3 = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"))
    val ivf3 = annIvf(s, dir, MultiProbeN)
      .select(col("qid").as("iqid"), col("vec_id").as("ivec"))
    exact3.join(ivf3,
        col("qid") === col("iqid") && col("vec_id") === col("ivec"), "left")
      .groupBy(col("qid"))
      .agg(count(col("ivec")).as("hits"))
      .select(col("qid"), col("hits"),
        round(col("hits").cast("double") / 3.0, 6).as("recall"))
      .orderBy(col("qid"))
  }

  /** q161: subspace count (64-dim embedding → 8 subvectors of 8). */
  val PqM = 8

  /** q161: dims per subvector. */
  val PqSubDim = 8

  /** q161: codewords per subspace codebook (codes fit one byte). */
  val PqK = 16

  /** q161: product quantization + asymmetric-distance search — the
    * memory-side ANN scale path next to IVF's (q57) compute-side one,
    * and the pairing FAISS ships as IVF-PQ: each embedding is stored as
    * [[PqM]] one-byte codebook codes (32× smaller than the float
    * vector), and queries score candidates WITHOUT touching original
    * vectors — per query, a [[PqM]]×[[PqK]] lookup table of
    * query-subvector · codeword dot products is built against the
    * broadcast codebooks, and a candidate's score is the sum of its
    * codes' table entries (ADC, Jégou et al. 2011, "Product
    * quantization for nearest neighbor search").
    *
    * Codebooks train per subspace: the first [[PqK]] vectors' subvectors
    * seed, one Lloyd iteration refines with the q57 exact-arithmetic
    * mean (scaled-long sums, so the codebook is bit-identical in any
    * engine regardless of aggregation order); assignment ties break on
    * lowest code. Per-term dots and the final sum round to 6 dp (the
    * q152 discipline) so accumulation order can never flip the hash.
    *
    * Scale shape: codebooks are PqM·PqK rows (broadcast), the code
    * table carries 8 codes per vector (the 32×-compressed "index in
    * RAM" a 100 TB corpus needs), per-query LUTs are 1280 rows for 10
    * probes (broadcast), and scoring is one equi-join on (m, code) +
    * a hash aggregation — no window over the corpus, no original
    * embeddings read after quantization.
    */
  /** Validate-or-build the PERSISTED plain-PQ artifact (subspace
    * codebooks + the per-vector one-byte codes) and return its root —
    * the [[ensureIvfArtifact]] discipline applied to q161's index:
    * codebook training (seed assignment + one exact-arithmetic Lloyd
    * refinement, two corpus scans) and corpus encoding run only when
    * the embeddings signature changed; every other execution reads
    * the PqM·PqK codebook rows and the 8-codes-per-vector table the
    * way a vector service loads its trained index. Exact arithmetic +
    * lossless parquet doubles ⇒ stored ≡ rebuilt, so q161's raw-row
    * DuckDB oracle keeps hash-matching over the artifact path.
    */
  private[graft] def ensurePqArtifact(s: SparkSession, dir: String): String =
    refreshVectorIndex(s, dir, "pq", PqLayout) { root =>
      val subs = pqSubvectors(t(s, dir, "embeddings"))
      val seeds = subs.filter(col("vec_id") < PqK)
        .select(col("m").as("sm"), col("vec_id").as("cent_id"), col("sub").as("cent"))
      val d2 = round(expr(
        "aggregate(zip_with(sub, cent, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"), 6)
      def assign(cents: DataFrame): DataFrame =
        subs.join(broadcast(cents), col("m") === col("sm"))
          .withColumn("d2", d2)
          .groupBy(col("vec_id"), col("m"))
          .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("code"),
            first(col("sub")).as("sub"))
      // one exact-arithmetic Lloyd refinement per subspace codebook
      lloydMean(assign(seeds), "sub", Seq("m", "code"), "cent")
        .select(col("m").as("sm"), col("code").as("cent_id"), col("cent"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
      // encode the corpus against the STORED flat codebooks (the same
      // re-broadcast the old localCheckpoint bought)
      assign(s.read.parquet(s"$root/codebooks"))
        .select(col("vec_id"), col("m"), col("code"))
        .write.mode("overwrite").parquet(s"$root/codes")
    }

  /** The (vec_id, m, sub) subvector split both PQ builds and the
    * query-side LUTs share — doubles, the exact-arithmetic convention.
    */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"),
        col("embedding"))
      .withColumn("sub", expr(
        s"transform(slice(embedding, m * $PqSubDim + 1, $PqSubDim), x -> CAST(x AS DOUBLE))"))
      .drop("embedding")

  val q161PqAdc: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val root = ensurePqArtifact(s, dir)
    val cents1 = s.read.parquet(s"$root/codebooks")
    val codes = s.read.parquet(s"$root/codes")
    // query side only — the probe filter prunes the corpus scan
    val probes = pqSubvectors(e.filter(col("vec_id") < 10))
      .select(col("vec_id").as("qid"), col("m").as("qm"), col("sub").as("qsub"))
    val lut = probes.join(broadcast(cents1), col("qm") === col("sm"))
      .withColumn("pdot", round(expr(
        "aggregate(zip_with(qsub, cent, (x, y) -> x * y), 0D, (a, x) -> a + x)"), 6))
      .select(col("qid"), col("qm").as("m"), col("cent_id").as("code"), col("pdot"))
    val scored = codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      // the 8 rounded pdot terms sum as DECIMAL(18,6) (the actual q152
      // discipline): a double sum's partial-merge order varies with
      // partitioning, and an 8-term total within an ulp of a rounding
      // boundary would flip the hash
      .agg(round(sum(col("pdot").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double"), 6).as("adc"))
    // final top-3 per probe via the bounded k-heap aggregate (VERDICT
    // r10 item 2): the window form sorts the full scored set (10 ×
    // corpus rows) per run; top_k keeps 3 entries per query per task —
    // map-side partial aggregation, k-sized shuffle buffers, no
    // corpus-scale sort. Tie policy (adc DESC, vec_id ASC) is the
    // heap's comparator, identical to the retired window's ORDER BY.
    scored.groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.top_k(
        struct(col("adc"), col("vec_id")), 3).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col("qid"), col("entry.id").as("vec_id"),
        col("entry.score").as("adc"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** q162: IVF-PQ — the composition FAISS ships for billion-vector
    * search, and the natural join of this family's two halves: q57's
    * coarse quantizer bounds WHICH vectors are scored (nprobe cells),
    * and q161's product quantization bounds HOW they are stored (8
    * one-byte codes). The refinement over plain PQ is RESIDUAL
    * encoding: each vector is coded as its offset from its cell
    * centroid (residuals are smaller and better-centered than raw
    * vectors, so the same codebook budget quantizes finer — Jégou et
    * al. 2011 §IV). Scoring uses the inner-product identity
    * q·x = q·c(x) + q·r(x): the first term is exact (16 centroid dots
    * per query), the second is the PQ/ADC lookup-table approximation of
    * the residual.
    *
    * All codebooks train with the exact-arithmetic Lloyd mean and all
    * dots round to 6 dp before summing (q152 discipline), so the
    * index build and search are bit-identical in any engine.
    *
    * Scale shape: the stored index per vector is one cell id + 8 codes
    * (the RAM-resident form a 100 TB corpus needs); a query touches
    * nprobe/K of the corpus, scoring via a broadcast
    * 10×[[PqM]]×[[PqK]] LUT + a broadcast 16-row centroid-dot table —
    * original embeddings are never read at search time.
    */
  /** Validate-or-build the PERSISTED IVF-PQ (residual) artifact —
    * residual codebooks + the (cell id, codes) table — and return its
    * root. Same discipline as [[ensurePqArtifact]]; the signature is
    * the embeddings table's (the coarse quantizer this build consumes
    * is itself a deterministic function of the same signature, via
    * [[ensureIvfArtifact]]).
    */
  private[graft] def ensurePqrArtifact(s: SparkSession, dir: String): String =
    refreshVectorIndex(s, dir, "pqr", PqrLayout) { root =>
      val e = t(s, dir, "embeddings")
      val cents = ivfCentroids(s, dir)
      val corpus = ivfAssign1(e, cents, "vec_id")
      // residual r(x) = x - c(x), in doubles
      val res = corpus
        .join(broadcast(cents.select(col("cent_id").as("rc_id"), col("cent"))),
          col("cent_id") === col("rc_id"))
        .withColumn("residual", expr(
          "zip_with(embedding, cent, (x, y) -> CAST(x AS DOUBLE) - y)"))
        .select(col("vec_id"), col("cent_id"), col("residual"))
      val subs = res
        .select(col("vec_id"), col("cent_id"),
          explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("residual"))
        .withColumn("sub", expr(
          s"slice(residual, m * $PqSubDim + 1, $PqSubDim)"))
        .drop("residual")
      val seeds = subs.filter(col("vec_id") < PqK)
        .select(col("m").as("sm"), col("vec_id").as("code_id"), col("sub").as("cw"))
      val d2 = round(expr(
        "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"), 6)
      def assign(cbooks: DataFrame): DataFrame =
        subs.join(broadcast(cbooks), col("m") === col("sm"))
          .withColumn("d2", d2)
          .groupBy(col("vec_id"), col("cent_id"), col("m"))
          .agg(min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code"),
            first(col("sub")).as("sub"))
      lloydMean(assign(seeds), "sub", Seq("m", "code"), "cw")
        .select(col("m").as("sm"), col("code").as("code_id"), col("cw"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/codebooks")
      // the stored index: one cell id + PqM one-byte codes per vector
      assign(s.read.parquet(s"$root/codebooks"))
        .select(col("vec_id"), col("cent_id"), col("m"), col("code"))
        .write.mode("overwrite").parquet(s"$root/codes")
    }

  val q162IvfPq: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val cents = ivfCentroids(s, dir)
    val root = ensurePqrArtifact(s, dir)
    val cbooks = s.read.parquet(s"$root/codebooks")
    val codes = s.read.parquet(s"$root/codes")
    // query side: nprobe cells + exact q·c per (query, cell)
    val probes = ivfAssign(e.filter(col("vec_id") < 10), cents, "vec_id", NProbe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cent_id").as("q_cent"))
    val qcDot = probes
      .join(broadcast(cents.select(col("cent_id").as("qc_id"), col("cent"))),
        col("q_cent") === col("qc_id"))
      .withColumn("qc_dot", round(expr(
        "aggregate(zip_with(qe, cent, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, x) -> a + x)"), 6))
      .select(col("qid"), col("qe"), col("q_cent"), col("qc_dot"))
    // per-query LUT against the residual codebooks (full-dim q subvectors)
    val qsubs = qcDot.select(col("qid"), col("qe")).distinct()
      .select(col("qid"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qe"))
      .withColumn("qsub", expr(
        s"transform(slice(qe, m * $PqSubDim + 1, $PqSubDim), x -> CAST(x AS DOUBLE))"))
    val lut = qsubs.join(broadcast(cbooks), col("m") === col("sm"))
      .withColumn("pdot", round(expr(
        "aggregate(zip_with(qsub, cw, (x, y) -> x * y), 0D, (a, x) -> a + x)"), 6))
      .select(col("qid").as("lqid"), col("m").as("lm"),
        col("code_id").as("code"), col("pdot"))
    val scored = codes
      .join(broadcast(qcDot.select(col("qid"), col("q_cent"), col("qc_dot"))),
        col("cent_id") === col("q_cent") && col("vec_id") =!= col("qid"))
      .join(broadcast(lut),
        col("lqid") === col("qid") && col("lm") === col("m") &&
          lut("code") === codes("code"))
      .groupBy(col("qid"), col("vec_id"), col("cent_id"))
      // decimal residual-term sum for the same order-independence
      // reason as q161; qc_dot is one already-rounded double added after
      .agg(round(first(col("qc_dot")) +
        sum(col("pdot").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"), 6).as("adc"))
    // top-3 per probe via the bounded k-heap (VERDICT r10 item 2 —
    // same replacement as q161's). The heap entry id packs
    // (vec_id, cent_id) into one long: cent_id < NumCentroids = 16 and
    // is FUNCTIONAL on vec_id (each vector lives in exactly one cell),
    // so ordering by the packed id ascending equals ordering by vec_id
    // ascending — the retired window's exact tie policy — and the cell
    // id rides along without a corpus-side re-join after the top-k.
    scored.groupBy(col("qid"))
      .agg(graft.functions.BoundedTopK.top_k(
        struct(col("adc"),
          (col("vec_id") * NumCentroids + col("cent_id")).cast("long")),
        3).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col("qid"),
        pmod(col("entry.id"), lit(NumCentroids.toLong)).as("cent_id"),
        expr(s"entry.id div $NumCentroids").as("vec_id"),
        col("entry.score").as("adc"), (col("pos") + 1).cast("int").as("rn"))
      .select(col("qid"), col("cent_id"), col("vec_id"), col("adc"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** q167: residue (mod [[DeltaSplitMod]], salt 'vd:') playing the
    * freshly-ingested vector delta.
    */
  val VecDeltaSalt = "vd:"

  /** q167: IVF index maintenance under ingest — the VECTOR member of
    * the standing-index trilogy (q160 positional, q165/q166
    * similarity): a production vector index does NOT retrain its
    * coarse quantizer per ingest batch — centroids FREEZE over the
    * standing corpus (retrained only at stat-refresh cadence), and a
    * delta batch is folded in by assigning each new vector to its
    * nearest frozen cell, an append to that cell's inverted list. This
    * query runs exactly that: two exact-Lloyd iterations over the
    * STANDING ~80% side seeded by its [[NumCentroids]] lowest vec_ids,
    * then both sides assigned against the frozen centroid table, and
    * the per-cell report carries standing/delta counts plus
    * assignment-level multiset signatures (Σ hash(vec|cell) mod 1e9) —
    * the oracle recomputes the split, the standing-only Lloyd, and
    * every individual assignment from raw embeddings, so a hash match
    * value-checks each vector's cell, not just cell sizes. The
    * delta/standing count ratio per cell is also the drift alarm a
    * real service watches (a delta flooding one cell signals the
    * frozen quantizer no longer fits the data).
    *
    * Scale shape: the Lloyd build is standing-side only (amortized
    * across ingest batches); the delta pass is ONE broadcast K-row
    * assignment over ONLY the delta (at 100 TB the delta is a day's
    * embeddings, not the corpus); the report aggregates K cells.
    */
  /** The q167 corpus with its standing/delta split flag — shared by
    * the one-shot query and the streaming maintenance twin
    * (StreamingVecIndexSpec), so both index the SAME sides.
    */
  private[graft] def vecCorpusSplit(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings")
      .withColumn("is_delta",
        pmod(expr(hashS(s"concat('$VecDeltaSalt', CAST(vec_id AS STRING))")),
          lit(DeltaSplitMod)) === 1)
  }

  /** q167's FROZEN coarse quantizer: two standing-side-only Lloyd
    * iterations seeded by the [[NumCentroids]] lowest standing
    * vec_ids. Frozen = a pure function of the standing side, so the
    * streaming twin's per-batch assignments and the one-shot query
    * assign against byte-identical centroids.
    */
  private[graft] def vecFrozenCentroids(standing: DataFrame): DataFrame = {
    val seeds = standing.orderBy(col("vec_id")).limit(NumCentroids)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent"))
      .materialize(true)
    lloydCentroids(standing, seeds)
  }

  /** Nearest-frozen-cell assignment of one side: (vec_id, cent_id). */
  private[graft] def vecAssign(side: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(side, cents, "vec_id", 1).select(col("vec_id"), col("cent_id"))

  /** The per-cell maintenance report over an assignment frame
    * (vec_id, cent_id, is_delta) — counts, assignment-level multiset
    * signatures, and the delta_frac drift alarm. Computable over the
    * one-shot union (q167) or over a stream-maintained assignment
    * artifact read back from disk (the twin) — ONE definition, so the
    * twin's equality check is against the exact query the oracle pins.
    */
  private[graft] def vecCellReport(asg: DataFrame): DataFrame = {
    asg
      .withColumn("ah", pmod(expr(hashS(
        "concat('va:', CAST(vec_id AS STRING), '|', CAST(cent_id AS STRING))")),
        lit(1000000000L)))
      .groupBy(col("cent_id"))
      .agg(
        sum((!col("is_delta")).cast("long")).as("n_standing"),
        sum(col("is_delta").cast("long")).as("n_delta"),
        sum(when(!col("is_delta"), col("ah")).otherwise(lit(0L))).as("sig_standing"),
        sum(when(col("is_delta"), col("ah")).otherwise(lit(0L))).as("sig_delta"))
      .withColumn("delta_frac", round(
        col("n_delta").cast("double") / (col("n_standing") + col("n_delta")), 6))
      .orderBy(col("cent_id"))
  }

  val q167VecIndexDelta: Q = (s, dir) => {
    val e = vecCorpusSplit(s, dir)
    val standing = e.filter(!col("is_delta")).select(col("vec_id"), col("embedding"))
    val delta = e.filter(col("is_delta")).select(col("vec_id"), col("embedding"))
    val cents = vecFrozenCentroids(standing)
    vecCellReport(
      vecAssign(standing, cents).withColumn("is_delta", lit(false))
        .union(vecAssign(delta, cents).withColumn("is_delta", lit(true))))
  }

  /** q187: PQ INDEX MAINTENANCE — q167's frozen-model premise applied
    * to the product quantizer: codebooks train on the STANDING side
    * only (seeded by the [[PqK]] lowest standing vec_ids, one
    * exact-arithmetic Lloyd refinement — the q161 recipe), the delta
    * batch is ENCODED against those frozen codebooks, and the report
    * is the per-(subspace, code) histogram with standing/delta counts
    * and per-side code-assignment signatures (Σ hash(vec|m|code) mod
    * 1e9 — one wrong code on either side flips a signature). This is
    * how a production PQ index ingests: retraining codebooks per batch
    * would re-encode the whole corpus; frozen codebooks make delta
    * ingestion O(|delta|·PqM·PqK) with unchanged stored codes. The
    * oracle replays split, seeds, Lloyd, both encodes, and the
    * signature fold from raw rows.
    */
  val q187PqDelta: Q = (s, dir) => {
    val e = vecCorpusSplit(s, dir)
    pqDeltaReport(
      e.filter(!col("is_delta")).select(col("vec_id"), col("embedding")),
      e.filter(col("is_delta")).select(col("vec_id"), col("embedding")))
  }

  /** The q187 report over explicit sides — PqDeltaSpec proves the
    * frozen-codebook invariant by calling this with and without the
    * delta: the standing half must be byte-identical (codebooks are a
    * pure function of `standing`).
    */
  private[graft] def pqDeltaReport(standing: DataFrame, delta: DataFrame): DataFrame = {
    val cbooks = pqFrozenCodebooks(standing)
    pqCodeReport(
      pqEncode(standing, cbooks).withColumn("is_delta", lit(false))
        .union(pqEncode(delta, cbooks).withColumn("is_delta", lit(true))))
  }

  /** Nearest-code assignment per subvector, computed MAP-SIDE: the
    * per-subspace codebook collapses to one broadcast array row
    * (cent_id-ascending), and an array fold picks the lowest
    * (d2, cent_id) — exactly min_by's tie policy, evaluating the same
    * rounded d2 per codeword in the same order. The previous
    * join-on-m + groupBy(vec_id, m) argmin materialized PqK candidate
    * rows per subvector and paid a full shuffle of the corpus's
    * subvector table per assignment; this form plans ZERO exchanges
    * (guide §2.4/§3.1: the decision needs only a K-row broadcast, so
    * nothing corpus-sized should move).
    */
  private def pqAssign(src: DataFrame, cents: DataFrame): DataFrame = {
    val cbooks = cents
      .groupBy(col("sm"))
      .agg(expr("array_sort(collect_list(struct(cent_id, cent)))").as("cbook"))
    src.join(broadcast(cbooks), col("m") === col("sm"))
      .withColumn("code", expr(
        """aggregate(
          |  transform(cbook, e -> named_struct(
          |    'd2', round(aggregate(zip_with(sub, e.cent,
          |      (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x), 6),
          |    'cent_id', e.cent_id)),
          |  CAST(NULL AS STRUCT<d2: DOUBLE, cent_id: BIGINT>),
          |  (acc, e) -> CASE
          |    WHEN acc IS NULL THEN IF(e.d2 IS NULL, acc, e)
          |    WHEN e.d2 < acc.d2 THEN e ELSE acc END).cent_id""".stripMargin))
      .drop("sm", "cbook")
  }

  /** q187's FROZEN codebooks: seeded by the [[PqK]] lowest standing
    * vec_ids, one exact-arithmetic Lloyd refinement — a pure function
    * of the standing side (the streaming twin's per-batch encodes and
    * the one-shot query train against byte-identical codebooks).
    */
  private[graft] def pqFrozenCodebooks(standing: DataFrame): DataFrame = {
    val subsS = pqSubvectors(standing)
    val seedIds = standing.orderBy(col("vec_id")).limit(PqK)
      .select(col("vec_id").as("sid"))
    val seeds = subsS.join(broadcast(seedIds), col("vec_id") === col("sid"))
      .select(col("m").as("sm"), col("vec_id").as("cent_id"), col("sub").as("cent"))
    lloydMean(pqAssign(subsS, seeds), "sub", Seq("m", "code"), "cent")
      .select(col("m").as("sm"), col("code").as("cent_id"), col("cent"))
      .materialize(true)
  }

  /** Encode a (vec_id, embedding) frame against frozen codebooks →
    * (vec_id, m, code).
    */
  private[graft] def pqEncode(src: DataFrame, cbooks: DataFrame): DataFrame =
    pqAssign(pqSubvectors(src), cbooks)
      .select(col("vec_id"), col("m"), col("code"))

  /** The q187 report over a (vec_id, m, code, is_delta) code table. */
  private[graft] def pqCodeReport(codes: DataFrame): DataFrame =
    codes
      .withColumn("ch", pmod(expr(hashS(
        "concat('pc:', CAST(vec_id AS STRING), '|', CAST(m AS STRING), '|', CAST(code AS STRING))")),
        lit(1000000000L)))
      .groupBy(col("m"), col("code"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).cast("long").as("n_standing"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).cast("long").as("n_delta"),
        sum(when(!col("is_delta"), col("ch")).otherwise(0L)).cast("long").as("sig_standing"),
        sum(when(col("is_delta"), col("ch")).otherwise(0L)).cast("long").as("sig_delta"))
      .orderBy(col("m"), col("code"))

  /** SemDeDup cosine threshold (q96) — calibrated to the fixture corpus
    * like [[CosineNearDupThreshold]]; real embedding corpora run ~0.9+.
    */
  val SemDedupTau = 0.35

  /** q96: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") — the
    * CLUSTER-scoped variant of embedding near-dup removal: k-means
    * clusters the corpus (the q57 IVF build, reused verbatim), then
    * near-duplicate pairs are sought ONLY within each cluster, and a
    * vector is dropped when a lower-id cluster-mate sits above the
    * cosine threshold. Complements q56 (hyperplane-LSH candidates):
    * LSH bounds candidates by bucket collisions, SemDeDup by cluster
    * size — the latter is what the published web-scale pipelines run.
    *
    * Scale shape: the within-cluster pair join is an equi-join on
    * cent_id, so pair cost is Σ|cluster|² — bounded by keeping K
    * proportional to corpus size (n/K docs per cluster); nothing is
    * ever all-pairs. The centroid table is K rows and broadcasts.
    */
  val q96SemDedup: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val corpus = ivfAssign(e, ivfCentroids(s, dir), "vec_id", 1)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
    val a = corpus.select(col("cent_id"), col("vec_id").as("va"),
      col("embedding").as("ea"))
    val b = corpus.select(col("cent_id").as("cent_b"), col("vec_id").as("vb"),
      col("embedding").as("eb"))
    val dupOf = a.join(b, col("cent_id") === col("cent_b") && col("va") < col("vb"))
      .withColumn("score", cosineC(col("ea"), col("eb")))
      .filter(col("score") >= SemDedupTau)
      .groupBy(col("vb").as("vec_id")).agg(min(col("va")).as("dup_of"))
    corpus.select(col("vec_id"), col("cent_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.cast("bigint").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** Anchor set size for q104 (vec_id < this are mined). */
  val HardNegAnchors = 30

  /** q104: contrastive-pair mining — for each anchor vector: the best
    * SAME-label positive and the best DIFFERENT-label hard negative by
    * cosine, plus the margin between them. The training-data op behind
    * embedding-model fine-tuning (hard negatives are what make
    * contrastive batches informative; easy random negatives teach
    * nothing).
    *
    * Scale shape: the anchor set broadcasts against one partitioned
    * corpus scan (linear, not quadratic — same discipline as q48), and
    * both arg-max selections are max_by HASH aggregations (map-side
    * combinable, one buffer per anchor) rather than per-anchor sort
    * windows. Corpus-scale anchor sets would swap the broadcast for
    * the IVF/LSH candidate generation (q50/q57) unchanged.
    */
  val q104HardNegatives: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val anchors = e.filter(col("vec_id") < HardNegAnchors)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = e.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", cosineC(col("qe"), col("embedding")))
    // BOTH arg-maxes ride ONE aggregation over ONE corpus scan: max_by
    // skips rows whose ordering expression is NULL, so the label
    // condition lives in the ordering and the pos/neg selections share
    // the scan, the broadcast join, and the shuffle (two filtered
    // aggregations would run the whole subtree twice — the filters
    // differ, so exchange reuse can't deduplicate them)
    def pick(cond: Column): Column =
      max_by(struct(col("vec_id"), col("score")),
        when(cond, struct(col("score"), (-col("vec_id")).as("nv"))))
    scored.groupBy(col("qid"))
      .agg(pick(col("label") === col("qlabel")).as("p"),
        pick(col("label") =!= col("qlabel")).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("qid"), col("p.vec_id").as("pos_id"),
        col("p.score").as("pos_score"),
        col("n.vec_id").as("neg_id"), col("n.score").as("neg_score"),
        round(col("p.score") - col("n.score"), 6).as("margin"))
      .orderBy(col("qid"))
  }

  /** Per-language sampling rates (percent) for q58 — a training-data
    * mixing recipe (upsample scarce languages, downsample the head).
    */
  val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 50, "es" -> 25, "fr" -> 25, "de" -> 10)

  /** Per-stratum sample size for q105. */
  val WeightedSampleK = 5

  /** q105: weighted sampling without replacement (Efraimidis-Spirakis
    * A-ES), deterministic: each doc draws a hash-derived uniform u and
    * ranks by ln(u)/w (the log form of the u^(1/w) key — monotone, so
    * the top-k is identical), w = the q54 quality score; the top
    * [[WeightedSampleK]] per language win. P(selection) ∝ weight, yet
    * the sample is a pure function of the corpus — reproducible across
    * runs, engines, and partitionings, unlike rand()-based weighted
    * sampling (same discipline as q58, which this generalizes from
    * uniform to weighted draws).
    *
    * Scale shape: key computation is map-side; the top-k per stratum
    * is a WindowGroupLimit over per-language partitions (rank ≤ k
    * pushes the limit into the sort). Corpus-scale stratum counts keep
    * parallelism ∝ strata; a single global sort never happens.
    */
  val q105WeightedSample: Q = (s, dir) => {
    val scored = qualityTable(s, dir)
      .withColumn("u",
        (expr(s"${hashS("concat('es:', doc_id)")} % 1000000") + 0.5) / 1000000.0)
      .withColumn("skey", round(log(col("u")) / col("quality"), 6))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("skey").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= WeightedSampleK)
      .select(col("doc_id"), col("lang"), round(col("quality"), 6).as("quality"),
        col("skey"), col("rk").cast("int").as("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** q58: DETERMINISTIC stratified sampling — the reproducible
    * train-data mixing primitive. Selection is a pure function of the
    * document id (portable 60-bit hash mod 100 against the stratum's
    * rate), so the sample is stable across runs, engines, partitionings
    * and cluster sizes — unlike rand()-based sampling, which can never
    * be oracle-checked or reproduced. Map-side only: no shuffle before
    * the presentation sort.
    */
  val q58StratifiedSample: Q = (s, dir) => {
    val rateExpr = SampleRates.foldRight(lit(0): Column) { case ((l, r), acc) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    t(s, dir, "documents")
      .withColumn("bucket", expr(s"${hashS("concat('sample:', doc_id)")} % 100"))
      .withColumn("rate", rateExpr)
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** q59: vocabulary construction — token frequencies with a min-count
    * floor and a top-100 cut. The canonical map-side-combinable shape:
    * explode shuffles only (token, partial-count); ties pinned on the
    * token string for cross-engine rank stability.
    */
  val q59VocabTopK: Q = (s, dir) => {
    docsTok(s, dir)
      .select(explode(col("tok")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 3)
      .orderBy(col("freq").desc, col("token").asc)
      .limit(100)
  }

  /** q62: near-dup CLUSTER assignment — connected components over the
    * q55 SimHash pair graph, then a keep/drop verdict per doc (keep =
    * cluster minimum). Pairs alone don't dedup a corpus: A~B and B~C
    * must collapse to ONE kept doc even when A~C wasn't a candidate
    * pair. DuckDB oracle: the same fixpoint via a recursive CTE.
    */
  /** Edge-count cutoff for the single-aggregation union-find fast path
    * in [[connectedComponents]]: 2^19 (long,long) edges ≈ 8 MB — the
    * same order as `spark.sql.autoBroadcastJoinThreshold`, i.e. "small
    * enough to sit in one task's memory without question". Near-dup
    * candidate graphs are ~n_dup edges, orders of magnitude smaller
    * than the corpus (2.6k at sf0.1), so real corpora take the fast
    * path until the dup graph alone passes half a million edges.
    */
  val SmallGraphEdgeLimit: Long = 1L << 19

  /** Distributed connected components over an undirected pair list
    * (doc_a, doc_b) → (doc_id, label) with label = component minimum,
    * one row per NON-SINGLETON node (nodes with at least one edge — a
    * small fraction of any real corpus; singletons join in afterward at
    * zero cost). Two regimes, picked by one cheap count on the cached
    * pair list:
    *
    *  - `≤ smallLimit` edges: ONE aggregation — per-partition partial
    *    union-finds merged into a single reduce task
    *    ([[graft.functions.UnionFindAgg]]). No loop, no per-round
    *    checkpoint/codegen, no driver collect; the labels never leave
    *    the executors.
    *  - larger graphs: alternating large-star/small-star rounds
    *    (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond") — O(log n) rounds regardless of component diameter,
    *    per-round shuffles proportional to the edge set, one
    *    materialization per round.
    *
    * Both paths are tested on the same synthetic chain/star/
    * multi-component graphs (ConnectedComponentsSpec forces each) and
    * end-to-end via q62's recursive-CTE oracle.
    */
  def connectedComponents(
      pairs: DataFrame,
      smallLimit: Long = SmallGraphEdgeLimit): DataFrame = {
    // cleaned ONCE here so both regimes agree: a node whose only edge
    // is (x,x) is a singleton and emits no row (callers label
    // singletons via their left join), on the fast path exactly as on
    // the large/small-star path
    val p = GraphOps.cleanEdges(pairs.toDF("src", "dst")).persist()
    val nEdges = p.count()
    val out =
      if (nEdges <= smallLimit) {
        p.agg(graft.functions.UnionFindAgg
            .union_find_labels(col("src"), col("dst")).as("ls"))
          .materialize(true) // one row — materialize so p can be freed
          .select(explode(col("ls")).as("e"))
          .select(col("e.node").as("doc_id"), col("e.label").as("label"))
      } else largeSmallStarCC(p)
    p.unpersist()
    out
  }

  /** Large-star/small-star connected components (big-graph path) over
    * [[connectedComponents]]' cleaned (src, dst) pairs. Invariant: the
    * edge set is kept canonical (a < b, distinct). Each round applies
    * large-star (every node points its larger neighbors
    * at its neighborhood minimum) then small-star (every node's smaller
    * neighbors collapse onto the minimum), materialized once via
    * localCheckpoint. Converged when the edge set reaches its fixpoint:
    * a disjoint union of stars whose centers are the component minima.
    * Round count is O(log n) (Kiveris et al. Thm 4.4) — the 64-round
    * guard is a correctness backstop, not a tuning knob.
    */
  private def largeSmallStarCC(pairs: DataFrame): DataFrame = {
    var edges = pairs
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .materialize(true)
    var nEdges = edges.count()
    var converged = nEdges == 0
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64,
        "large-star/small-star did not converge in 64 rounds")
      // large-star: for each node u, m = min(N(u) ∪ {u}); emit (m, v)
      // for every larger neighbor v > u. Keeps canonical a < b since
      // m ≤ u < v.
      val nbrs = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val lsMin = nbrs.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      val ls = nbrs.join(lsMin, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
      // small-star: group canonical edges by their larger endpoint b;
      // m = min of b's smaller neighbors; collapse N(b) ∪ {b} onto m.
      val ssMin = ls.groupBy(col("b")).agg(min(col("a")).as("m"))
      val ss = ls.join(ssMin, Seq("b"))
        .filter(col("a") =!= col("m"))
        .select(col("m").as("a"), col("a").as("b"))
        .unionAll(ssMin.select(col("m").as("a"), col("b")))
        .distinct()
      // ONE materialization per round (count rides the checkpoint via
      // observe); equality check = same count + empty (new \ old),
      // which together imply set equality.
      val obs = org.apache.spark.sql.Observation()
      val next = ss.observe(obs, count(lit(1)).as("n")).materialize(true)
      val nNext = obs.get("n").asInstanceOf[Long]
      converged = nNext == nEdges &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges.unpersist()
      edges = next
      nEdges = nNext
    }
    // fixpoint stars: center a = component min labels itself; the
    // groupBy-min is defensive canonicalization, not extra semantics.
    edges.select(col("b").as("doc_id"), col("a").as("label"))
      .unionAll(edges.select(col("a").as("doc_id"), col("a").as("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
  }

  /** Cluster assignment per doc (shared by q62 and q85): component
    * minimum as the cluster id, singletons labelling themselves (a
    * left join against the corpus — component labels exist only for
    * nodes with at least one edge), plus the cluster size.
    */
  private def clusterAssignments(s: SparkSession, dir: String): DataFrame = {
    val pairs = q55SimhashPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs)
    val docs = t(s, dir, "documents").select(col("doc_id"))
    val all = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val sizes = all.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, Seq("cluster_id"))
  }

  val q62NearDupClusters: Q = (s, dir) => {
    clusterAssignments(s, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") =!= col("cluster_id")).cast("bigint").as("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  /** Training-sequence capacity for q64 (tokens per packed sequence). */
  val PackCapacity = 2048L

  /** Chunk width (docs per chunk) for q64's two-level prefix sum. Small
    * enough that the sf0.01 oracle run exercises the multi-chunk path;
    * production corpora would use ~64k (the only effect is plan shape —
    * the result is G-invariant, so the oracle never sees G).
    */
  val PackChunkDocs = 200L

  /** q64: sequence-PACKING plan — assign documents to fixed-capacity
    * training sequences by sequential fill: each doc goes to the pack
    * where its first token lands (docs may straddle a boundary; the
    * offset says where). The running total is a TWO-LEVEL prefix sum:
    * (1) per-chunk token sums (map-side combinable groupBy), (2) chunk
    * offsets via a window over CHUNK rows only (corpus/G rows), (3) the
    * within-chunk cumsum windows run in parallel across (lang, chunk).
    * Parallelism is corpus-proportional and independent of stratum
    * count — a window partitioned by `lang` alone would stream each
    * stratum through ONE task (and real corpora are one-language-
    * dominated); the global cumsum is the classic single-task
    * scale-killer.
    */
  val q64SequencePacking: Q = (s, dir) => {
    val base = docsTok(s, dir)
      .select(col("doc_id"), col("lang"), size(col("tok")).cast("long").as("n_tokens"))
      .withColumn("chunk", floor(col("doc_id") / PackChunkDocs))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("chunk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("lang"), col("chunk"))
      .agg(sum(col("n_tokens")).as("chunk_tokens"))
      .withColumn("chunk_offset",
        coalesce(sum(col("chunk_tokens")).over(wOff), lit(0L)))
      .select(col("lang"), col("chunk"), col("chunk_offset"))
    val wIn = Window.partitionBy(col("lang"), col("chunk")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // offsets is corpus/G rows — small at test SFs (AQE broadcasts it
    // at runtime) but corpus-proportional, so no forced hint: at 100 TB
    // the (lang, chunk)-keyed shuffle join is the right plan
    base.join(offsets, Seq("lang", "chunk"))
      .withColumn("cum_before",
        col("chunk_offset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("cum_before") / PackCapacity).cast("long").as("pack_id"),
        (col("cum_before") % PackCapacity).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  /** q65: TF-IDF top terms per document — tf from an exploded
    * (doc, token) count, df from the token's distinct-doc count, idf =
    * ln(N/df). The score is ROUNDED to 6dp and ranked on the rounded
    * value with a token tie-break, so ulp-level libm differences across
    * engines can't reorder ranks (same discipline as the cosine ops).
    */
  val q65TfIdf: Q = (s, dir) => {
    // corpus size as a broadcast 1-row aggregate — the whole query is ONE
    // job (a driver-side count() literal would pay an extra job per run)
    val n = t(s, dir, "documents").agg(count(lit(1)).cast("double").as("n"))
    // tf is deliberately NOT checkpoint-materialized (tried in r17,
    // measured 2.3× SLOWER): a checkpointed tf carries no size stats,
    // so the vocab-sized df side loses its broadcast and the join
    // degrades — recomputing the tokenize+explode subtree for the df
    // branch is the cheaper side of that trade here, unlike q67/q76
    // whose second subtree is the expensive shingling pass.
    val tf = docsTok(s, dir)
      .select(col("doc_id"), explode(col("tok")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("token"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** q67: perplexity-style LM scoring — the CCNet-shape pretraining
    * filter: build corpus bigram/unigram counts, score each document by
    * its average add-one-smoothed bigram log-likelihood
    * avg ln((c(w1 w2)+1)/(c(w1)+V)). Two count shuffles (bigram,
    * unigram — both map-side combinable) + one join back per doc
    * bigram; the score is rounded to 6dp so cross-engine double-sum
    * ordering (ulp-scale drift) cannot flip a comparison downstream.
    */
  /** Per-(session, sfDir) cached LM-score manifest (doc_id, n_bigrams,
    * avg_ll) — the q67 scoring pass feeds both the score query and the
    * q71 bucketing; a pipeline computes perplexity once per corpus and
    * every downstream selection reads the ~24-byte/doc manifest, not
    * the bigram join.
    */
  private val lmScoreCache =
    new graft.SessionCache

  private def lmScores(s: SparkSession, dir: String): DataFrame =
    lmScoreCache.getOrElseUpdate(s, dir)( {
    // codegen'd shingles2 + substring_index: the struct-building HOF
    // formulation is interpreted per element and measured ~2× slower
    // docBi materializes ONCE (lazy checkpoint): the bigram-count
    // aggregation and the join probe side otherwise each replay the
    // tokenize+shingle+explode subtree (same ReuseExchange gap as
    // q65's tf; the count stays a groupBy + equi-join for the q76
    // hot-key reason).
    val docBi = docsTok(s, dir)
      .filter(size(col("tok")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.Scalars.shingles2(col("tok"))).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .materialize(false)
    val uni = docsTok(s, dir)
      .select(explode(col("tok")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // |V| as a broadcast 1-row aggregate — ONE job, no driver count()
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val bi = docBi.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    docBi
      .join(bi, Seq("bigram"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("ll",
        log((col("c2").cast("double") + 1.0) /
          (col("c1").cast("double") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("ll")) / count(lit(1)), 6).as("avg_ll"))
      .cache()
    })

  val q67LmScore: Q = (s, dir) =>
    lmScores(s, dir).orderBy(col("doc_id"))

  /** Sampling temperature for q68 (the multilingual exponent — 0.7 is
    * the mBERT/XLM-R-style default that upsamples scarce languages).
    */
  val SamplingAlpha = 0.7

  /** q68: temperature-based mixture weights — the multilingual sampling
    * recipe: q_l ∝ p_l^α over language shares p_l, α < 1 flattening the
    * distribution; weight_l = q_l/p_l is each language's up/down-
    * sampling factor. Tiny aggregate (|langs| rows); every ratio is
    * computed in the same literal order on both engines and rounded to
    * 6dp so pow()'s last-ulp differences cannot leak into the hash.
    */
  val q68MixtureWeights: Q = (s, dir) => {
    val counts = t(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy()
    counts
      .withColumn("total", sum(col("n_docs")).over(w))
      .withColumn("p", col("n_docs").cast("double") / col("total").cast("double"))
      .withColumn("pa", pow(col("p"), SamplingAlpha))
      .withColumn("q", col("pa") / sum(col("pa")).over(w))
      .select(col("lang"), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("q"), 6).as("q"),
        round(col("q") / col("p"), 6).as("weight"))
      .orderBy(col("lang"))
  }

  /** q69: benchmark DECONTAMINATION — flag training documents sharing
    * 3-gram shingles with a held-out benchmark set (docs 0-19 stand in
    * for the eval suite). The join runs on 60-bit shingle hashes —
    * map-side shingling, one equi-join shuffle carrying (hash, doc_id),
    * never document text and never all-pairs; the canonical
    * contamination-scan shape at corpus scale.
    *
    * Before that shuffle, the training side is pruned by a runtime
    * Bloom filter built from the benchmark side's hash set
    * ([[graft.functions.RuntimeBloom]]): at 100 TB almost every corpus
    * shingle misses the (tiny) benchmark set, so the probe drops them
    * map-side and the shuffle carries only might-match rows. The exact
    * join after the probe makes Bloom false positives invisible —
    * results are bit-identical with the filter on or off
    * (PlanSpec asserts the probe sits on the training side).
    */
  val q69Decontaminate: Q = (s, dir) => {
    val shingled = docsShingled(s, dir)
      .select(col("doc_id"), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("shingle"))
      .withColumn("h", expr(hashS("shingle")))
    val benchRaw = shingled.filter(col("doc_id") < 20).select(col("h"))
    val bench = benchRaw.distinct()
    // the bloom is built over the RAW bench hashes (insertion is
    // idempotent, so skipping the distinct exchange changes nothing);
    // the exact join keeps the distinct set
    graft.functions.RuntimeBloom.prunedBySmall(
        shingled.filter(col("doc_id") >= 20), col("h"), benchRaw, col("h"))
      .join(bench, Seq("h"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= 3)
      .select(col("doc_id"), col("shared_shingles"), col("n_shingles"),
        round(col("shared_shingles").cast("double") /
          col("n_shingles").cast("double"), 6).as("overlap_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q70: repetition-based quality stats (the Gopher/MassiveText rule
    * family): duplicate-3-gram ratio, longest identical-token run, and
    * top-token fraction, combined into a "repetitive" flag. Entirely
    * map-side — the run/top-count loops are codegen'd kernels
    * (TokenMaxRun / TokenTopCount), so the whole operator is a narrow
    * projection at any corpus size. Ratios are int/int double divisions
    * rounded to 6dp (cross-engine bit-stable).
    */
  /** Adds the q70 repetition signals to a frame carrying tok and a
    * long `n_tokens` >= 3 — shared by q70 and the q73 single-pass
    * pipeline so the `repetitive` verdict is the same expression tree
    * in both.
    */
  private[graft] def withRepetitionSignals(df: DataFrame): DataFrame = df
    .withColumn("n_shingles", col("n_tokens") - 2)
    .withColumn("dup_3gram_ratio", round(
      lit(1.0) - size(graft.functions.Scalars.distinct_shingles3(col("tok")))
        .cast("double") / col("n_shingles").cast("double"), 6))
    .withColumn("max_run", graft.functions.Scalars.token_max_run(col("tok")))
    .withColumn("top_token_frac", round(
      graft.functions.Scalars.token_top_count(col("tok")).cast("double") /
        col("n_tokens").cast("double"), 6))
    .withColumn("repetitive",
      (col("top_token_frac") > 0.1 || col("max_run") >= 3).cast("bigint"))

  val q70RepetitionStats: Q = (s, dir) => {
    withRepetitionSignals(
      docsTok(s, dir)
        .withColumn("n_tokens", size(col("tok")).cast("long"))
        .filter(col("n_tokens") >= 3))
      .select(col("doc_id"), col("n_tokens"), col("dup_3gram_ratio"),
        col("max_run"), col("top_token_frac"), col("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** q71: perplexity BUCKETS (the CCNet head/middle/tail split): score
    * every document with the q67 bigram LM, then cut the corpus into
    * terciles at exact rank positions. The cutoffs are computed the
    * distributed way (the q36 discipline): aggregate score → count
    * first, cumulate over DISTINCT 6dp-rounded score values (a domain
    * bounded by the score range — ~10^6 values — independent of corpus
    * size), rank-select the two cut scores, and broadcast the 1-row
    * cutoff table back over the scored corpus. tail = lowest average
    * log-likelihood (highest perplexity).
    */
  val q71PerplexityBuckets: Q = (s, dir) => {
    val scores = lmScores(s, dir).select(col("doc_id"), col("avg_ll"))
    val wCum = Window.orderBy(col("avg_ll").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cuts = scores.groupBy(col("avg_ll")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy()
      .agg(
        min(when(col("cum") >= ceil(col("n") / 3.0), col("avg_ll"))).as("c1"),
        min(when(col("cum") >= ceil(col("n") * 2.0 / 3.0), col("avg_ll"))).as("c2"))
    scores.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("avg_ll") <= col("c1"), "tail")
          .when(col("avg_ll") <= col("c2"), "middle")
          .otherwise("head"))
      .select(col("doc_id"), col("avg_ll"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Per-language token budget for q72 (the fixture corpus holds ~5k
    * tokens per language, so a 2k budget selects roughly the top-quality
    * half and exercises the boundary logic).
    */
  val TokenBudgetPerLang = 2000L

  /** q72: token-budget data MIXING — the selection step of a training
    * run: take documents per language in quality order (q54's score)
    * until each language's token budget is filled; a document is
    * selected iff it STARTS within budget (the packing rule, so the
    * boundary document straddles rather than vanishes).
    *
    * The greedy cumulative sum is computed WITHOUT a per-stratum
    * row-level window (the q64 trap): (1) aggregate (lang, quality) →
    * token sums — the window that ranks quality groups runs over the
    * DISTINCT quality domain (bounded by the 6dp score space, not the
    * corpus); (2) the within-group doc window partitions by
    * (lang, quality) — corpus-proportional parallelism. Grouping on the
    * double quality key is safe because q54's score is bit-identical
    * across engines (its own oracle proves it).
    */
  val q72TokenBudget: Q = (s, dir) => {
    val d = qualityTable(s, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
    val wGrp = Window.partitionBy(col("lang")).orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val grp = d.groupBy(col("lang"), col("quality"))
      .agg(sum(col("n_tokens")).as("qt"))
      .withColumn("grp_before", coalesce(sum(col("qt")).over(wGrp), lit(0L)))
      .select(col("lang"), col("quality"), col("grp_before"))
    val wDoc = Window.partitionBy(col("lang"), col("quality"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(grp, Seq("lang", "quality"))
      .withColumn("cum_before",
        col("grp_before") + coalesce(sum(col("n_tokens")).over(wDoc), lit(0L)))
      .withColumn("selected",
        (col("cum_before") < TokenBudgetPerLang).cast("bigint"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
        col("cum_before"), col("selected"))
      .orderBy(col("doc_id"))
  }

  /** q73: the composed INGEST-SELECT pipeline — what a training run
    * actually executes end-to-end: exact dedup (keep the canonical
    * min-doc_id copy per content hash), quality gate (q54 score ≥ 0.6),
    * repetition gate (q70 signals clean). Single-pass shape: ONE base
    * projection computes content hash, quality, and repetition signals
    * in the same scan (all map-side kernels, shared via
    * withQualityScore/withRepetitionSignals so the gates are
    * bit-identical to q54/q70); the canonical-row selection is ONE
    * map-side-combined min_by groupBy over that projection (partial
    * aggregation collapses duplicate hashes per task, so
    * mass-duplicated texts can't skew a reducer — the window-over-hash
    * formulation was rejected for exactly that reason), and the gates
    * filter the hash-group winners directly — no join, no second scan.
    *
    * The >= 3-token floor commutes with the dedup: identical texts have
    * identical token counts, so a hash group is entirely inside or
    * entirely outside the floor and min-per-group is unchanged — which
    * keeps this equivalent to gating q54/q70/canonical independently
    * (the oracle's formulation).
    */
  val q73IngestSelect: Q = (s, dir) => {
    val base = withQualityScore(
      withRepetitionSignals(
        docsTok(s, dir)
          .withColumn("n_tokens", size(col("tok")).cast("long"))
          .filter(col("n_tokens") >= 3)))
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"),
        col("repetitive"), col("content_hash"))
    // ONE pass: the kept rows ARE the per-hash min-doc_id rows that
    // pass the gates (quality/repetition are pure text functions, so
    // every row of a hash group carries identical gate values — and
    // even under an md5 collision only the min doc could survive the
    // old semi-join, judged on its own gate values, which is exactly
    // what min_by returns). The old two-branch form scanned and
    // tokenized the corpus once per branch and paid a semi-join to
    // recombine; min_by collapses duplicate hashes map-side exactly
    // like the min() the scaladoc's skew argument already relies on.
    base
      .groupBy(col("content_hash"))
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("n_tokens"),
          col("quality"), col("repetitive")),
        col("doc_id")).as("c"))
      .filter(col("c.quality") >= 0.6 && col("c.repetitive") === 0)
      .select(col("c.doc_id").as("doc_id"), col("c.lang").as("lang"),
        col("c.n_tokens").as("n_tokens"), col("c.quality").as("quality"))
      .orderBy(col("doc_id"))
  }

  /** q74: PMI collocation mining — score every bigram that occurs at
    * least [[MinCollocCount]] times by pointwise mutual information
    * `ln((c2/M) / ((c1a/N)*(c1b/N)))` (the classic phrase-detection /
    * tokenizer-merge-candidate pass over a corpus). Shapes: one
    * bigram-keyed count shuffle (map-side combinable) REUSED for both
    * the filtered table and the total M (a 1-row aggregate over the
    * grouped counts, never a second corpus scan); one token-keyed
    * unigram count joined twice (w1/w2) — vocab-sized, so AQE
    * broadcasts it at any corpus scale; totals ride broadcast 1-row
    * cross joins. Nothing here is keyed on a constant-cardinality
    * column.
    */
  val q74PmiCollocations: Q = (s, dir) => {
    val docBi = docsTok(s, dir)
      .filter(size(col("tok")) >= 2)
      .select(explode(graft.functions.Scalars.shingles2(col("tok"))).as("bigram"))
    val biAll = docBi.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    val uni = docsTok(s, dir)
      .select(explode(col("tok")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val totN = uni.agg(sum(col("c1")).cast("double").as("n"))
    val totM = biAll.agg(sum(col("c2")).cast("double").as("m"))
    biAll.filter(col("c2") >= MinCollocCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1a"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1b"), Seq("w2"))
      .crossJoin(broadcast(totN))
      .crossJoin(broadcast(totM))
      .withColumn("pmi", round(log(
        (col("c2").cast("double") / col("m")) /
          ((col("c1a").cast("double") / col("n")) * (col("c1b").cast("double") / col("n")))), 6))
      .select(col("bigram"), col("c2"), col("pmi"))
      .orderBy(col("bigram"))
  }

  /** q75: per-source unigram KL divergence against the corpus
    * distribution — the data-mixing diagnostic behind domain
    * reweighting (DoReMi-style): sources whose token distribution
    * diverges from the mix get up/down-weighted. Shapes: ONE
    * (source,word)-keyed count shuffle feeds everything — per-source
    * totals, corpus word counts, and the grand total are all
    * re-aggregations of that grouped table (map-side combinable,
    * strictly smaller each step), so the corpus is scanned once and
    * nothing re-keys on raw rows. The corpus word table joins on the
    * vocab-sized key; the grand total broadcasts.
    */
  val q75SourceMixKl: Q = (s, dir) => {
    val sc = docsTok(s, dir)
      .select(col("source"), explode(col("tok")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt_sw"))
    val st = sc.groupBy(col("source")).agg(sum(col("cnt_sw")).as("n_tokens_src"))
    val cw = sc.groupBy(col("w")).agg(sum(col("cnt_sw")).as("cnt_w"))
    val totN = cw.agg(sum(col("cnt_w")).cast("double").as("n_total"))
    sc.join(st, Seq("source"))
      .join(cw, Seq("w"))
      .crossJoin(broadcast(totN))
      .withColumn("term",
        (col("cnt_sw").cast("double") / col("n_tokens_src")) *
          log((col("cnt_sw").cast("double") / col("n_tokens_src")) /
            (col("cnt_w").cast("double") / col("n_total"))))
      .groupBy(col("source"))
      .agg(max(col("n_tokens_src")).as("n_tokens"), round(sum(col("term")), 6).as("kl"))
      .orderBy(col("source"))
  }

  /** q130: information-theoretic corpus report — per source: unigram
    * entropy H(w) and bigram conditional entropy H(w₂|w₁), both in
    * nats. The diversity complement to q75's KL: KL says how far a
    * source's distribution sits from the mixture, entropy says how
    * REPETITIVE the source itself is (template/boilerplate-heavy
    * sources show depressed H(w₂|w₁) long before dedup fires) — the
    * corpus-level screen next to q70's per-document repetition stats.
    *
    * Shapes: one (source, word) count shuffle for unigrams, one
    * (source, bigram) shuffle via the codegen'd shingles2 kernel; the
    * conditional's c(w₁·) denominator AGGREGATES FROM the bigram
    * counts (sum over w₂), so the corpus is never re-scanned and the
    * conditional distribution is consistent by construction
    * (Σ_{w₂} c₁₂ = c₁). Per-term float work follows the q75
    * discipline: each term is one double expression, the sum rounds
    * to 6 dp — accumulation error (~1e-13 relative) sits far below
    * the rounding grid.
    */
  val q130CorpusEntropy: Q = (s, dir) => {
    val uni = docsTok(s, dir)
      .select(col("source"), explode(col("tok")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val un = uni.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val hUni = uni.join(un, Seq("source"))
      .withColumn("term", (col("c").cast("double") / col("n")) *
        log(col("c").cast("double") / col("n")))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_tokens"),
        count(lit(1)).as("n_vocab"),
        round(-sum(col("term")), 6).as("h_unigram"))
    val bc = docsTok(s, dir)
      .filter(size(col("tok")) >= 2)
      .select(col("source"),
        explode(graft.functions.Scalars.shingles2(col("tok"))).as("bg"))
      .groupBy(col("source"), col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val b1 = bc.groupBy(col("source"), col("w1")).agg(sum(col("c12")).as("c1"))
    val bn = bc.groupBy(col("source")).agg(sum(col("c12")).as("n2"))
    val hBi = bc.join(b1, Seq("source", "w1"))
      .join(bn, Seq("source"))
      .withColumn("term", (col("c12").cast("double") / col("n2")) *
        log(col("c12").cast("double") / col("c1")))
      .groupBy(col("source"))
      .agg(round(-sum(col("term")), 6).as("h_bigram_cond"))
    hUni.join(hBi, Seq("source")).orderBy(col("source"))
  }

  /** q76: boilerplate n-gram detection — a 3-gram appearing in ≥
    * [[BoilerplateDf]] distinct documents is boilerplate (the
    * template/navigation-chrome signal of the Gopher rule family);
    * each doc reports the boilerplate fraction of its distinct
    * shingles and a flag at [[BoilerplateFracThreshold]]. Shapes:
    * distinct shingles come from the codegen'd DistinctShingles3
    * kernel (map-side, no explode-dedup shuffle); one shingle-keyed DF
    * count; the doc←df join is a shingle-keyed equi-join (the df table
    * is shingle-vocab-sized and carries only (shingle, df)); the
    * per-doc rollup re-keys on doc_id. All counts are map-side
    * combinable; no threshold materializes a driver-side set.
    *
    * Deliberate shape: a count-over-window(shingle) formulation would
    * fold the df computation into one scan, but boilerplate shingles
    * are BY DEFINITION the hottest keys (present in millions of docs),
    * and window skew cannot be split — whereas this equi-join's skewed
    * keys are handled by AQE skew-join and the df aggregate collapses
    * map-side. The shingle table materializes once (lazy checkpoint),
    * so the shape no longer pays a second shingling scan either.
    */
  val q76BoilerplateNgrams: Q = (s, dir) => {
    // the exploded shingle table materializes ONCE (lazy checkpoint):
    // the df aggregation and the join-back otherwise each replay the
    // tokenize+shingle+explode subtree (the q65/q67 ReuseExchange gap)
    val ds = docsShingled(s, dir).select(col("doc_id"), explode(col("sh")).as("s"))
      .materialize(false)
    val df = ds.groupBy(col("s")).agg(count(lit(1)).as("df"))
    ds.join(df, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= BoilerplateDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_shingles").cast("double"), 6))
      .withColumn("boilerplate",
        (col("boiler_frac") > BoilerplateFracThreshold).cast("bigint"))
      .orderBy(col("doc_id"))
  }

  /** q77: embedding outlier detection — score every vector by cosine
    * similarity to its label centroid, then flag |z| > 2 within the
    * label (the corrupt-embedding / mislabeled-vector curation filter).
    * Shapes: the centroid is a posexplode → (label, dim) average — the
    * group count is label×dim (constant), but partial aggregation
    * collapses each map task to ≤ label×dim rows, so shuffle volume is
    * tasks×groups, never corpus-sized, and no window ever partitions by
    * label. Centroids and per-label score moments are tiny and
    * broadcast; scoring itself is the codegen'd CosineSim kernel in a
    * narrow map. Three pruned scans (centroid, score, moments) — the
    * moment pass rides a broadcast join so there is no exchange to
    * reuse, and caching a 100 TB scored table would cost more than the
    * rescan.
    */
  val q77EmbeddingOutliers: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i")).agg(avg(col("v")).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("sc"))
      .withColumn("centroid", expr("transform(sc, x -> x.c)"))
      .select(col("label"), col("centroid"))
    val scored = e
      .join(broadcast(cent), Seq("label"))
      .withColumn("cos_centroid",
        round(graft.functions.Scalars.cosine_sim(col("embedding"), col("centroid")), 6))
      .select(col("vec_id"), col("label"), col("cos_centroid"))
    val moments = scored.groupBy(col("label"))
      .agg(avg(col("cos_centroid")).as("mu"), stddev(col("cos_centroid")).as("sd"))
    scored
      .join(broadcast(moments), Seq("label"))
      .withColumn("z", round((col("cos_centroid") - col("mu")) / col("sd"), 6))
      .withColumn("outlier", (abs(col("z")) > 2.0).cast("bigint"))
      .select(col("vec_id"), col("label"), col("cos_centroid"), col("z"), col("outlier"))
      .orderBy(col("vec_id"))
  }

  /** q78: sliding-window document chunking — the embedding/RAG
    * preprocessing step: split every document into [[ChunkSize]]-token
    * windows advancing by [[ChunkStride]] (so consecutive chunks
    * overlap by ChunkSize−ChunkStride tokens). Entirely map-side —
    * sequence/slice/array_join are codegen'd builtins, the explode
    * multiplies rows by ~n_tokens/stride with no shuffle at all, and
    * chunk ordinals are per-document (never a global or per-stratum
    * window). The output partitioning is inherited from the scan, which
    * is exactly what a downstream embedding pass wants.
    */
  val q78Chunking: Q = (s, dir) => {
    docsTok(s, dir)
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .filter(col("n_tokens") >= 1)
      .withColumn("chunk_idx",
        explode(expr(s"sequence(0L, (n_tokens - 1) DIV $ChunkStride)")))
      .withColumn("chunk_start", col("chunk_idx") * ChunkStride + 1)
      .withColumn("chunk_tok",
        expr(s"slice(tok, chunk_start, $ChunkSize)"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(col("chunk_tok")).cast("long").as("n_chunk_tokens"),
        array_join(col("chunk_tok"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q79: the corpus report card — per-source rollup of the whole
    * quality family: doc counts, exact-duplicate rate, mean quality,
    * repetitive share, mean length (what a data-curation team reviews
    * before a training run; restricted to the >= 3-token docs the
    * repetition signals are defined on). Shapes: ONE base scan (the q73
    * projection), then the q32 discipline for the distinct-hash count —
    * aggregate (source, hash) FIRST (map-side combinable; collapses
    * duplicate groups early) and roll level-2 sums up from the grouped
    * table, so no distinct-expand ever carries per-doc rows and every
    * mean is an exact sum over counted rows. No window, no join.
    */
  val q79CorpusReport: Q = (s, dir) => {
    val base = withQualityScore(
      withRepetitionSignals(
        docsTok(s, dir)
          .withColumn("n_tokens", size(col("tok")).cast("long"))
          .filter(col("n_tokens") >= 3)))
      .withColumn("content_hash", md5(col("text").cast("binary")))
      .select(col("source"), col("content_hash"), col("n_tokens"),
        col("quality"), col("repetitive"))
    base
      .groupBy(col("source"), col("content_hash"))
      .agg(count(lit(1)).as("cnt"), sum(col("quality")).as("sq"),
        sum(col("repetitive")).as("sr"), sum(col("n_tokens")).as("stk"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_distinct"),
        sum(col("sq")).as("sq"), sum(col("sr")).as("sr"), sum(col("stk")).as("stk"))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        round(col("sq") / col("n_docs").cast("double"), 6).as("mean_quality"),
        round(col("sr").cast("double") / col("n_docs").cast("double"), 6)
          .as("pct_repetitive"),
        round(col("stk").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_tokens"))
      .orderBy(col("source"))
  }

  /** q80: BM25 retrieval scoring — rank the corpus against a term
    * query with the Lucene-variant BM25 (idf = ln(1 + (N−df+0.5)/
    * (df+0.5)), k1/b saturation on tf and length). Shapes: the explode
    * is filtered to query terms BEFORE the (doc, term) count shuffle,
    * so shuffle volume is matching tokens only — the corpus-wide
    * totals (N, avgdl) are a broadcast 1-row aggregate, df is a
    * re-aggregation of the tf table (query-term-sized, broadcast
    * back), dl rides the tf rows as a max (constant per doc, no join
    * back to the corpus), and the final top-k is
    * TakeOrderedAndProject, never a global sort. Ranking compares
    * 6dp-rounded scores with a doc_id tie-break (cross-engine
    * deterministic).
    */
  val q80Bm25: Q = (s, dir) => {
    val toks = docsTok(s, dir)
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(size(col("tok"))).cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks
      .withColumn("dl", size(col("tok")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("tok")).as("w"))
      .filter(col("w").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df").cast("double") + 0.5) /
            (col("df").cast("double") + 0.5)) *
          (col("tf").cast("double") * (Bm25K1 + 1.0)) /
          (col("tf").cast("double") +
            lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  /** q175 RRF smoothing constant — the k=60 of Cormack et al. (2009),
    * the value every production fusion ships with.
    */
  val RrfK = 60

  /** q175 probe: the dense query is the stored embedding of this id
    * (the fixture's embeddings are keyed by the same id space as the
    * documents they embed).
    */
  val RrfProbeId = 0L

  /** q175: HYBRID RETRIEVAL via reciprocal-rank fusion — the modern
    * search-serving composition: a lexical ranking (q80's BM25 over
    * the fixed query terms) and a dense ranking (exact cosine against
    * the stored probe embedding) are fused by
    * Σ 1/(k + rank) per list, which needs no score calibration
    * between the two retrievers — only their ranks. Docs surfaced by
    * either list alone keep their one-list contribution (FULL OUTER
    * fusion), which is the property that makes RRF robust to a
    * retriever missing a modality.
    *
    * Determinism: both input rankings tie-break on id; the fused
    * ordering ranks on the 6-dp-rounded RRF score with id as the
    * final tie-break, and every 1/(k+r) term is the same IEEE double
    * on both engines.
    *
    * Scale shape: each retriever is already top-K-bounded (q80's
    * TakeOrderedAndProject; the dense side is a broadcast probe
    * against a partitioned scan, never pairwise), so the fusion
    * operates on ≤2K rows — the rank windows and the full-outer join
    * are constant-size regardless of corpus scale.
    */
  val q175HybridRrf: Q = (s, dir) => {
    val sparse = q80Bm25(s, dir)
      .withColumn("r_sparse", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("doc_id").as("id"), col("r_sparse").cast("long").as("r_sparse"))
    val e = t(s, dir, "embeddings")
    val probe = e.filter(col("vec_id") === RrfProbeId)
      .select(col("embedding").as("qe"))
    val dense = e.crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= RrfProbeId)
      .withColumn("score", cosineC(col("qe"), col("embedding")))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(Bm25TopK)
      .withColumn("r_dense", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id").asc)))
      .select(col("vec_id").as("id"), col("r_dense").cast("long").as("r_dense"))
    sparse.join(dense, Seq("id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0)), 6))
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf_score").desc, col("id").asc)))
      .filter(col("fused_rank") <= Bm25TopK)
      .select(col("fused_rank").cast("long").as("fused_rank"), col("id"),
        col("rrf_score"), col("r_sparse"), col("r_dense"))
      .orderBy(col("fused_rank"))
  }

  /** q82: passage width in tokens (non-overlapping — stride = width). */
  val PassageSize = 8
  /** q82/oracle key packing: (doc_id, pidx) → doc_id·2^20 + pidx. Safe
    * while pidx < 2^20 (a 8M-token doc) and doc_id < 2^43; a corpus
    * with wider ids would switch the min to a struct ordering.
    */
  val PassageKeyShift = 1048576L

  /** q82: passage-level exact dedup — the RefinedWeb/CCNet line-dedup
    * generalized to fixed [[PassageSize]]-token windows: a passage is a
    * duplicate if the same token window appeared earlier in the corpus
    * (first occurrence = minimum (doc_id, pidx), encoded as one long so
    * the winner is a plain `min`). Shapes for 100 TB: the explode is
    * map-side (the passage TEXT never survives the projection — only
    * its 60-bit stable hash), the one wide shuffle carries (doc_id,
    * pidx, phash) triples partitioned by phash (window min = the
    * standard first-wins shape), and the per-doc rollup is a
    * map-side-combinable count/sum. Output: per-doc passage counts and
    * the duplicated-passage ratio a curation pass filters on.
    */
  val q82PassageDedup: Q = (s, dir) => {
    val key = col("doc_id") * lit(PassageKeyShift) + col("pidx")
    docsTok(s, dir)
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .filter(col("n_tokens") >= 1)
      .withColumn("pidx", explode(expr(s"sequence(0L, (n_tokens - 1) DIV $PassageSize)")))
      .select(col("doc_id"), col("pidx"),
        expr(hashS(s"array_join(slice(tok, CAST(pidx * $PassageSize + 1 AS INT), $PassageSize), ' ')"))
          .as("phash"))
      .withColumn("okey", min(key).over(Window.partitionBy(col("phash"))))
      .withColumn("is_dup", (key =!= col("okey")).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_passages"), sum(col("is_dup")).as("n_dup_passages"))
      .select(col("doc_id"), col("n_passages"), col("n_dup_passages"),
        round(col("n_dup_passages").cast("double") / col("n_passages").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** q83: PII patterns — RE2-compatible (no backreferences/lookaround)
    * so the identical pattern string runs in Spark's Java regex and the
    * oracle's RE2. The fixture corpus carries no PII, so the query
    * seeds deterministic spans derived from doc_id ([[PiiSeedSql]],
    * dialect-shared) — the redaction kernel is genuinely exercised on
    * every row rather than vacuously matching nothing.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Seed expression (valid verbatim in BOTH dialects: `concat`,
    * `CAST(.. AS STRING)` and `lpad` agree) appending one email, one
    * phone and one IPv4 to every document, all functions of doc_id.
    */
  val PiiSeedSql: String =
    "concat(text, ' contact user', CAST(doc_id AS STRING), '@example.com call 555-', " +
      "lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-', " +
      "lpad(CAST((doc_id * 7) % 10000 AS STRING), 4, '0'), ' from 10.', " +
      "CAST(doc_id % 256 AS STRING), '.0.', CAST((doc_id * 3) % 256 AS STRING))"

  /** q83: PII redaction — the scrub every training-data pipeline runs
    * before tokenization: count and mask emails, phone numbers and
    * IPv4s. Entirely map-side (codegen'd regexp_count/regexp_replace
    * builtins — no UDF, no shuffle at all; output partitioning is the
    * scan's), so it composes into any ingest at zero shuffle cost.
    * Masking is sequential email → phone → IP (each replacement removes
    * its own digits, so later patterns can't re-match masked spans).
    */
  val q83PiiRedact: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("seeded", expr(PiiSeedSql))
      .select(col("doc_id"),
        regexp_count(col("seeded"), lit(EmailRe)).cast("bigint").as("n_emails"),
        regexp_count(col("seeded"), lit(PhoneRe)).cast("bigint").as("n_phones"),
        regexp_count(col("seeded"), lit(IpRe)).cast("bigint").as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("seeded"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          IpRe, "<IP>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** q84: fixed-point scale for the reconstruction-error sum — per-term
    * squared errors are rounded to 1e-12 and summed as BIGINTs, so the
    * sum is exact and order-independent on both engines (a double sum
    * would depend on each engine's fold order in its last bits).
    */
  val QuantFx = 1000000000000L

  /** q84: int8 scalar quantization of the embedding column — the
    * compression step before an ANN index ships to serving: per-vector
    * min/max affine map onto 0..255 codes, plus the reconstruction RMSE
    * that decides whether scalar quantization suffices or PQ is needed.
    * Entirely map-side (HOF transform/aggregate over the vector — no
    * shuffle, no UDF); per-vector state only, so it scales linearly and
    * composes with any embedding scan. Degenerate constant vectors
    * (scale 0) quantize to code 0 by definition rather than NaN.
    */
  val q84EmbeddingQuant: Q = (s, dir) => {
    t(s, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("mn", expr("array_min(v)"))
      .withColumn("mx", expr("array_max(v)"))
      .withColumn("scl", expr("(mx - mn) / 255.0D"))
      .withColumn("q", expr(
        "transform(v, x -> CASE WHEN scl = 0D THEN 0L ELSE CAST(round((x - mn) / scl) AS BIGINT) END)"))
      .withColumn("errfx", expr(
        s"aggregate(zip_with(v, q, (x, c) -> CAST(round(pow(x - (mn + c * scl), 2) * $QuantFx) AS BIGINT)), 0L, (a, e) -> a + e)"))
      .select(col("vec_id"),
        round(col("mn"), 6).as("v_min"),
        round(col("mx"), 6).as("v_max"),
        expr("aggregate(q, 0L, (a, c) -> a + c)").as("q_sum"),
        expr(s"round(sqrt(CAST(errfx AS DOUBLE) / $QuantFx / size(v)), 6)").as("recon_rmse"))
      .orderBy(col("vec_id"))
  }

  /** q85: near-dup cluster representative selection — the step after
    * q62's cluster assignment in a real dedup pass: instead of keeping
    * the minimum doc_id, keep the BEST document of each cluster (q54
    * quality score, doc_id tie-break) and drop the rest. Shapes: the
    * quality join is doc_id-equi (co-partitioned with the assignment),
    * the per-cluster argmax is a row_number window partitioned by
    * cluster_id — cluster count is corpus-scale but each partition is a
    * cluster (tiny), so the window never skews. Ranking compares the
    * full-precision score (bit-identical on both engines); only the
    * output is rounded.
    */
  val q85ClusterReps: Q = (s, dir) => {
    val quality = qualityTable(s, dir).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    clusterAssignments(s, dir)
      .join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"),
        round(col("quality"), 6).as("quality"),
        (col("rn") === 1).cast("bigint").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** q86: the index/batch split — docs below this id form the standing
    * corpus index ("yesterday's corpus"); the rest are the incoming
    * batch ("today's crawl").
    */
  val IncrementalSplit = 300L

  /** q86: incremental near-dup — the production dedup shape at 100 TB:
    * a standing index is never re-deduped against itself; each incoming
    * batch is checked against it. The index side is only the (doc_id,
    * simhash) manifest — two longs per historical doc, NOT the corpus
    * text — banded into four 15-bit keys exactly like q55; the batch
    * joins it band-equi (never all-pairs), verification is
    * bit_count(xor) ≤ 3, and the per-batch-doc verdict (match count +
    * the TRUE nearest index doc — min_by over (hamming, idx_doc), so
    * the closest signature wins and equal distances break by id) is a
    * map-side-combinable aggregation. Every batch doc gets a row (left
    * join), so downstream filters can keep or route non-dups without a
    * second scan.
    */
  val q86IncrementalNearDup: Q = (s, dir) => {
    val sig = simhashSigs(s, dir) // cached manifest: (doc_id, simhash)
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        "array(concat('b0:', shiftright(simhash, 0) & 32767), concat('b1:', shiftright(simhash, 15) & 32767), " +
          "concat('b2:', shiftright(simhash, 30) & 32767), concat('b3:', shiftright(simhash, 45) & 32767))"))
        .as("bkey"))
    val idx = banded.filter(col("doc_id") < IncrementalSplit)
      .select(col("doc_id").as("idx_doc"), col("simhash").as("sig_i"), col("bkey"))
    val batch = banded.filter(col("doc_id") >= IncrementalSplit)
      .select(col("doc_id"), col("simhash").as("sig_b"), col("bkey"))
    val matches = batch.join(idx, Seq("bkey"))
      .filter(expr("bit_count(sig_b ^ sig_i) <= 3"))
      // hamming is a function of the two signatures, so the distinct
      // triple set == the distinct pair set (band multiplicity dies)
      .select(col("doc_id"), col("idx_doc"),
        expr("bit_count(sig_b ^ sig_i)").as("hamming")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_index_matches"),
        min_by(col("idx_doc"), struct(col("hamming"), col("idx_doc")))
          .as("nearest_index_doc"),
        min(col("hamming")).as("nearest_hamming"))
    t(s, dir, "documents").filter(col("doc_id") >= IncrementalSplit)
      .select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_index_matches"), lit(0L)).as("n_index_matches"),
        coalesce(col("nearest_index_doc"), lit(-1L)).as("nearest_index_doc"),
        coalesce(col("nearest_hamming"), lit(-1L)).as("nearest_hamming"),
        col("n_index_matches").isNotNull.cast("bigint").as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** q137: LSH index MAINTENANCE with deletions — the other half of the
    * incremental-dedup story (q86 checks a batch against a frozen
    * index; this computes the index MUTATIONS between two corpus
    * snapshots). CDC fixture mirrors q87: old snapshot omits
    * doc_id % 13 == 5, new omits % 11 == 7, % 7 == 0 docs carry
    * revised text. Each side's MinHash signatures band exactly like
    * q45 (4 bands × 2 rows, band key = mh[2i]:mh[2i+1]); the output is
    * the per-(doc, band) posting delta an LSH bucket store applies:
    * `del` rows remove stale postings (deleted docs, and changed docs
    * whose band key moved), `add` rows insert new ones. Bands whose
    * key is unchanged emit NOTHING — the 99% unchanged corpus costs
    * zero writes.
    *
    * Scale shape: signatures are computed map-side ONLY for rows that
    * pass each snapshot's filter (on a real lakehouse the two
    * snapshot scans are delta manifests, not full rescans); the only
    * shuffle is the (doc_id, band)-keyed full-outer join of two
    * 4-rows-per-doc key tables — no text, no all-pairs. `status` is
    * index-presence CDC (a doc whose OLD text was too short to sign
    * but whose revision is signable shows as `added` — correct for the
    * index even though document-CDC calls it changed).
    */
  val q137IndexMaintenance: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    def banded(src: DataFrame): DataFrame = src
      .withColumn("tok", expr(toksS))
      .filter(size(col("tok")) >= 3)
      .withColumn("sh", graft.functions.Scalars.distinct_shingles3(col("tok")))
      .withColumn("mhs", graft.functions.Scalars.minhash8(col("sh")))
      .selectExpr("doc_id",
        "stack(4, 0, concat(mhs[0], ':', mhs[1]), 1, concat(mhs[2], ':', mhs[3]), 2, concat(mhs[4], ':', mhs[5]), 3, concat(mhs[6], ':', mhs[7])) as (band, bkey)")
      .select(col("doc_id"), col("band").cast("long").as("band"), col("bkey"))
    val oldB = banded(docs.filter(col("doc_id") % 13 =!= 5))
      .withColumnRenamed("bkey", "old_bkey")
    val newB = banded(docs.filter(col("doc_id") % 11 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))))
      .withColumnRenamed("bkey", "new_bkey")
    val j = oldB.join(newB, Seq("doc_id", "band"), "full_outer")
    val dels = j
      .filter(col("old_bkey").isNotNull &&
        (col("new_bkey").isNull || col("new_bkey") =!= col("old_bkey")))
      .select(col("doc_id"), col("band"), lit("del").as("op"),
        col("old_bkey").as("bkey"),
        when(col("new_bkey").isNull, "deleted").otherwise("changed").as("status"))
    val adds = j
      .filter(col("new_bkey").isNotNull &&
        (col("old_bkey").isNull || col("old_bkey") =!= col("new_bkey")))
      .select(col("doc_id"), col("band"), lit("add").as("op"),
        col("new_bkey").as("bkey"),
        when(col("old_bkey").isNull, "added").otherwise("changed").as("status"))
    dels.unionAll(adds).orderBy(col("doc_id"), col("band"), col("op"))
  }

  /** q138: a domain keeps at most this many docs (quality-ordered). */
  val DomainCap = 15

  /** q138: URL/domain canonicalization + per-domain caps — the standard
    * web-corpus curation step between dedup and mixing: normalize each
    * document's URL to a canonical form (case, scheme, www/m prefixes,
    * default ports, fragments, query strings, trailing slash), derive
    * the domain, and keep only the top-[[DomainCap]] docs per domain by
    * quality so no single site dominates the training mix.
    *
    * The fixture corpus has no URL column, so a raw URL is attached
    * DETERMINISTICALLY from [[UrlTemplates]] — 22 hand-curated messy
    * real-world shapes (VERDICT r7 item 7: tracking params, mobile
    * subdomains, default and non-default ports, IP hosts, punycode,
    * userinfo, deep paths, path segments that LOOK like ports, empty
    * query/fragment tails) over RFC 2606/6761-reserved names only.
    * The oracle re-derives everything from the same template table, so
    * the regex chain is value-checked end-to-end on every shape; q144
    * additionally drives the same URLs through the JSONL ingest path.
    *
    * Scale shape: canonicalization is a map-side regex chain over the
    * (cached, manifest-sized) quality table; the cap is ONE window
    * partitioned by domain — rank ≤ K folds to WindowGroupLimit, so
    * each domain-partition keeps a K-row heap and the full corpus is
    * never sorted. Domains are ~site-cardinality (millions at 100 TB),
    * so partitions stay small; a pathological mega-domain is exactly
    * the thing the cap bounds.
    */
  /** The URL canonicalizer q138 caps on: lowercase, strip fragment and
    * query string, strip scheme, strip a leading www./m. subdomain,
    * strip an explicit default port, strip a trailing slash. The
    * default-port strip is anchored to the authority (ADVICE r7) — an
    * unanchored ":(443|80)/" would also rewrite a PATH segment like
    * "/a:80/x". Entirely map-side codegen'd regexp_replace chain.
    */
  def canonicalizeUrl(raw: Column): Column = {
    val steps: Seq[Column => Column] = Seq(
      lower,
      regexp_replace(_, "#.*$", ""),
      regexp_replace(_, "\\?.*$", ""),
      regexp_replace(_, "^https?://", ""),
      regexp_replace(_, "^(www|m)\\.", ""),
      regexp_replace(_, "^([^/:]+):(443|80)(/.*)?$", "$1$3"),
      regexp_replace(_, "/$", ""))
    steps.foldLeft(raw)((c, f) => f(c))
  }

  /** Hand-curated messy URL shapes (prefix, suffix) wrapped around the
    * doc_id — the value-check corpus for [[canonicalizeUrl]] (VERDICT
    * r7 item 7). Every hostname is RFC 2606/6761-reserved (example.*,
    * .test, .example TLD, localhost, 192.0.2.0/24 TEST-NET-1). The
    * set deliberately pins LIMITATIONS too: userinfo (template 20) and
    * non-default ports (9, 17) are preserved, not stripped — the
    * oracle mirrors the same table, so behavior is checked, not
    * assumed. Templates 4/5 collapse to one canonical URL across docs
    * (query-only variation), giving q144 real duplicate groups.
    */
  private[graft] val UrlTemplates: Seq[(String, String)] = Seq(
    ("HTTPS://WWW.News.Example.COM/Politics/2026/story-", "?utm_source=tw&utm_medium=social"),
    ("http://news.example.com/politics/2026/story-", ""),
    ("https://m.news.example.com/politics/2026/story-", "#comments"),
    ("https://news.example.com:443/politics/2026/story-", "/"),
    ("https://video.example.org/watch?v=clip", "&t=42s"),
    ("HTTP://Video.Example.ORG/watch?v=clip", ""),
    ("http://shop.example.net/dp/B0", "/ref=sr_1_1?keywords=mug"),
    ("https://en.example.org/wiki/Article_", "#History"),
    ("http://192.0.2.7:80/cgi-bin/view?id=", ""),
    ("http://192.0.2.7:8080/cgi-bin/view?id=", ""),
    ("https://blog.example.com/a:80/post-", ""),
    ("https://www.example.com/search?q=caf%C3%A9&page=", ""),
    ("https://m.example.net/t/", "?igshid=deadbeef#top"),
    ("https://sub.deep.example.com/a/b/c/d/e/f/g/h-", "?sessionid=deadbeef"),
    ("http://www.host-", ".test:80"),
    ("HTTPS://M.Example.COM:443/Path/With/UPPER-", "#Frag"),
    ("https://example.com/p/", "?"),
    ("https://www.example.com/p-", "#"),
    ("http://localhost:8080/api/v1/items/", ""),
    ("https://xn--bcher-kva.example/buch-", ""),
    ("http://user@www.example.com/profile-", ""),
    ("http://example.net/p//", ""))

  /** raw_url column: template (doc_id % 22) wrapped around the doc_id. */
  private[graft] def rawUrlCol: Column = {
    val n = UrlTemplates.size
    val idx = (col("doc_id") % n).cast("int") + 1
    concat(
      element_at(array(UrlTemplates.map(t => lit(t._1)): _*), idx),
      col("doc_id").cast("string"),
      element_at(array(UrlTemplates.map(t => lit(t._2)): _*), idx))
  }

  /** DuckDB mirror of [[rawUrlCol]] (same template table, CASE form). */
  private[graft] def rawUrlSqlExpr: String =
    UrlTemplates.zipWithIndex.map { case ((p, sfx), i) =>
      s"WHEN $i THEN concat('$p', doc_id, '$sfx')"
    }.mkString(s"CASE doc_id % ${UrlTemplates.size}\n      ",
      "\n      ", "\n      END")

  /** DuckDB mirror of [[canonicalizeUrl]] as a nested regexp_replace
    * chain over `inner`.
    */
  private[graft] def canonUrlSqlExpr(inner: String): String = {
    val steps = Seq(
      ("""#.*$""", ""),
      ("""\?.*$""", ""),
      ("""^https?://""", ""),
      ("""^(www|m)\.""", ""),
      ("""^([^/:]+):(443|80)(/.*)?$""", """\1\3"""),
      ("""/$""", ""))
    steps.foldLeft(s"lower($inner)") { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep')"
    }
  }

  val q138DomainCap: Q = (s, dir) => {
    val canon = qualityTable(s, dir)
      .withColumn("raw_url", rawUrlCol)
      .withColumn("u", canonicalizeUrl(col("raw_url")))
      .withColumn("domain", regexp_extract(col("u"), "^([^/]+)", 1))
    canon
      .withColumn("rank_in_domain", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rank_in_domain") <= DomainCap)
      .select(col("doc_id"), col("domain"), col("u").as("url_canon"),
        round(col("quality"), 6).as("quality"),
        col("rank_in_domain").cast("long").as("rank_in_domain"))
      .orderBy(col("domain"), col("rank_in_domain"))
  }

  /** q144: fixture-real URL canonicalization through the JSONL ingest
    * path (VERDICT r7 item 7's side-fixture option): the [[UrlTemplates]]
    * corpus is serialized as a JSONL side-fixture — the wire format a
    * URL manifest actually arrives in — read back permissively with an
    * explicit schema (q108's ingest contract), canonicalized with the
    * SAME [[canonicalizeUrl]] chain q138 caps on, and reduced to the
    * URL-level dedup verdict a crawler dedup stage emits: the canonical
    * group size and whether this doc is the group's keeper (min doc_id).
    * The oracle recomputes everything from the documents table and the
    * same template table — a hash match proves serialize → parse →
    * canonicalize → group end-to-end on all 22 messy shapes.
    *
    * Scale shape: the JSONL write/read is embarrassingly parallel
    * (one line per doc, explicit schema — no inference pass); the only
    * shuffle is the window keyed by url_canon, whose partitions are
    * duplicate-group-sized (bounded by the worst hub URL, the thing a
    * dedup report must surface anyway).
    */
  val q144UrlIngest: Q = (s, dir) => {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val outDir = {
      val root = sys.env.getOrElse("GRAFT_JSONL_DIR",
        s"${System.getProperty("java.io.tmpdir")}/graft_jsonl")
      val key = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
      s"$root/url_fixture_$key"
    }
    t(s, dir, "documents").select(col("doc_id"))
      .withColumn("raw_url", rawUrlCol)
      .select(to_json(struct(col("doc_id"), col("raw_url"))).as("value"))
      .write.mode("overwrite").text(outDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("raw_url", StringType)))
    val parsed = s.read.schema(schema).json(outDir)
    val w = Window.partitionBy(col("url_canon"))
    parsed
      .withColumn("url_canon", canonicalizeUrl(col("raw_url")))
      .withColumn("domain", regexp_extract(col("url_canon"), "^([^/]+)", 1))
      .withColumn("n_same_canon", count(lit(1)).over(w))
      .withColumn("is_url_canonical",
        (col("doc_id") === min(col("doc_id")).over(w)).cast("bigint"))
      .select(col("doc_id"), col("domain"), col("url_canon"),
        col("n_same_canon"), col("is_url_canonical"))
      .orderBy(col("doc_id"))
  }

  /** q140: per-label embedding-centroid drift between corpus snapshots
    * — the monitoring pass an embedding-dependent pipeline (ANN index,
    * SemDeDup thresholds, hard-negative mining) runs before trusting
    * yesterday's calibration on today's corpus: per label, the cosine
    * between the old and new snapshot centroids (direction drift) and
    * the centroid-norm ratio (magnitude drift), with both memberships
    * from the same CDC fixture as q87/q137/q139. cos ≈ 1 ∧ ratio ≈ 1
    * means thresholds carry over; either moving is the retrain alarm.
    *
    * Scale shape: each side is ONE (label, dim)-keyed partial-avg
    * aggregation (map-side combinable, |labels|×64 rows out) — the
    * corpus-sized embedding scan never shuffles full vectors, and the
    * final join/cosine runs over |labels| rows. Labels must appear in
    * both snapshots to be compared (inner join — a label that lost
    * every vector is a different alarm, q87's delta already fires it).
    */
  val q140EmbeddingDrift: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    def centroid(df: DataFrame, cname: String): DataFrame = df
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i")).agg(avg(col("v")).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("i"), col("c")))).as("sc"))
      .select(col("label"), expr("transform(sc, x -> x.c)").as(cname))
    val old = e.filter(col("vec_id") % 13 =!= 5)
    val neu = e.filter(col("vec_id") % 11 =!= 7)
    centroid(old, "cent_old").join(centroid(neu, "cent_new"), Seq("label"))
      .join(old.groupBy(col("label")).agg(count(lit(1)).as("n_old")), Seq("label"))
      .join(neu.groupBy(col("label")).agg(count(lit(1)).as("n_new")), Seq("label"))
      .withColumn("centroid_cos",
        round(graft.functions.Scalars.cosine_sim(col("cent_old"), col("cent_new")), 6))
      .withColumn("norm_ratio", expr(
        """round(sqrt(aggregate(cent_new, CAST(0 AS DOUBLE), (a, x) -> a + x * x))
          |  / sqrt(aggregate(cent_old, CAST(0 AS DOUBLE), (a, x) -> a + x * x)), 6)""".stripMargin))
      .select(col("label"), col("n_old"), col("n_new"),
        col("centroid_cos"), col("norm_ratio"))
      .orderBy(col("label"))
  }

  /** q141: the END-TO-END curation pipeline — the query a user of this
    * engine actually ships: exact dedup (md5 canonical, q44/q73's
    * rule) ∘ near-dup cluster representative (q62's components + q85's
    * best-quality-per-cluster rule) ∘ quality gate (q54's score ≥ 0.6)
    * ∘ per-domain cap (q138's top-[[DomainCap]] by quality), emitting
    * one manifest row per document with each gate's verdict and the
    * final `selected` flag. Every stage reuses the SHARED definition
    * its standalone query oracle-checks (same expression trees, same
    * session caches — signatures, components, quality manifest), so
    * this composition adds no new semantics to trust, only the
    * plumbing between them — which is exactly what the oracle's
    * independent recomputation value-checks.
    *
    * Scale notes: all four stages are the standalone queries' shapes
    * (hash groupBy, banded pair join + star-contraction components,
    * manifest-sized quality join, per-domain WindowGroupLimit); the
    * composition itself adds two doc_id-keyed hash joins of
    * manifest-width tables and a window over gate SURVIVORS only.
    * The cap ranks survivors, so a spam domain can't crowd out its own
    * best docs with near-duplicates — ordering the gates is the point.
    */
  /** md5-canonical doc ids (the exact-dedup minima), cached per
    * (session, dir) like the signature/quality/cluster manifests — a
    * curation session computes the canonical set once and q141/q142
    * (and repeated invocations) reuse it instead of re-hashing the
    * corpus text per query. Doc-id-sized, MEMORY_AND_DISK.
    */
  private val canonCache =
    new graft.SessionCache

  private def canonicalMinDocs(s: SparkSession, dir: String): DataFrame =
    canonCache.getOrElseUpdate(s, dir)(
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
        .cache())

  val q141CurationPipeline: Q = (s, dir) => {
    val quality = qualityTable(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
    val canon = canonicalMinDocs(s, dir)
      .select(col("doc_id"), lit(1L).as("is_canonical"))
    val wRep = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val reps = clusterAssignments(s, dir)
      .join(quality.select(col("doc_id"), col("quality")), Seq("doc_id"))
      .withColumn("rn", row_number().over(wRep))
      .select(col("doc_id"), (col("rn") === 1).cast("bigint").as("is_cluster_rep"))
    // flags is deliberately NOT checkpoint-materialized (tried in r17,
    // no win: 1.77 → 1.82 s — its inputs are session-cached manifests,
    // so the replayed join tree is already cheap)
    val flags = quality
      .join(canon, Seq("doc_id"), "left")
      .join(reps, Seq("doc_id"))
      .withColumn("is_canonical", coalesce(col("is_canonical"), lit(0L)))
      .withColumn("quality_ok", (col("quality") >= 0.6).cast("bigint"))
      .withColumn("domain", concat(col("source"), lit(".example.com")))
    val wCap = Window.partitionBy(col("domain"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val capped = flags
      .filter(col("is_canonical") === 1 && col("is_cluster_rep") === 1 &&
        col("quality_ok") === 1)
      .withColumn("cap_rn", row_number().over(wCap))
      .select(col("doc_id"), (col("cap_rn") <= DomainCap).cast("bigint").as("cap_sel"))
    flags.join(capped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("domain"),
        round(col("quality"), 6).as("quality"),
        col("is_canonical"), col("is_cluster_rep"), col("quality_ok"),
        coalesce(col("cap_sel"), lit(0L)).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** q142: per-source duplication report — the corpus-health dashboard
    * a curation team reads before deciding where to spend crawl budget:
    * for every source, the exact-duplicate rate (docs that are NOT the
    * md5 canonical of their content group) and the near-duplicate rate
    * (docs that are not their simhash cluster's minimum — q62's
    * is_duplicate, attributed back to the doc's source). A source with
    * a high exact rate is re-serving identical pages; a high near-dup
    * rate with a low exact rate is templating/boilerplate — different
    * remediations, so both rates are reported side by side.
    *
    * Scale shape: one md5-keyed hash aggregation (canonical minima) +
    * the SHARED cluster assignment (cached across q62/q85/q141 in
    * session), then a |sources|-row aggregate; per-doc flags are
    * map-side after two doc_id/hash equi-joins.
    */
  val q142DedupReport: Q = (s, dir) => {
    val canonFlag = canonicalMinDocs(s, dir).withColumn("isc", lit(1L))
    val near = clusterAssignments(s, dir)
      .select(col("doc_id"),
        (col("doc_id") =!= col("cluster_id")).cast("bigint").as("nd"))
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      // exact dup == NOT the canonical minimum of its content group
      .join(canonFlag, Seq("doc_id"), "left")
      .withColumn("e", col("isc").isNull.cast("bigint"))
      .join(near, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("e")).as("n_exact_dups"),
        sum(col("nd")).as("n_near_dups"))
      .select(col("source"), col("n_docs"),
        col("n_exact_dups"),
        round(col("n_exact_dups").cast("double") / col("n_docs"), 6)
          .as("exact_dup_rate"),
        col("n_near_dups"),
        round(col("n_near_dups").cast("double") / col("n_docs"), 6)
          .as("near_dup_rate"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q145 — exact-substring duplicated spans (stride-1 window dedup)
  // ---------------------------------------------------------------

  /** q145: rolling-window width in tokens — the minimum duplicated
    * substring length the scan detects (the fixture analogue of the
    * 50-token threshold in suffix-array training-data dedup; fixture
    * docs run ~25–60 tokens, so 8 keeps real positives).
    */
  val SpanWindow = 8

  /** q145: EXACT-substring duplicated-span coverage — the dedup family
    * member q44/q82 do not cover: q44 hashes whole documents and q82
    * hashes fixed aligned passages, so a duplicated paragraph that
    * starts mid-passage (quote reuse, syndication, template frames) is
    * invisible to both. Here every stride-1 [[SpanWindow]]-token window
    * is content-hashed; windows whose hash occurs ≥2 times corpus-wide
    * (either document) are duplicated; per document, overlapping or
    * touching duplicated windows merge into MAXIMAL spans — the
    * islands-and-gaps interval union — and the report carries span
    * count, duplicated-token coverage, and the longest span: exactly
    * the per-doc statistics a remove-duplicated-substrings pass keys
    * off (cf. suffix-array exact-substring dedup, which this
    * reproduces for matches ≥ [[SpanWindow]] tokens).
    *
    * Scale shape: window hashing is map-side (one codegen'd transform
    * per doc, W-token slices); the corpus-wide duplicate test shuffles
    * ONLY 8-byte hashes with map-side partial counts — the same
    * O(corpus tokens) a distributed suffix array pays, with no text on
    * the wire. The span merge is a per-document window (partitions
    * bounded by document length), and the join back to duplicated
    * hashes is an equi-join AQE can re-balance; no step materializes
    * pairs or text.
    */
  val q145SubstringSpans: Q = (s, dir) => {
    val base = docsTok(s, dir)
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .filter(col("n_tokens") >= 1)
    // stride-1 windows; the n >= W guard matters: Spark sequence(1, 0)
    // generates a DESCENDING sequence, not an empty one
    // The window table materializes ONCE (lazy checkpoint — no extra
    // job; both consumers below share the computed blocks): the old
    // plan re-ran the tokenize+slice-hash explode subtree for each
    // consumer (the partial aggregation under the count exchange makes
    // the two subtrees differ, so ReuseExchange never deduped them),
    // and the slice/concat/hash work per window dwarfs the 20-byte row
    // it produces — the q45 signature-table discipline applied to span
    // hashes. The dup filter stays a groupBy + equi-join (NOT a
    // count-over-window): boilerplate spans are by definition the
    // hottest whash keys, window skew cannot be split, but the count
    // aggregate collapses map-side and AQE skew-join splits the
    // join-back (the q76 argument, verbatim).
    val wins = base.filter(col("n_tokens") >= SpanWindow)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(tok) - ${SpanWindow - 1}), " +
            s"i -> stable_hash64(concat_ws(' ', slice(tok, i, $SpanWindow))))")))
      .toDF("doc_id", "start0", "whash")
      .materialize(false)
    val dup = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("whash"))
    val dwins = wins.join(dup, Seq("whash"))
    // interval union per doc (shared with q149's decontamination):
    // a window starting at or before the running max end
    // touches/overlaps the open span; else new span
    val perDoc = SimilarityJoin.spanUnion(
        dwins.select(col("doc_id"), col("start0")), SpanWindow)
      .withColumnRenamed("n_hit_windows", "n_dup_windows")
    base.select(col("doc_id"), col("n_tokens"))
      .withColumn("n_windows",
        greatest(col("n_tokens") - (SpanWindow - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q147 — all-pairs similarity join with prefix filtering
  // ---------------------------------------------------------------

  /** q147: Jaccard threshold as a rational num/den — every filter in
    * the pipeline stays in exact integer arithmetic (τ = 1/2). */
  val AllPairsTauNum = 1
  val AllPairsTauDen = 2
  /** q147: df cut as a rational — tokens present in more than
    * num/den of the corpus (20%) are excluded from the similarity
    * universe. Standard stop-token removal for all-pairs joins: a
    * token in n/5 documents contributes O(n²) candidate pairs and
    * ~zero similarity signal.
    */
  val AllPairsMaxDfNum = 1
  val AllPairsMaxDfDen = 5

  /** q147: EXACT all-pairs Jaccard join via prefix filtering (the
    * AllPairs/PPJoin family) — the deterministic-recall complement to
    * q45's MinHash LSH: LSH trades false negatives for speed; prefix
    * filtering guarantees every pair with J ≥ τ survives candidate
    * generation. Tokens are globally ordered by ascending document
    * frequency (rarest first, ties by token); a document's PREFIX is
    * its first |d| − ⌈τ·|d|⌉ + 1 tokens in that order, and any pair
    * with J ≥ τ must share a prefix token (if the intersection avoided
    * a's prefix it would fit inside a suffix of ⌈τ·|a|⌉ − 1 < ⌈τ·|a|⌉ ≤
    * |a∩b| tokens). Candidates additionally pass the length filter
    * den·min(|a|,|b|) ≥ num·max(|a|,|b|), then verify with an exact
    * intersection count.
    *
    * The oracle is deliberately INDEPENDENT of the optimization: it
    * joins on every shared token with no prefix or length filter, so a
    * hash match proves the prefix filter dropped no qualifying pair —
    * the no-false-negative property, value-checked corpus-wide.
    *
    * Scale shape: candidate pairs are generated only from prefix
    * tokens — by construction the RAREST tokens of each document — and
    * the df cut bounds any single token's postings at n·num/den, so
    * the candidate join is an equi-join on skew-bounded keys (the
    * ubiquitous tokens that would quadratically blow up a naive
    * shared-token join never reach it). Per-doc prefix ranking is a
    * document-length-bounded window; verification touches candidate
    * pairs only, carrying token arrays for just those rows.
    */
  val q147AllPairsSimilarity: Q = (s, dir) =>
    SimilarityJoin.allPairs(docsTok(s, dir), "doc_id", "tok",
        AllPairsTauNum, AllPairsTauDen, AllPairsMaxDfNum, AllPairsMaxDfDen)
      .orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------
  // q148 — the same prefix-filtered join at a second τ / df point
  // ---------------------------------------------------------------

  /** q148: τ = 2/3 — a strictly tighter threshold than q147's 1/2,
    * so the prefix is shorter (fewer candidates) and the survivor set
    * smaller. */
  val AllPairsHiTauNum = 2
  val AllPairsHiTauDen = 3
  /** q148: df cut 1/4 — tighter stop-token removal than q147's 1/5. */
  val AllPairsHiMaxDfNum = 1
  val AllPairsHiMaxDfDen = 4

  /** q148: [[SimilarityJoin.allPairs]] at (τ=2/3, df≤1/4) — proves the
    * PARAMETERIZATION of the promoted operator, not just the single
    * point q147 pinned: the prefix length ⌈τ·|d|⌉, the length filter,
    * and the final verification all change with τ, and the df universe
    * changes with the cut, so a hash match against the filter-free
    * oracle value-checks the operator's no-false-negative property at
    * a second (τ, df) coordinate.
    */
  val q148AllPairsTau: Q = (s, dir) =>
    SimilarityJoin.allPairs(docsTok(s, dir), "doc_id", "tok",
        AllPairsHiTauNum, AllPairsHiTauDen,
        AllPairsHiMaxDfNum, AllPairsHiMaxDfDen)
      .orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------
  // q150 — delta-vs-corpus all-pairs similarity join
  // ---------------------------------------------------------------

  /** q150: one doc in DeltaSplitMod (residue 1) plays the crawl delta. */
  val DeltaSplitMod = 5

  /** q150: [[SimilarityJoin.allPairsBetween]] — the incremental-service
    * shape of q147: a hash-derived 20% "crawl delta" joined against the
    * standing 80% corpus at the SAME (τ=1/2, df≤1/5) coordinate, so
    * only the pair universe changes. Global df stats span both sides
    * (as a production index would maintain them), and the oracle joins
    * every cross-side shared token with no prefix or length filter —
    * a hash match value-checks that restricting candidate generation
    * to cross-side prefixes drops no qualifying (standing, delta) pair.
    *
    * Scale shape: candidate probes are O(|Δ-prefix| · postings) instead
    * of the self-join's O(n²) universe; the delta side broadcasts when
    * a real daily delta ≪ corpus.
    */
  val q150DeltaSimilarity: Q = (s, dir) =>
    SimilarityJoin.allPairsBetween(
        docsTok(s, dir).withColumn("is_delta",
          pmod(expr(hashS("CAST(doc_id AS STRING)")), lit(DeltaSplitMod)) === 1),
        "doc_id", "tok", "is_delta",
        AllPairsTauNum, AllPairsTauDen, AllPairsMaxDfNum, AllPairsMaxDfDen)
      .orderBy(col("doc_a"), col("doc_b"))

  // ---------------------------------------------------------------
  // q149 — span-level cross-split decontamination
  // ---------------------------------------------------------------

  /** q149: one doc in EvalSplitMod lands in the held-out split. */
  val EvalSplitMod = 10

  /** q149: n-gram decontamination of a training corpus against a
    * held-out evaluation split — the industry-standard pre-training
    * hygiene pass (flag every training document that contains a
    * verbatim [[SpanWindow]]-token span from any eval document). The
    * split is hash-derived (stable_hash64(doc_id) mod [[EvalSplitMod]])
    * so both engines compute it identically with no fixture change.
    *
    * Reuses q145's machinery end-to-end: the same stride-1 window
    * hashing produces both sides' window sets, and
    * [[SimilarityJoin.spanUnion]] merges contaminated windows into
    * maximal spans per training doc. Output: one row per TRAINING doc
    * with window/span/coverage stats (zeros when clean).
    *
    * Scale shape: identical to q145 — only (doc_id, start, 8-byte
    * hash) tuples shuffle; the eval window set is distinct-deduped
    * before the join (its size is bounded by the eval split's token
    * count); span merging is a doc-bounded window. At 100 TB the eval
    * side is typically benchmark suites (tiny) — the semi-join then
    * broadcasts.
    */
  val q149SpanDecontaminate: Q = (s, dir) => {
    val base = docsTok(s, dir)
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .filter(col("n_tokens") >= 1)
      .withColumn("is_eval",
        pmod(expr(hashS("CAST(doc_id AS STRING)")), lit(EvalSplitMod)) === 0)
    // the window table materializes ONCE (lazy checkpoint): the eval
    // window set and the training-side probe below otherwise each
    // replay the tokenize+slice-hash explode subtree — q145's r17 fix
    // applied verbatim (same skew argument: the eval-set join stays a
    // distinct + equi-join AQE can re-balance)
    val wins = base.filter(col("n_tokens") >= SpanWindow)
      .select(col("doc_id"), col("is_eval"),
        posexplode(expr(
          s"transform(sequence(1, size(tok) - ${SpanWindow - 1}), " +
            s"i -> stable_hash64(concat_ws(' ', slice(tok, i, $SpanWindow))))")))
      .toDF("doc_id", "is_eval", "start0", "whash")
      .materialize(false)
    val evalSet = wins.filter(col("is_eval")).select(col("whash")).distinct()
    val hits = wins.filter(!col("is_eval"))
      .join(evalSet, Seq("whash"))
      .select(col("doc_id"), col("start0"))
    val perDoc = SimilarityJoin.spanUnion(hits, SpanWindow)
      .withColumnRenamed("n_hit_windows", "n_contam_windows")
    base.filter(!col("is_eval")).select(col("doc_id"), col("n_tokens"))
      .withColumn("n_windows",
        greatest(col("n_tokens") - (SpanWindow - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_contam_windows"), lit(0L)).as("n_contam_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("contam_frac"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "q145_substring_spans" -> q145SubstringSpans,
    "q147_allpairs_similarity" -> q147AllPairsSimilarity,
    "q148_allpairs_tau" -> q148AllPairsTau,
    "q149_span_decontaminate" -> q149SpanDecontaminate,
    "q150_delta_similarity" -> q150DeltaSimilarity,
    "q86_incremental_neardup" -> q86IncrementalNearDup,
    "q137_index_maintenance" -> q137IndexMaintenance,
    "q138_domain_cap" -> q138DomainCap,
    "q144_url_ingest" -> q144UrlIngest,
    "q140_embedding_drift" -> q140EmbeddingDrift,
    "q141_curation_pipeline" -> q141CurationPipeline,
    "q142_dedup_report" -> q142DedupReport,
    "q82_passage_dedup" -> q82PassageDedup,
    "q83_pii_redact" -> q83PiiRedact,
    "q84_embedding_quant" -> q84EmbeddingQuant,
    "q85_cluster_reps" -> q85ClusterReps,
    "q79_corpus_report" -> q79CorpusReport,
    "q80_bm25" -> q80Bm25,
    "q175_hybrid_rrf" -> q175HybridRrf,
    "q78_chunking" -> q78Chunking,
    "q77_embedding_outliers" -> q77EmbeddingOutliers,
    "q74_pmi_collocations" -> q74PmiCollocations,
    "q75_source_mix_kl" -> q75SourceMixKl,
    "q129_minhash_calibration" -> q129MinhashCalibration,
    "q130_corpus_entropy" -> q130CorpusEntropy,
    "q76_boilerplate_ngrams" -> q76BoilerplateNgrams,
    "q70_repetition_stats" -> q70RepetitionStats,
    "q71_perplexity_buckets" -> q71PerplexityBuckets,
    "q72_token_budget" -> q72TokenBudget,
    "q73_ingest_select" -> q73IngestSelect,
    "q52_cosine_topk_agg" -> q52CosineTopkAgg,
    "q68_mixture_weights" -> q68MixtureWeights,
    "q69_decontaminate" -> q69Decontaminate,
    "q67_lm_score" -> q67LmScore,
    "q58_stratified_sample" -> q58StratifiedSample,
    "q59_vocab_topk" -> q59VocabTopK,
    "q62_neardup_clusters" -> q62NearDupClusters,
    "q64_sequence_packing" -> q64SequencePacking,
    "q65_tfidf" -> q65TfIdf,
    "q54_quality_score" -> q54QualityScore,
    "q55_simhash_pairs" -> q55SimhashPairs,
    "q56_cosine_near_dup" -> q56CosineNearDup,
    "q57_ann_ivf" -> q57AnnIvf,
    "q159_ann_recall" -> q159AnnRecall,
    "q161_pq_adc" -> q161PqAdc,
    "q162_ivfpq" -> q162IvfPq,
    "q167_vec_index_delta" -> q167VecIndexDelta,
    "q187_pq_delta" -> q187PqDelta,
    "q96_semdedup" -> q96SemDedup,
    "q104_hard_negatives" -> q104HardNegatives,
    "q105_weighted_sample" -> q105WeightedSample,
    "q40_text_stats" -> q40TextStats,
    "q41_langid" -> q41LangId,
    "q132_langid_confusion" -> q132LangidConfusion,
    "q42_token_count" -> q42TokenCount,
    "q43_fingerprint" -> q43Fingerprint,
    "q44_exact_dedup" -> q44ExactDedup,
    "q45_minhash_lsh" -> q45MinhashLsh,
    "q127_containment_dedup" -> q127ContainmentDedup,
    "q46_simhash" -> q46Simhash,
    "q47_ngram_jaccard" -> q47NgramJaccard,
    "q48_cosine_topk" -> q48CosineTopk,
    "q49_embedding_stats" -> q49EmbeddingStats,
    "q50_ann_lsh" -> q50AnnLsh)

  // ---- DuckDB oracle dialect fragments ----

  private[graft] def hashD(x: String): String =
    s"(('0x' || substring(md5($x),1,15))::BIGINT)"
  private[graft] val toksD = "string_split_regex(trim(lower(text)), '\\s+')"
  private val shinglesD =
    "list_transform(range(1, len(tok)-1), i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])"
  private def minhashD(i: Int): String =
    s"list_min(list_transform(sh, s -> (${MinhashA(i)} * (${hashD("s")} % $P) + ${MinhashB(i)}) % $P))"
  private def listD(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("[", ", ", "]")
  private def stopCountD(list: Seq[String]): String =
    s"len(list_filter(tok, x -> list_contains(${listD(list)}, x)))"
  private val sigD =
    s"""WITH toks AS (SELECT *, $toksD AS tok FROM documents),
       |sh AS (SELECT *, $shinglesD AS sh FROM toks WHERE len(tok) >= 3),
       |sig AS (SELECT doc_id, list_distinct(sh) AS shd,
       |  ${(0 until NumHashes).map(i => s"${minhashD(i)} AS mh$i").mkString(", ")}
       |  FROM sh)""".stripMargin
  private def cosineD(a: String, b: String): String =
    s"round(list_cosine_similarity($a::DOUBLE[], $b::DOUBLE[]), 6)"

  /** q80's full oracle text — also embedded verbatim as q175's sparse
    * retriever subquery, so the fused ranking is checked over the same
    * SQL the standalone BM25 gate already value-checks.
    */
  private val bm25OracleD =
    s"""WITH toks AS (SELECT doc_id, $toksD AS tok FROM documents),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
      |                 CAST(sum(len(tok)) AS DOUBLE) / count(*) AS avgdl FROM toks),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
      |  FROM (SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl, unnest(tok) AS w FROM toks)
      |  WHERE w IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY doc_id, w),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
      |SELECT doc_id,
      |  round(sum(
      |    ln(1.0 + (stats.n - CAST(df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5)) *
      |    (CAST(tf.tf AS DOUBLE) * ($Bm25K1 + 1.0)) /
      |    (CAST(tf.tf AS DOUBLE) +
      |      $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(tf.dl AS DOUBLE) / stats.avgdl))), 6) AS bm25
      |FROM tf JOIN df USING (w), stats
      |GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  /** Shared IVF-build CTE chain (seeds → 2 Lloyd iterations → final
    * cents → full-corpus assignment), mirroring [[ivfCentroids]] +
    * [[ivfAssign]]; used by the q57 search oracle and q96 SemDeDup.
    */
  private lazy val ivfCtesD = {
    def asgD(cents: String): String =
      s"""  SELECT vec_id, embedding, cent_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineD("e.embedding", "c.cent")} DESC, c.cent_id ASC) AS crn
         |    FROM embeddings e CROSS JOIN $cents c) WHERE crn = 1""".stripMargin
    def lloydD(asg: String): String =
      s"""  SELECT cent_id, d.i - 1 AS dim,
         |    CAST(sum(CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1048576.0 AS c
         |  FROM $asg, (SELECT unnest(range(1, $EmbDim + 1)) AS i) d
         |  GROUP BY cent_id, d.i""".stripMargin
    s"""seeds AS (SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < $NumCentroids),
       |asg0 AS (
       |${asgD("seeds")}),
       |lloyd1 AS (
       |${lloydD("asg0")}),
       |cents1 AS (SELECT cent_id, list(c ORDER BY dim) AS cent FROM lloyd1 GROUP BY cent_id),
       |asg1 AS (
       |${asgD("cents1")}),
       |lloyd2 AS (
       |${lloydD("asg1")}),
       |cents AS (SELECT cent_id, list(c ORDER BY dim) AS cent FROM lloyd2 GROUP BY cent_id),
       |corpus AS (
       |${asgD("cents")})""".stripMargin
  }

  /** Oracle CTE builder for the q54 quality score — ONE definition of
    * the formula feeds every oracle that scores documents (q72/q73/q79/
    * q85 here, q90 in PipelineOps, q111 in StatsOps), so a weight or
    * regex tweak to [[withQualityScore]] has exactly one SQL mirror to
    * update. `extra` are document columns carried through; the final
    * CTE exposes (doc_id, extra…, n_tokens, quality).
    */
  private[operators] def qualityOracleCteD(
      name: String, extra: Seq[String] = Nil): String = {
    val ex = extra.map(c => s"$c, ").mkString
    s"""${name}_src AS (
       |  SELECT doc_id, ${ex}n_chars, len(tok) AS n_tokens_q,
       |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
       |    length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_punct,
       |    ${stopCountD(StopEn)} AS n_stop
       |  FROM (SELECT *, $toksD AS tok FROM documents)),
       |$name AS (SELECT doc_id, ${ex}CAST(n_tokens_q AS BIGINT) AS n_tokens,
       |  0.3 * least(1.0, CAST(n_tokens_q AS DOUBLE) / 50.0)
       |   + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
       |   + 0.2 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE) / n_tokens_q)
       |   + 0.2 * (CAST(n_alpha AS DOUBLE) / n_chars) AS quality
       |  FROM ${name}_src)""".stripMargin
  }

  /** Shared CTE chain ending in `q` (doc_id, n_tokens, quality). */
  private val qualityCtesD = qualityOracleCteD("q")

  /** Shared CTE chain (base → flat → runs → mr → tc) for the q70
    * repetition signals (q70 inline, q73 gate).
    */
  private val repCtesD =
    s"""base AS (
       |  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens, tok
       |  FROM (SELECT doc_id, $toksD AS tok FROM documents)
       |  WHERE len(tok) >= 3),
       |flat AS (
       |  SELECT doc_id, r.i AS i, tok[r.i] AS t
       |  FROM base, LATERAL unnest(range(1, len(tok)+1)) AS r(i)),
       |runs AS (
       |  SELECT doc_id, t,
       |    i - row_number() OVER (PARTITION BY doc_id, t ORDER BY i) AS grp
       |  FROM flat),
       |mr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_run FROM (
       |         SELECT doc_id, count(*) AS c FROM runs GROUP BY doc_id, t, grp)
       |       GROUP BY doc_id),
       |tc AS (SELECT doc_id, max(c) AS top_c FROM (
       |         SELECT doc_id, count(*) AS c FROM flat GROUP BY doc_id, t)
       |       GROUP BY doc_id)""".stripMargin

  /** Shared CTE chain for the bigram LM (q67 scoring, q71 buckets):
    * tokens → unigram counts → vocab size → per-doc bigrams → bigram
    * counts.
    */
  private val lmCtesD =
    s"""toks AS (SELECT doc_id, $toksD AS tok FROM documents),
       |uni AS (
       |  SELECT w1, count(*) AS c1
       |  FROM (SELECT unnest(tok) AS w1 FROM toks) GROUP BY w1),
       |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
       |doc_bi AS (
       |  SELECT doc_id,
       |    tok[r.i] AS w1, tok[r.i] || ' ' || tok[r.i+1] AS bigram
       |  FROM toks, LATERAL unnest(range(1, len(tok))) AS r(i)
       |  WHERE len(tok) >= 2),
       |bi AS (SELECT bigram, count(*) AS c2 FROM doc_bi GROUP BY bigram)""".stripMargin

  /** Shared CTE chain: tokens → 60-bit simhash → 4×15-bit banding →
    * candidate pairs (used by q55 and as the edge source of q62).
    */
  private val simhashPairCtesD =
    s"""t AS (SELECT doc_id, unnest($toksD) AS token FROM documents),
       |h AS (SELECT doc_id, ${hashD("token")} AS hv FROM t),
       |bits AS (
       |  SELECT doc_id, b.b,
       |    CASE WHEN sum(CASE WHEN ((hv >> b.b) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM h, (SELECT unnest(range(60)) AS b) b GROUP BY doc_id, b.b),
       |sig AS (SELECT doc_id, CAST(sum(bit * (1::BIGINT << b)) AS BIGINT) AS simhash
       |        FROM bits GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, simhash, unnest([
       |    'b0:' || ((simhash >> 0) & 32767), 'b1:' || ((simhash >> 15) & 32767),
       |    'b2:' || ((simhash >> 30) & 32767), 'b3:' || ((simhash >> 45) & 32767)]) AS bkey
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q145_substring_spans" ->
      s"""WITH b AS (SELECT doc_id, $toksD AS tok FROM documents),
        |base AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens, tok
        |         FROM b WHERE len(tok) >= 1),
        |w AS (SELECT doc_id, r.i AS start0,
        |        ${hashD(s"array_to_string(list_slice(tok, r.i + 1, r.i + $SpanWindow), ' ')")} AS whash
        |      FROM base, LATERAL unnest(range(0, n_tokens - ${SpanWindow - 1})) AS r(i)),
        |d AS (SELECT whash FROM w GROUP BY whash HAVING count(*) >= 2),
        |dw AS (SELECT w.doc_id, w.start0 FROM w JOIN d USING (whash)),
        |m AS (SELECT doc_id, start0, start0 + $SpanWindow AS e,
        |        max(start0 + $SpanWindow) OVER (PARTITION BY doc_id ORDER BY start0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM dw),
        |g AS (SELECT *, CAST(start0 > coalesce(pmax, -1) AS BIGINT) AS new_span FROM m),
        |sid AS (SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY start0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM g),
        |sp AS (SELECT doc_id, span_id, min(start0) AS s0, max(e) AS e1, count(*) AS nw
        |       FROM sid GROUP BY 1, 2),
        |pd AS (SELECT doc_id, count(*) AS n_spans, sum(e1 - s0) AS covered,
        |         max(e1 - s0) AS longest, sum(nw) AS ndw FROM sp GROUP BY 1)
        |SELECT base.doc_id, n_tokens,
        |  greatest(n_tokens - ${SpanWindow - 1}, 0) AS n_windows,
        |  CAST(coalesce(ndw, 0) AS BIGINT) AS n_dup_windows,
        |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
        |  round(CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens, 6) AS dup_frac,
        |  CAST(coalesce(longest, 0) AS BIGINT) AS longest_span
        |FROM base LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q147_allpairs_similarity" ->
      // deliberately INDEPENDENT of the prefix-filter optimization:
      // joins every shared informative token with no prefix or length
      // filter, so a hash match proves no-false-negatives corpus-wide
      s"""WITH t0 AS (SELECT doc_id, unnest(list_distinct($toksD)) AS token
        |       FROM documents),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |df AS (SELECT token, count(*) AS df FROM t0 GROUP BY token),
        |keep AS (SELECT token FROM df, nd
        |         WHERE df.df * $AllPairsMaxDfDen <= nd.nd * $AllPairsMaxDfNum),
        |t AS (SELECT doc_id, token FROM t0 JOIN keep USING (token)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, inter
        |      FROM p JOIN sz sa ON sa.doc_id = doc_a
        |             JOIN sz sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, sz_a, sz_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
        |FROM j
        |WHERE inter * ${AllPairsTauNum + AllPairsTauDen} >= $AllPairsTauNum * (sz_a + sz_b)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q148_allpairs_tau" ->
      // same filter-free oracle shape as q147 at the second (τ, df)
      // coordinate — a hash match value-checks the operator's
      // no-false-negative property under the changed parameters
      s"""WITH t0 AS (SELECT doc_id, unnest(list_distinct($toksD)) AS token
        |       FROM documents),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |df AS (SELECT token, count(*) AS df FROM t0 GROUP BY token),
        |keep AS (SELECT token FROM df, nd
        |         WHERE df.df * $AllPairsHiMaxDfDen <= nd.nd * $AllPairsHiMaxDfNum),
        |t AS (SELECT doc_id, token FROM t0 JOIN keep USING (token)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, inter
        |      FROM p JOIN sz sa ON sa.doc_id = doc_a
        |             JOIN sz sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, sz_a, sz_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
        |FROM j
        |WHERE inter * ${AllPairsHiTauNum + AllPairsHiTauDen} >= $AllPairsHiTauNum * (sz_a + sz_b)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q150_delta_similarity" ->
      // filter-free cross-side oracle: every shared informative token
      // between a standing doc and a delta doc, no prefix/length filter
      s"""WITH t0 AS (SELECT doc_id, unnest(list_distinct($toksD)) AS token
        |       FROM documents),
        |d0 AS (SELECT doc_id,
        |         (${hashD("doc_id::VARCHAR")} % $DeltaSplitMod = 1) AS is_b
        |       FROM documents),
        |nd AS (SELECT count(*) AS nd FROM documents),
        |df AS (SELECT token, count(*) AS df FROM t0 GROUP BY token),
        |keep AS (SELECT token FROM df, nd
        |         WHERE df.df * $AllPairsMaxDfDen <= nd.nd * $AllPairsMaxDfNum),
        |t AS (SELECT doc_id, token FROM t0 JOIN keep USING (token)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM t a JOIN d0 da ON da.doc_id = a.doc_id AND NOT da.is_b
        |           JOIN t b ON a.token = b.token
        |           JOIN d0 db ON db.doc_id = b.doc_id AND db.is_b
        |      GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, inter
        |      FROM p JOIN sz sa ON sa.doc_id = doc_a
        |             JOIN sz sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, sz_a, sz_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
        |FROM j
        |WHERE inter * ${AllPairsTauNum + AllPairsTauDen} >= $AllPairsTauNum * (sz_a + sz_b)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q149_span_decontaminate" ->
      s"""WITH b AS (SELECT doc_id, $toksD AS tok FROM documents),
        |base AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens, tok,
        |           (${hashD("doc_id::VARCHAR")} % $EvalSplitMod = 0) AS is_eval
        |         FROM b WHERE len(tok) >= 1),
        |w AS (SELECT doc_id, is_eval, r.i AS start0,
        |        ${hashD(s"array_to_string(list_slice(tok, r.i + 1, r.i + $SpanWindow), ' ')")} AS whash
        |      FROM base, LATERAL unnest(range(0, n_tokens - ${SpanWindow - 1})) AS r(i)),
        |ev AS (SELECT DISTINCT whash FROM w WHERE is_eval),
        |dw AS (SELECT w.doc_id, w.start0 FROM w JOIN ev USING (whash)
        |       WHERE NOT w.is_eval),
        |m AS (SELECT doc_id, start0, start0 + $SpanWindow AS e,
        |        max(start0 + $SpanWindow) OVER (PARTITION BY doc_id ORDER BY start0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM dw),
        |g AS (SELECT *, CAST(start0 > coalesce(pmax, -1) AS BIGINT) AS new_span FROM m),
        |sid AS (SELECT *, sum(new_span) OVER (PARTITION BY doc_id ORDER BY start0
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id FROM g),
        |sp AS (SELECT doc_id, span_id, min(start0) AS s0, max(e) AS e1, count(*) AS nw
        |       FROM sid GROUP BY 1, 2),
        |pd AS (SELECT doc_id, count(*) AS n_spans, sum(e1 - s0) AS covered,
        |         max(e1 - s0) AS longest, sum(nw) AS ncw FROM sp GROUP BY 1)
        |SELECT base.doc_id, n_tokens,
        |  greatest(n_tokens - ${SpanWindow - 1}, 0) AS n_windows,
        |  CAST(coalesce(ncw, 0) AS BIGINT) AS n_contam_windows,
        |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(covered, 0) AS BIGINT) AS covered_tokens,
        |  round(CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens, 6) AS contam_frac,
        |  CAST(coalesce(longest, 0) AS BIGINT) AS longest_span
        |FROM base LEFT JOIN pd USING (doc_id)
        |WHERE NOT is_eval
        |ORDER BY doc_id""".stripMargin,
    "q142_dedup_report" ->
      s"""WITH RECURSIVE $simhashPairCtesD,
        |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |comp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |d AS (SELECT doc_id, source, md5(text) AS mh FROM documents),
        |cm AS (SELECT mh, min(doc_id) AS cid FROM d GROUP BY mh),
        |x AS (SELECT d.doc_id, d.source,
        |        CAST(d.doc_id != cm.cid AS BIGINT) AS e,
        |        CAST(c.doc_id != c.cluster_id AS BIGINT) AS nd
        |      FROM d JOIN cm USING (mh) JOIN comp c USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(e) AS BIGINT) AS n_exact_dups,
        |  round(CAST(sum(e) AS DOUBLE) / count(*), 6) AS exact_dup_rate,
        |  CAST(sum(nd) AS BIGINT) AS n_near_dups,
        |  round(CAST(sum(nd) AS DOUBLE) / count(*), 6) AS near_dup_rate
        |FROM x GROUP BY source ORDER BY source""".stripMargin,
    "q141_curation_pipeline" ->
      s"""WITH RECURSIVE $simhashPairCtesD,
        |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |comp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |${qualityOracleCteD("q", Seq("lang", "source"))},
        |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |rep AS (SELECT c.doc_id,
        |          row_number() OVER (PARTITION BY c.cluster_id
        |            ORDER BY q.quality DESC, c.doc_id ASC) AS rn
        |        FROM comp c JOIN q USING (doc_id)),
        |f AS (SELECT q.doc_id, q.lang, q.source || '.example.com' AS domain,
        |        q.quality,
        |        CAST(cn.doc_id IS NOT NULL AS BIGINT) AS is_canonical,
        |        CAST(r.rn = 1 AS BIGINT) AS is_cluster_rep,
        |        CAST(q.quality >= 0.6 AS BIGINT) AS quality_ok
        |      FROM q LEFT JOIN canon cn USING (doc_id) JOIN rep r USING (doc_id)),
        |cap AS (SELECT doc_id,
        |          row_number() OVER (PARTITION BY domain
        |            ORDER BY quality DESC, doc_id ASC) AS cap_rn
        |        FROM f
        |        WHERE is_canonical = 1 AND is_cluster_rep = 1 AND quality_ok = 1)
        |SELECT f.doc_id, f.lang, f.domain, round(f.quality, 6) AS quality,
        |  f.is_canonical, f.is_cluster_rep, f.quality_ok,
        |  CAST(coalesce(cap.cap_rn <= $DomainCap, false) AS BIGINT) AS selected
        |FROM f LEFT JOIN cap USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,
    "q140_embedding_drift" ->
      s"""WITH oe AS (SELECT * FROM embeddings WHERE vec_id % 13 != 5),
        |ne AS (SELECT * FROM embeddings WHERE vec_id % 11 != 7),
        |oex AS (SELECT label, r.i AS i, embedding[r.i]::DOUBLE AS v
        |        FROM oe, LATERAL unnest(range(1, len(embedding)+1)) AS r(i)),
        |ocent AS (SELECT label, list(c ORDER BY i) AS cent FROM (
        |            SELECT label, i, avg(v) AS c FROM oex GROUP BY label, i)
        |          GROUP BY label),
        |nex AS (SELECT label, r.i AS i, embedding[r.i]::DOUBLE AS v
        |        FROM ne, LATERAL unnest(range(1, len(embedding)+1)) AS r(i)),
        |ncent AS (SELECT label, list(c ORDER BY i) AS cent FROM (
        |            SELECT label, i, avg(v) AS c FROM nex GROUP BY label, i)
        |          GROUP BY label),
        |oc AS (SELECT label, count(*) AS n_old FROM oe GROUP BY label),
        |nc AS (SELECT label, count(*) AS n_new FROM ne GROUP BY label)
        |SELECT o.label, CAST(oc.n_old AS BIGINT) AS n_old,
        |  CAST(nc.n_new AS BIGINT) AS n_new,
        |  round(list_cosine_similarity(o.cent, n.cent), 6) AS centroid_cos,
        |  round(sqrt(list_sum(list_transform(n.cent, x -> x * x)))
        |    / sqrt(list_sum(list_transform(o.cent, x -> x * x))), 6) AS norm_ratio
        |FROM ocent o JOIN ncent n USING (label)
        |  JOIN oc USING (label) JOIN nc USING (label)
        |ORDER BY o.label""".stripMargin,
    "q138_domain_cap" ->
      s"""WITH ${qualityOracleCteD("q", Seq("source"))},
        |u0 AS (SELECT doc_id, quality, $rawUrlSqlExpr AS raw_url FROM q),
        |c AS (SELECT doc_id, quality,
        |  ${canonUrlSqlExpr("raw_url")} AS u FROM u0),
        |r AS (SELECT doc_id, regexp_extract(u, '^([^/]+)', 1) AS domain, u,
        |    quality,
        |    row_number() OVER (PARTITION BY regexp_extract(u, '^([^/]+)', 1)
        |      ORDER BY quality DESC, doc_id) AS rank_in_domain
        |  FROM c)
        |SELECT doc_id, domain, u AS url_canon, round(quality, 6) AS quality,
        |  CAST(rank_in_domain AS BIGINT) AS rank_in_domain
        |FROM r WHERE rank_in_domain <= $DomainCap
        |ORDER BY domain, rank_in_domain""".stripMargin,
    "q144_url_ingest" ->
      s"""WITH u0 AS (SELECT doc_id, $rawUrlSqlExpr AS raw_url FROM documents),
        |c AS (SELECT doc_id, ${canonUrlSqlExpr("raw_url")} AS url_canon FROM u0)
        |SELECT doc_id, regexp_extract(url_canon, '^([^/]+)', 1) AS domain,
        |  url_canon,
        |  CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT) AS n_same_canon,
        |  CAST(doc_id = min(doc_id) OVER (PARTITION BY url_canon) AS BIGINT)
        |    AS is_url_canonical
        |FROM c ORDER BY doc_id""".stripMargin,
    "q137_index_maintenance" ->
      s"""WITH oldt AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 != 5),
        |newt AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 != 7),
        |otok AS (SELECT doc_id, $toksD AS tok FROM oldt),
        |osh AS (SELECT doc_id, $shinglesD AS sh FROM otok WHERE len(tok) >= 3),
        |osig AS (SELECT doc_id,
        |  ${(0 until NumHashes).map(i => s"${minhashD(i)} AS mh$i").mkString(", ")}
        |  FROM osh),
        |ntok AS (SELECT doc_id, $toksD AS tok FROM newt),
        |nsh AS (SELECT doc_id, $shinglesD AS sh FROM ntok WHERE len(tok) >= 3),
        |nsig AS (SELECT doc_id,
        |  ${(0 until NumHashes).map(i => s"${minhashD(i)} AS mh$i").mkString(", ")}
        |  FROM nsh),
        |ob AS (${(0 until NumBands).map(b =>
              s"SELECT doc_id, CAST($b AS BIGINT) AS band, concat(mh${2 * b}, ':', mh${2 * b + 1}) AS bkey FROM osig")
              .mkString("\n  UNION ALL ")}),
        |nb AS (${(0 until NumBands).map(b =>
              s"SELECT doc_id, CAST($b AS BIGINT) AS band, concat(mh${2 * b}, ':', mh${2 * b + 1}) AS bkey FROM nsig")
              .mkString("\n  UNION ALL ")}),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    coalesce(o.band, n.band) AS band,
        |    o.bkey AS old_bkey, n.bkey AS new_bkey
        |  FROM ob o FULL OUTER JOIN nb n
        |    ON o.doc_id = n.doc_id AND o.band = n.band)
        |SELECT doc_id, band, 'del' AS op, old_bkey AS bkey,
        |    CASE WHEN new_bkey IS NULL THEN 'deleted' ELSE 'changed' END AS status
        |  FROM j WHERE old_bkey IS NOT NULL
        |    AND (new_bkey IS NULL OR new_bkey != old_bkey)
        |UNION ALL
        |SELECT doc_id, band, 'add' AS op, new_bkey AS bkey,
        |    CASE WHEN old_bkey IS NULL THEN 'added' ELSE 'changed' END AS status
        |  FROM j WHERE new_bkey IS NOT NULL
        |    AND (old_bkey IS NULL OR old_bkey != new_bkey)
        |ORDER BY doc_id, band, op""".stripMargin,
    "q86_incremental_neardup" ->
      s"""WITH $simhashPairCtesD,
        |m AS (
        |  SELECT b.doc_id AS doc_id, i.doc_id AS idx_doc,
        |    bit_count(xor(b.simhash, i.simhash)) AS hamming
        |  FROM banded b JOIN banded i ON b.bkey = i.bkey
        |  WHERE b.doc_id >= $IncrementalSplit AND i.doc_id < $IncrementalSplit
        |    AND bit_count(xor(b.simhash, i.simhash)) <= 3
        |  GROUP BY 1, 2, 3),
        |mm AS (SELECT *, min(hamming) OVER (PARTITION BY doc_id) AS mh FROM m),
        |agg AS (SELECT doc_id, count(*) AS n_index_matches,
        |          min(CASE WHEN hamming = mh THEN idx_doc END) AS nearest_index_doc,
        |          min(hamming) AS nearest_hamming
        |        FROM mm GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_index_matches, 0) AS BIGINT) AS n_index_matches,
        |  CAST(coalesce(a.nearest_index_doc, -1) AS BIGINT) AS nearest_index_doc,
        |  CAST(coalesce(a.nearest_hamming, -1) AS BIGINT) AS nearest_hamming,
        |  CAST(a.doc_id IS NOT NULL AS BIGINT) AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= $IncrementalSplit) d
        |LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q82_passage_dedup" ->
      s"""WITH p AS (
        |  SELECT doc_id, r.i AS pidx,
        |    ${hashD(s"array_to_string(list_slice(tok, r.i * $PassageSize + 1, least(r.i * $PassageSize + $PassageSize, n)), ' ')")} AS phash
        |  FROM (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n
        |        FROM (SELECT doc_id, $toksD AS tok FROM documents)
        |        WHERE len(tok) >= 1),
        |       LATERAL unnest(range(0, (n - 1) // $PassageSize + 1)) AS r(i)),
        |k AS (SELECT doc_id, phash, doc_id * $PassageKeyShift + pidx AS pkey FROM p),
        |o AS (SELECT doc_id, pkey, min(pkey) OVER (PARTITION BY phash) AS okey FROM k)
        |SELECT doc_id, count(*) AS n_passages,
        |  CAST(sum(CAST(pkey != okey AS BIGINT)) AS BIGINT) AS n_dup_passages,
        |  round(CAST(sum(CAST(pkey != okey AS BIGINT)) AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q83_pii_redact" ->
      s"""WITH s AS (SELECT doc_id, $PiiSeedSql AS seeded FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(seeded, '$EmailRe')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(seeded, '$PhoneRe')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(seeded, '$IpRe')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(seeded,
        |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$IpRe', '<IP>', 'g') AS redacted
        |FROM s ORDER BY doc_id""".stripMargin,
    "q84_embedding_quant" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
        |        (list_max(v) - list_min(v)) / 255.0 AS scl FROM v),
        |qq AS (SELECT *, list_transform(v, x ->
        |         CASE WHEN scl = 0 THEN 0 ELSE CAST(round((x - mn) / scl) AS BIGINT) END) AS q
        |       FROM m),
        |e AS (SELECT vec_id, mn, mx, q, CAST(len(v) AS BIGINT) AS n,
        |        CAST(list_aggregate(list_transform(range(1, len(v)+1), i ->
        |          CAST(round(pow(v[i] - (mn + q[i] * scl), 2) * $QuantFx) AS BIGINT)), 'sum') AS BIGINT) AS errfx
        |      FROM qq)
        |SELECT vec_id, round(mn, 6) AS v_min, round(mx, 6) AS v_max,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        |  round(sqrt(CAST(errfx AS DOUBLE) / $QuantFx / n), 6) AS recon_rmse
        |FROM e ORDER BY vec_id""".stripMargin,
    "q85_cluster_reps" ->
      s"""WITH RECURSIVE $simhashPairCtesD,
        |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |comp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |$qualityCtesD,
        |r AS (SELECT c.doc_id, c.cluster_id, q.quality,
        |        row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id ASC) AS rn
        |      FROM comp c JOIN q USING (doc_id))
        |SELECT doc_id, cluster_id, round(quality, 6) AS quality, CAST(rn = 1 AS BIGINT) AS kept
        |FROM r ORDER BY doc_id""".stripMargin,
    "q96_semdedup" ->
      s"""WITH $ivfCtesD,
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM corpus a JOIN corpus b
        |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        |  WHERE ${cosineD("a.embedding", "b.embedding")} >= $SemDedupTau),
        |d AS (SELECT vb AS vec_id, min(va) AS dup_of FROM pairs GROUP BY 1)
        |SELECT c.vec_id, c.cent_id,
        |  coalesce(d.dup_of, -1) AS dup_of,
        |  CAST(d.vec_id IS NULL AS BIGINT) AS kept
        |FROM corpus c LEFT JOIN d USING (vec_id)
        |ORDER BY c.vec_id""".stripMargin,
    "q104_hard_negatives" ->
      s"""WITH a AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |  FROM embeddings WHERE vec_id < $HardNegAnchors),
        |s AS (
        |  SELECT a.qid, a.qlabel, e.vec_id, e.label,
        |    ${cosineD("a.qe", "e.embedding")} AS score
        |  FROM embeddings e CROSS JOIN a WHERE e.vec_id != a.qid),
        |p AS (
        |  SELECT qid, vec_id AS pos_id, score AS pos_score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
        |  FROM s WHERE label = qlabel),
        |n AS (
        |  SELECT qid, vec_id AS neg_id, score AS neg_score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
        |  FROM s WHERE label != qlabel)
        |SELECT p.qid, p.pos_id, p.pos_score, n.neg_id, n.neg_score,
        |  round(p.pos_score - n.neg_score, 6) AS margin
        |FROM p JOIN n ON p.qid = n.qid
        |WHERE p.rn = 1 AND n.rn = 1
        |ORDER BY p.qid""".stripMargin,
    "q105_weighted_sample" ->
      s"""WITH ${qualityOracleCteD("q", Seq("lang"))},
        |k AS (
        |  SELECT doc_id, lang, quality,
        |    round(ln((${hashD("'es:' || doc_id")} % 1000000 + 0.5) / 1000000.0)
        |      / quality, 6) AS skey
        |  FROM q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY skey DESC, doc_id ASC) AS rk FROM k)
        |SELECT doc_id, lang, round(quality, 6) AS quality, skey,
        |  CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= $WeightedSampleK
        |ORDER BY lang, rk""".stripMargin,
    "q57_ann_ivf" ->
      s"""WITH $ivfCtesD,
        |probes AS (
        |  SELECT vec_id AS qid, embedding AS qe, cent_id AS q_cent FROM (
        |    SELECT e.vec_id, e.embedding, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineD("e.embedding", "c.cent")} DESC, c.cent_id ASC) AS crn
        |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crn <= $NProbe),
        |scored AS (
        |  SELECT p.qid, s.cent_id, s.vec_id, ${cosineD("p.qe", "s.embedding")} AS score
        |  FROM corpus s JOIN probes p ON s.cent_id = p.q_cent AND s.vec_id != p.qid)
        |SELECT qid, cent_id, vec_id, score, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn FROM scored)
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin,
    "q159_ann_recall" ->
      s"""WITH $ivfCtesD,
        |probes AS (
        |  SELECT vec_id AS qid, embedding AS qe, cent_id AS q_cent FROM (
        |    SELECT e.vec_id, e.embedding, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineD("e.embedding", "c.cent")} DESC, c.cent_id ASC) AS crn
        |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crn <= $MultiProbeN),
        |ivf3 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT p.qid, s.vec_id,
        |      row_number() OVER (PARTITION BY p.qid ORDER BY ${cosineD("p.qe", "s.embedding")} DESC, s.vec_id ASC) AS rn
        |    FROM corpus s JOIN probes p ON s.cent_id = p.q_cent AND s.vec_id != p.qid) WHERE rn <= 3),
        |exact3 AS (
        |  SELECT qid, vec_id FROM (
        |    SELECT q.vec_id AS qid, e.vec_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosineD("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rn
        |    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
        |    WHERE e.vec_id != q.vec_id) WHERE rn <= 3),
        |perq AS (
        |  SELECT x.qid, count(i.vec_id) AS hits
        |  FROM exact3 x LEFT JOIN ivf3 i ON x.qid = i.qid AND x.vec_id = i.vec_id
        |  GROUP BY x.qid)
        |SELECT qid, hits, round(CAST(hits AS DOUBLE) / 3.0, 6) AS recall
        |FROM perq
        |WHERE (SELECT avg(CAST(hits AS DOUBLE)) / 3.0 FROM perq) >= 0.9
        |ORDER BY qid""".stripMargin,
    "q161_pq_adc" -> {
      val sd = PqSubDim
      def d2(a: String, b: String): String =
        s"round(list_sum(list_transform(range(1, ${sd + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 6)"
      def dot(a: String, b: String): String =
        s"round(list_sum(list_transform(range(1, ${sd + 1}), i -> $a[i] * $b[i])), 6)"
      s"""WITH subs AS (
        |  SELECT vec_id, mm.m AS m,
        |    list_transform(range(mm.m * $sd + 1, mm.m * $sd + ${sd + 1}),
        |      i -> CAST(embedding[i] AS DOUBLE)) AS sub
        |  FROM embeddings, (SELECT unnest(range(0, $PqM)) AS m) mm),
        |seeds AS (SELECT m, vec_id AS cent_id, sub AS cent FROM subs WHERE vec_id < $PqK),
        |asg0 AS (
        |  SELECT vec_id, m, code, sub FROM (
        |    SELECT s.vec_id, s.m, c.cent_id AS code, s.sub,
        |      row_number() OVER (PARTITION BY s.vec_id, s.m
        |        ORDER BY ${d2("s.sub", "c.cent")} ASC, c.cent_id ASC) AS rn
        |    FROM subs s JOIN seeds c ON s.m = c.m) WHERE rn = 1),
        |lloyd AS (
        |  SELECT m, code, d.i - 1 AS dim,
        |    CAST(sum(CAST(round(sub[d.i] * 1048576) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1048576.0 AS c
        |  FROM asg0, (SELECT unnest(range(1, ${sd + 1})) AS i) d
        |  GROUP BY m, code, d.i),
        |cents AS (SELECT m, code AS cent_id, list(c ORDER BY dim) AS cent FROM lloyd GROUP BY m, code),
        |codes AS (
        |  SELECT vec_id, m, code FROM (
        |    SELECT s.vec_id, s.m, c.cent_id AS code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.m
        |        ORDER BY ${d2("s.sub", "c.cent")} ASC, c.cent_id ASC) AS rn
        |    FROM subs s JOIN cents c ON s.m = c.m) WHERE rn = 1),
        |lut AS (
        |  SELECT q.vec_id AS qid, q.m, c.cent_id AS code,
        |    ${dot("q.sub", "c.cent")} AS pdot
        |  FROM subs q JOIN cents c ON q.m = c.m WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT l.qid, k.vec_id,
        |    round(CAST(sum(CAST(l.pdot AS DECIMAL(18,6))) AS DOUBLE), 6) AS adc
        |  FROM codes k JOIN lut l ON k.m = l.m AND k.code = l.code AND k.vec_id != l.qid
        |  GROUP BY l.qid, k.vec_id)
        |SELECT qid, vec_id, adc, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    },
    "q162_ivfpq" -> {
      val sd = PqSubDim
      def d2(a: String, b: String): String =
        s"round(list_sum(list_transform(range(1, ${sd + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 6)"
      s"""WITH $ivfCtesD,
        |res AS (
        |  SELECT s.vec_id, s.cent_id,
        |    list_transform(range(1, ${EmbDim + 1}), i -> CAST(s.embedding[i] AS DOUBLE) - c.cent[i]) AS residual
        |  FROM corpus s JOIN cents c ON s.cent_id = c.cent_id),
        |rsubs AS (
        |  SELECT vec_id, cent_id, mm.m AS m,
        |    list_transform(range(mm.m * $sd + 1, mm.m * $sd + ${sd + 1}), i -> residual[i]) AS sub
        |  FROM res, (SELECT unnest(range(0, $PqM)) AS m) mm),
        |rseeds AS (SELECT m, vec_id AS code_id, sub AS cw FROM rsubs WHERE vec_id < $PqK),
        |rasg0 AS (
        |  SELECT vec_id, m, code, sub FROM (
        |    SELECT s.vec_id, s.m, c.code_id AS code, s.sub,
        |      row_number() OVER (PARTITION BY s.vec_id, s.m
        |        ORDER BY ${d2("s.sub", "c.cw")} ASC, c.code_id ASC) AS rn
        |    FROM rsubs s JOIN rseeds c ON s.m = c.m) WHERE rn = 1),
        |rlloyd AS (
        |  SELECT m, code, d.i - 1 AS dim,
        |    CAST(sum(CAST(round(sub[d.i] * 1048576) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1048576.0 AS c
        |  FROM rasg0, (SELECT unnest(range(1, ${sd + 1})) AS i) d
        |  GROUP BY m, code, d.i),
        |cbooks AS (SELECT m, code AS code_id, list(c ORDER BY dim) AS cw FROM rlloyd GROUP BY m, code),
        |codes AS (
        |  SELECT vec_id, cent_id, m, code FROM (
        |    SELECT s.vec_id, s.cent_id, s.m, c.code_id AS code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.m
        |        ORDER BY ${d2("s.sub", "c.cw")} ASC, c.code_id ASC) AS rn
        |    FROM rsubs s JOIN cbooks c ON s.m = c.m) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, embedding AS qe, cent_id AS q_cent FROM (
        |    SELECT e.vec_id, e.embedding, c.cent_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineD("e.embedding", "c.cent")} DESC, c.cent_id ASC) AS crn
        |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crn <= $NProbe),
        |qc AS (
        |  SELECT p.qid, p.qe, p.q_cent,
        |    round(list_sum(list_transform(range(1, ${EmbDim + 1}), i -> CAST(p.qe[i] AS DOUBLE) * c.cent[i])), 6) AS qc_dot
        |  FROM probes p JOIN cents c ON p.q_cent = c.cent_id),
        |qlut AS (
        |  SELECT q.qid, b.m, b.code_id AS code,
        |    round(list_sum(list_transform(range(1, ${sd + 1}), i -> CAST(q.qe[b.m * $sd + i] AS DOUBLE) * b.cw[i])), 6) AS pdot
        |  FROM (SELECT DISTINCT qid, qe FROM probes) q, cbooks b),
        |scored AS (
        |  SELECT p.qid, k.vec_id, k.cent_id,
        |    round(max(p.qc_dot) + CAST(sum(CAST(l.pdot AS DECIMAL(18,6))) AS DOUBLE), 6) AS adc
        |  FROM codes k
        |  JOIN qc p ON k.cent_id = p.q_cent AND k.vec_id != p.qid
        |  JOIN qlut l ON l.qid = p.qid AND l.m = k.m AND l.code = k.code
        |  GROUP BY p.qid, k.vec_id, k.cent_id)
        |SELECT qid, cent_id, vec_id, adc, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id ASC) AS rn FROM scored)
        |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin
    },
    "q167_vec_index_delta" -> {
      def asgD(tbl: String, cents: String): String =
        s"""SELECT vec_id, embedding, cent_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cent_id,
           |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosineD("e.embedding", "c.cent")} DESC, c.cent_id ASC) AS crn
           |    FROM $tbl e CROSS JOIN $cents c) WHERE crn = 1""".stripMargin
      def lloydD(a: String): String =
        s"""SELECT cent_id, d.i - 1 AS dim,
           |    CAST(sum(CAST(round(CAST(embedding[d.i] AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
           |      / count(*) / 1048576.0 AS c
           |  FROM $a, (SELECT unnest(range(1, ${EmbDim + 1})) AS i) d
           |  GROUP BY cent_id, d.i""".stripMargin
      val sideH = hashD(s"'$VecDeltaSalt' || vec_id::VARCHAR")
      val ah = hashD("'va:' || vec_id::VARCHAR || '|' || cent_id::VARCHAR")
      s"""WITH emb_s AS (SELECT vec_id, embedding FROM embeddings WHERE $sideH % $DeltaSplitMod != 1),
        |emb_d AS (SELECT vec_id, embedding FROM embeddings WHERE $sideH % $DeltaSplitMod = 1),
        |seeds AS (SELECT vec_id AS cent_id, embedding AS cent FROM emb_s ORDER BY vec_id LIMIT $NumCentroids),
        |asg0 AS (${asgD("emb_s", "seeds")}),
        |lloyd1 AS (${lloydD("asg0")}),
        |cents1 AS (SELECT cent_id, list(c ORDER BY dim) AS cent FROM lloyd1 GROUP BY cent_id),
        |asg1 AS (${asgD("emb_s", "cents1")}),
        |lloyd2 AS (${lloydD("asg1")}),
        |cents AS (SELECT cent_id, list(c ORDER BY dim) AS cent FROM lloyd2 GROUP BY cent_id),
        |u AS (
        |  SELECT vec_id, cent_id, FALSE AS is_delta FROM (${asgD("emb_s", "cents")})
        |  UNION ALL
        |  SELECT vec_id, cent_id, TRUE AS is_delta FROM (${asgD("emb_d", "cents")})),
        |uh AS (SELECT *, $ah % 1000000000 AS ah FROM u)
        |SELECT cent_id,
        |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_standing,
        |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
        |  CAST(sum(CASE WHEN NOT is_delta THEN ah ELSE 0 END) AS BIGINT) AS sig_standing,
        |  CAST(sum(CASE WHEN is_delta THEN ah ELSE 0 END) AS BIGINT) AS sig_delta,
        |  round(CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS delta_frac
        |FROM uh GROUP BY cent_id ORDER BY cent_id""".stripMargin
    },
    // q187: the q161 PQ replay restricted to the standing side for
    // training (q167's split + seed rule), then BOTH sides encoded
    // against the frozen codebooks and folded into per-(m, code)
    // counts + signatures
    "q187_pq_delta" -> {
      val sd = PqSubDim
      def d2(a: String, b: String): String =
        s"round(list_sum(list_transform(range(1, ${sd + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), 6)"
      val sideH = hashD(s"'$VecDeltaSalt' || vec_id::VARCHAR")
      val ch = hashD("'pc:' || vec_id::VARCHAR || '|' || m::VARCHAR || '|' || code::VARCHAR")
      def subsOf(src: String): String =
        s"""SELECT vec_id, mm.m AS m,
           |    list_transform(range(mm.m * $sd + 1, mm.m * $sd + ${sd + 1}),
           |      i -> CAST(embedding[i] AS DOUBLE)) AS sub
           |  FROM $src, (SELECT unnest(range(0, $PqM)) AS m) mm""".stripMargin
      def encode(subs: String, cents: String): String =
        s"""SELECT vec_id, m, code FROM (
           |    SELECT s.vec_id, s.m, c.cent_id AS code,
           |      row_number() OVER (PARTITION BY s.vec_id, s.m
           |        ORDER BY ${d2("s.sub", "c.cent")} ASC, c.cent_id ASC) AS rn
           |    FROM $subs s JOIN $cents c ON s.m = c.m) WHERE rn = 1""".stripMargin
      s"""WITH emb_s AS (SELECT vec_id, embedding FROM embeddings WHERE $sideH % $DeltaSplitMod != 1),
        |emb_d AS (SELECT vec_id, embedding FROM embeddings WHERE $sideH % $DeltaSplitMod = 1),
        |subs_s AS (${subsOf("emb_s")}),
        |subs_d AS (${subsOf("emb_d")}),
        |seedids AS (SELECT vec_id FROM emb_s ORDER BY vec_id LIMIT $PqK),
        |seeds AS (SELECT m, vec_id AS cent_id, sub AS cent FROM subs_s
        |          WHERE vec_id IN (SELECT vec_id FROM seedids)),
        |asg0 AS (
        |  SELECT vec_id, m, code, sub FROM (
        |    SELECT s.vec_id, s.m, c.cent_id AS code, s.sub,
        |      row_number() OVER (PARTITION BY s.vec_id, s.m
        |        ORDER BY ${d2("s.sub", "c.cent")} ASC, c.cent_id ASC) AS rn
        |    FROM subs_s s JOIN seeds c ON s.m = c.m) WHERE rn = 1),
        |lloyd AS (
        |  SELECT m, code, d.i - 1 AS dim,
        |    CAST(sum(CAST(round(sub[d.i] * 1048576) AS BIGINT)) AS DOUBLE)
        |      / count(*) / 1048576.0 AS c
        |  FROM asg0, (SELECT unnest(range(1, ${sd + 1})) AS i) d
        |  GROUP BY m, code, d.i),
        |cents AS (SELECT m, code AS cent_id, list(c ORDER BY dim) AS cent FROM lloyd GROUP BY m, code),
        |u AS (
        |  SELECT vec_id, m, code, FALSE AS is_delta FROM (${encode("subs_s", "cents")})
        |  UNION ALL
        |  SELECT vec_id, m, code, TRUE AS is_delta FROM (${encode("subs_d", "cents")})),
        |uh AS (SELECT *, $ch % 1000000000 AS ch FROM u)
        |SELECT m, code,
        |  CAST(sum(CASE WHEN NOT is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_standing,
        |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
        |  CAST(sum(CASE WHEN NOT is_delta THEN ch ELSE 0 END) AS BIGINT) AS sig_standing,
        |  CAST(sum(CASE WHEN is_delta THEN ch ELSE 0 END) AS BIGINT) AS sig_delta
        |FROM uh GROUP BY m, code ORDER BY m, code""".stripMargin
    },
    "q55_simhash_pairs" ->
      s"""WITH $simhashPairCtesD
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q58_stratified_sample" ->
      s"""SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket FROM (
        |  SELECT doc_id, lang,
        |    ${hashD("'sample:' || doc_id")} % 100 AS bucket,
        |    CASE lang ${SampleRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")} ELSE 0 END AS rate
        |  FROM documents)
        |WHERE bucket < rate ORDER BY doc_id""".stripMargin,
    "q59_vocab_topk" ->
      s"""SELECT token, count(*) AS freq
        |FROM (SELECT unnest($toksD) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token HAVING count(*) >= 3
        |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin,
    "q68_mixture_weights" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |p AS (SELECT lang, n_docs,
        |        CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS p
        |      FROM c),
        |pa AS (SELECT *, pow(p, $SamplingAlpha) AS pa FROM p)
        |SELECT lang, n_docs, round(p, 6) AS p,
        |  round(pa / sum(pa) OVER (), 6) AS q,
        |  round((pa / sum(pa) OVER ()) / p, 6) AS weight
        |FROM pa ORDER BY lang""".stripMargin,
    "q69_decontaminate" ->
      s"""WITH sh AS (
        |  SELECT doc_id, len(shd) AS n_shingles, unnest(shd) AS shingle
        |  FROM (SELECT doc_id, list_distinct($shinglesD) AS shd
        |        FROM (SELECT doc_id, $toksD AS tok FROM documents)
        |        WHERE len(tok) >= 3)),
        |h AS (SELECT doc_id, n_shingles, ${hashD("shingle")} AS h FROM sh),
        |bench AS (SELECT DISTINCT h FROM h WHERE doc_id < 20)
        |SELECT doc_id, count(*) AS shared_shingles, n_shingles,
        |  round(CAST(count(*) AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS overlap_ratio
        |FROM h JOIN bench USING (h)
        |WHERE doc_id >= 20
        |GROUP BY doc_id, n_shingles
        |HAVING count(*) >= 3
        |ORDER BY doc_id""".stripMargin,
    "q67_lm_score" ->
      s"""WITH $lmCtesD
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v.v))) / count(*), 6) AS avg_ll
        |FROM doc_bi JOIN bi USING (bigram) JOIN uni USING (w1), v
        |GROUP BY doc_id, v.v ORDER BY doc_id""".stripMargin,
    "q79_corpus_report" ->
      s"""WITH $qualityCtesD,
        |$repCtesD,
        |rep2 AS (
        |  SELECT b.doc_id,
        |    CAST(round(CAST(t2.top_c AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) > 0.1
        |         OR m.max_run >= 3 AS BIGINT) AS repetitive
        |  FROM base b JOIN mr m USING (doc_id) JOIN tc t2 USING (doc_id)),
        |d AS (
        |  SELECT doc.source, md5(doc.text) AS content_hash, b.n_tokens,
        |    q.quality, r2.repetitive
        |  FROM documents doc
        |    JOIN base b USING (doc_id)
        |    JOIN q USING (doc_id)
        |    JOIN rep2 r2 USING (doc_id)),
        |l1 AS (
        |  SELECT source, content_hash, count(*) AS cnt, sum(quality) AS sq,
        |    CAST(sum(repetitive) AS BIGINT) AS sr, CAST(sum(n_tokens) AS BIGINT) AS stk
        |  FROM d GROUP BY source, content_hash),
        |l2 AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs, count(*) AS n_distinct,
        |    sum(sq) AS sq, CAST(sum(sr) AS BIGINT) AS sr, CAST(sum(stk) AS BIGINT) AS stk
        |  FROM l1 GROUP BY source)
        |SELECT source, n_docs, n_distinct,
        |  round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
        |  round(sq / CAST(n_docs AS DOUBLE), 6) AS mean_quality,
        |  round(CAST(sr AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pct_repetitive,
        |  round(CAST(stk AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_tokens
        |FROM l2 ORDER BY source""".stripMargin,
    "q80_bm25" -> bm25OracleD,
    // q175: both retriever subqueries are the EXACT oracle texts of
    // their standalone queries (q80's SQL verbatim; q48's scoring
    // pattern), so the fusion is checked over value-checked inputs
    "q175_hybrid_rrf" ->
      s"""WITH bm AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_sparse
        |  FROM ($bm25OracleD)),
        |dn AS (
        |  SELECT vec_id AS id,
        |    row_number() OVER (ORDER BY score DESC, vec_id ASC) AS r_dense
        |  FROM (
        |    SELECT vec_id, ${cosineD("qe", "embedding")} AS score
        |    FROM embeddings,
        |      (SELECT embedding AS qe FROM embeddings WHERE vec_id = $RrfProbeId)
        |    WHERE vec_id != $RrfProbeId
        |    ORDER BY score DESC, vec_id ASC LIMIT $Bm25TopK)),
        |f AS (
        |  SELECT coalesce(bm.id, dn.id) AS id,
        |    CAST(bm.r_sparse AS BIGINT) AS r_sparse,
        |    CAST(dn.r_dense AS BIGINT) AS r_dense,
        |    round(coalesce(1.0 / ($RrfK + bm.r_sparse), CAST(0 AS DOUBLE)) +
        |          coalesce(1.0 / ($RrfK + dn.r_dense), CAST(0 AS DOUBLE)), 6)
        |      AS rrf_score
        |  FROM bm FULL OUTER JOIN dn ON bm.id = dn.id)
        |SELECT * FROM (
        |  SELECT row_number() OVER (ORDER BY rrf_score DESC, id ASC)
        |      AS fused_rank,
        |    id, rrf_score, r_sparse, r_dense
        |  FROM f)
        |WHERE fused_rank <= $Bm25TopK
        |ORDER BY fused_rank""".stripMargin,
    "q78_chunking" ->
      s"""WITH toks AS (
        |  SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id, $toksD AS tok FROM documents)
        |  WHERE len(tok) >= 1)
        |SELECT doc_id, r.i AS chunk_idx,
        |  r.i * $ChunkStride + 1 AS chunk_start,
        |  CAST(len(list_slice(tok, r.i * $ChunkStride + 1,
        |    least(r.i * $ChunkStride + $ChunkSize, n_tokens))) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(tok, r.i * $ChunkStride + 1,
        |    least(r.i * $ChunkStride + $ChunkSize, n_tokens)), ' ') AS chunk_text
        |FROM toks, LATERAL unnest(range(0, (n_tokens - 1) // $ChunkStride + 1)) AS r(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q77_embedding_outliers" ->
      s"""WITH ex AS (
        |  SELECT vec_id, label, r.i AS i, embedding[r.i]::DOUBLE AS v
        |  FROM embeddings, LATERAL unnest(range(1, len(embedding)+1)) AS r(i)),
        |cent AS (SELECT label, list(c ORDER BY i) AS centroid FROM (
        |           SELECT label, i, avg(v) AS c FROM ex GROUP BY label, i)
        |         GROUP BY label),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) AS cos_centroid
        |  FROM embeddings e JOIN cent c USING (label)),
        |mo AS (SELECT label, avg(cos_centroid) AS mu, stddev(cos_centroid) AS sd
        |       FROM scored GROUP BY label)
        |SELECT s.vec_id, s.label, s.cos_centroid,
        |  round((s.cos_centroid - mo.mu) / mo.sd, 6) AS z,
        |  CAST(abs(round((s.cos_centroid - mo.mu) / mo.sd, 6)) > 2.0 AS BIGINT) AS outlier
        |FROM scored s JOIN mo USING (label)
        |ORDER BY s.vec_id""".stripMargin,
    "q74_pmi_collocations" ->
      s"""WITH toks AS (SELECT doc_id, $toksD AS tok FROM documents),
        |doc_bi AS (
        |  SELECT tok[r.i] || ' ' || tok[r.i+1] AS bigram
        |  FROM toks, LATERAL unnest(range(1, len(tok))) AS r(i)
        |  WHERE len(tok) >= 2),
        |bi_all AS (SELECT bigram, count(*) AS c2 FROM doc_bi GROUP BY bigram),
        |uni AS (SELECT w, count(*) AS c1
        |        FROM (SELECT unnest(tok) AS w FROM toks) GROUP BY w),
        |nt AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM uni),
        |mt AS (SELECT CAST(sum(c2) AS DOUBLE) AS m FROM bi_all)
        |SELECT b.bigram, b.c2,
        |  round(ln((CAST(b.c2 AS DOUBLE) / mt.m) /
        |    ((CAST(a.c1 AS DOUBLE) / nt.n) * (CAST(bb.c1 AS DOUBLE) / nt.n))), 6) AS pmi
        |FROM bi_all b
        |  JOIN uni a ON a.w = string_split(b.bigram, ' ')[1]
        |  JOIN uni bb ON bb.w = string_split(b.bigram, ' ')[-1]
        |  , nt, mt
        |WHERE b.c2 >= $MinCollocCount
        |ORDER BY bigram""".stripMargin,
    "q75_source_mix_kl" ->
      s"""WITH sw AS (SELECT source, unnest($toksD) AS w FROM documents),
        |sc AS (SELECT source, w, count(*) AS cnt_sw FROM sw GROUP BY source, w),
        |st AS (SELECT source, CAST(sum(cnt_sw) AS BIGINT) AS n_tokens_src
        |       FROM sc GROUP BY source),
        |cw AS (SELECT w, CAST(sum(cnt_sw) AS BIGINT) AS cnt_w FROM sc GROUP BY w),
        |nt AS (SELECT CAST(sum(cnt_w) AS DOUBLE) AS n_total FROM cw)
        |SELECT sc.source, max(st.n_tokens_src) AS n_tokens,
        |  round(sum((CAST(sc.cnt_sw AS DOUBLE) / st.n_tokens_src) *
        |    ln((CAST(sc.cnt_sw AS DOUBLE) / st.n_tokens_src) /
        |       (CAST(cw.cnt_w AS DOUBLE) / nt.n_total))), 6) AS kl
        |FROM sc JOIN st USING (source) JOIN cw USING (w), nt
        |GROUP BY sc.source ORDER BY source""".stripMargin,
    "q129_minhash_calibration" ->
      s"""WITH toks AS (SELECT *, $toksD AS tok FROM documents),
        |shx AS (SELECT *, $shinglesD AS sh FROM toks WHERE len(tok) >= 3),
        |sig AS (SELECT doc_id, lang, list_distinct(sh) AS shd,
        |  ${(0 until NumHashes).map(i => s"${minhashD(i)} AS mh$i").mkString(", ")}
        |  FROM shx),
        |p AS (
        |  SELECT ${(0 until NumHashes)
            .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
            .mkString(" + ")} AS n_match,
        |    round(CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE)
        |      / len(list_distinct(a.shd || b.shd)), 6) AS j
        |  FROM sig a JOIN sig b ON a.lang = b.lang AND b.doc_id > a.doc_id
        |    AND b.doc_id - a.doc_id <= $CalibWindow),
        |pf AS (SELECT n_match, j,
        |         CAST(round(j * 1000000.0) AS BIGINT) AS jfx FROM p)
        |SELECT n_match, count(*) AS n_pairs,
        |  round((CAST(sum(jfx) AS DOUBLE) / 1000000.0) / count(*), 6)
        |    AS avg_jaccard,
        |  min(j) AS min_jaccard, max(j) AS max_jaccard
        |FROM pf GROUP BY n_match ORDER BY n_match""".stripMargin,
    "q130_corpus_entropy" ->
      s"""WITH sw AS (SELECT source, unnest($toksD) AS w FROM documents),
        |uc AS (SELECT source, w, count(*) AS c FROM sw GROUP BY 1, 2),
        |un AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM uc GROUP BY 1),
        |hu AS (
        |  SELECT uc.source, max(un.n) AS n_tokens, count(*) AS n_vocab,
        |    round(-sum((CAST(c AS DOUBLE) / un.n) * ln(CAST(c AS DOUBLE) / un.n)), 6)
        |      AS h_unigram
        |  FROM uc JOIN un USING (source) GROUP BY uc.source),
        |toks AS (SELECT source, $toksD AS tok FROM documents),
        |bgt AS (SELECT source, tok[r.i] || ' ' || tok[r.i+1] AS bg
        |        FROM toks, LATERAL unnest(range(1, len(tok))) AS r(i)
        |        WHERE len(tok) >= 2),
        |bc AS (SELECT source, bg, count(*) AS c12,
        |         split_part(bg, ' ', 1) AS w1 FROM bgt GROUP BY 1, 2),
        |b1 AS (SELECT source, w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY 1, 2),
        |bn AS (SELECT source, CAST(sum(c12) AS BIGINT) AS n2 FROM bc GROUP BY 1),
        |hb AS (
        |  SELECT bc.source,
        |    round(-sum((CAST(c12 AS DOUBLE) / bn.n2) * ln(CAST(c12 AS DOUBLE) / b1.c1)), 6)
        |      AS h_bigram_cond
        |  FROM bc JOIN b1 USING (source, w1) JOIN bn USING (source)
        |  GROUP BY bc.source)
        |SELECT source, n_tokens, n_vocab, h_unigram, h_bigram_cond
        |FROM hu JOIN hb USING (source) ORDER BY source""".stripMargin,
    "q76_boilerplate_ngrams" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct($shinglesD) AS shd
        |            FROM (SELECT doc_id, $toksD AS tok FROM documents)
        |            WHERE len(tok) >= 3),
        |ds AS (SELECT doc_id, unnest(shd) AS s FROM sh),
        |df AS (SELECT s, count(*) AS df FROM ds GROUP BY s)
        |SELECT ds.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN df.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  round(CAST(sum(CASE WHEN df.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS boiler_frac,
        |  CAST(round(CAST(sum(CASE WHEN df.df >= $BoilerplateDf THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) > $BoilerplateFracThreshold AS BIGINT) AS boilerplate
        |FROM ds JOIN df USING (s)
        |GROUP BY ds.doc_id ORDER BY doc_id""".stripMargin,
    "q70_repetition_stats" ->
      s"""WITH $repCtesD,
        |sh AS (SELECT doc_id, len(list_distinct($shinglesD)) AS nd FROM base)
        |SELECT b.doc_id, b.n_tokens,
        |  round(CAST(1 AS DOUBLE) - CAST(s.nd AS DOUBLE) / CAST(b.n_tokens - 2 AS DOUBLE), 6) AS dup_3gram_ratio,
        |  m.max_run,
        |  round(CAST(t.top_c AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) AS top_token_frac,
        |  CAST(round(CAST(t.top_c AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) > 0.1
        |       OR m.max_run >= 3 AS BIGINT) AS repetitive
        |FROM base b JOIN mr m USING (doc_id) JOIN tc t USING (doc_id)
        |  JOIN sh s USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    "q72_token_budget" ->
      s"""WITH $qualityCtesD,
        |t AS (SELECT doc_id, lang, CAST(len($toksD) AS BIGINT) AS n_tokens FROM documents),
        |d AS (SELECT t.doc_id, t.lang, t.n_tokens, q.quality FROM t JOIN q USING (doc_id)),
        |grp AS (SELECT lang, quality, sum(n_tokens) AS qt FROM d GROUP BY lang, quality),
        |g2 AS (SELECT lang, quality,
        |  coalesce(sum(qt) OVER (PARTITION BY lang ORDER BY quality DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp_before
        |  FROM grp),
        |dd AS (SELECT d.doc_id, d.lang, d.n_tokens, d.quality,
        |  CAST(g2.grp_before + coalesce(sum(d.n_tokens) OVER (
        |    PARTITION BY d.lang, d.quality ORDER BY d.doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM d JOIN g2 USING (lang, quality))
        |SELECT doc_id, lang, n_tokens, quality, cum_before,
        |  CAST(cum_before < $TokenBudgetPerLang AS BIGINT) AS selected
        |FROM dd ORDER BY doc_id""".stripMargin,
    "q73_ingest_select" ->
      s"""WITH $qualityCtesD,
        |$repCtesD,
        |canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |rep AS (
        |  SELECT b.doc_id,
        |    CAST(round(CAST(t2.top_c AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) > 0.1
        |         OR m.max_run >= 3 AS BIGINT) AS repetitive
        |  FROM base b JOIN mr m USING (doc_id) JOIN tc t2 USING (doc_id)),
        |t AS (SELECT doc_id, lang, CAST(len($toksD) AS BIGINT) AS n_tokens FROM documents)
        |SELECT t.doc_id, t.lang, t.n_tokens, q.quality
        |FROM t JOIN canon USING (doc_id) JOIN q USING (doc_id)
        |  JOIN rep USING (doc_id)
        |WHERE q.quality >= 0.6 AND rep.repetitive = 0
        |ORDER BY t.doc_id""".stripMargin,
    "q71_perplexity_buckets" ->
      s"""WITH $lmCtesD,
        |scored AS (
        |  SELECT doc_id,
        |    round(sum(ln((CAST(c2 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + v.v))) / count(*), 6) AS avg_ll
        |  FROM doc_bi JOIN bi USING (bigram) JOIN uni USING (w1), v
        |  GROUP BY doc_id, v.v),
        |counts AS (SELECT avg_ll, count(*) AS c FROM scored GROUP BY avg_ll),
        |cum AS (
        |  SELECT avg_ll,
        |    sum(c) OVER (ORDER BY avg_ll ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM counts),
        |cuts AS (
        |  SELECT
        |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) / CAST(3 AS DOUBLE)) THEN avg_ll END) AS c1,
        |    min(CASE WHEN cum >= ceil(CAST(n AS DOUBLE) * CAST(2 AS DOUBLE) / CAST(3 AS DOUBLE)) THEN avg_ll END) AS c2
        |  FROM cum)
        |SELECT s.doc_id, s.avg_ll,
        |  CASE WHEN s.avg_ll <= c.c1 THEN 'tail'
        |       WHEN s.avg_ll <= c.c2 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM scored s, cuts c ORDER BY s.doc_id""".stripMargin,
    "q64_sequence_packing" ->
      s"""SELECT doc_id, lang, n_tokens,
        |  CAST(floor(cum_before / $PackCapacity) AS BIGINT) AS pack_id,
        |  CAST(cum_before % $PackCapacity AS BIGINT) AS pack_offset
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM (SELECT doc_id, lang, CAST(len($toksD) AS BIGINT) AS n_tokens
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q65_tfidf" ->
      s"""WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest($toksD) AS token FROM documents)
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    round(CAST(tf.tf AS DOUBLE) * ln(n.n / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df USING (token), n)
        |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q62_neardup_clusters" ->
      s"""WITH RECURSIVE $simhashPairCtesD,
        |pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |walk(node, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node),
        |comp AS (SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
        |SELECT c.doc_id, c.cluster_id, s.cluster_size,
        |  CAST(c.doc_id != c.cluster_id AS BIGINT) AS is_duplicate
        |FROM comp c JOIN sizes s USING (cluster_id) ORDER BY c.doc_id""".stripMargin,
    "q56_cosine_near_dup" ->
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |    ${(0 until 8).map { i =>
               val h = hashD(s"'hp:$i:' || j")
               s"(CASE WHEN list_aggregate(list_transform(range(0, 64), j -> ($h % 2001 - 1000) * embedding[j+1]::DOUBLE), 'sum') > 0 THEN 1 ELSE 0 END) * ${1 << i}"
             }.mkString(" + ")} AS bucket
        |  FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
        |    ${cosineD("a.embedding", "b2.embedding")} AS score
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
        |SELECT vec_a AS keep_vec_id, vec_b AS drop_vec_id, score
        |FROM cand WHERE score >= $CosineNearDupThreshold
        |ORDER BY keep_vec_id, drop_vec_id""".stripMargin,
    "q54_quality_score" ->
      s"""SELECT doc_id,
        |  0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
        |   + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
        |   + 0.2 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE) / n_tokens)
        |   + 0.2 * (CAST(n_alpha AS DOUBLE) / n_chars) AS quality,
        |  CASE WHEN 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
        |         + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
        |         + 0.2 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE) / n_tokens)
        |         + 0.2 * (CAST(n_alpha AS DOUBLE) / n_chars) >= 0.8 THEN 'high'
        |       WHEN 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
        |         + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars)
        |         + 0.2 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE) / n_tokens)
        |         + 0.2 * (CAST(n_alpha AS DOUBLE) / n_chars) >= 0.6 THEN 'medium'
        |       ELSE 'low' END AS band
        |FROM (
        |  SELECT doc_id, n_chars,
        |    len(tok) AS n_tokens,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
        |    length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS n_punct,
        |    ${stopCountD(StopEn)} AS n_stop
        |  FROM (SELECT *, $toksD AS tok FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q52_cosine_topk_agg" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT qid, vec_id, ${cosineD("qe", "embedding")} AS score
        |  FROM embeddings, q WHERE vec_id != qid),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS INT) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, score, rn FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
    "q40_text_stats" ->
      s"""SELECT doc_id, lang, n_chars,
        |  len(tok)::BIGINT AS n_tokens,
        |  length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
        |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / n_chars AS alpha_ratio,
        |  CAST(length(text) AS DOUBLE) / len(tok) AS avg_token_span
        |FROM (SELECT *, $toksD AS tok FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q41_langid" ->
      s"""SELECT doc_id,
        |  ${stopCountD(StopEn)}::BIGINT AS s_en, ${stopCountD(StopEs)}::BIGINT AS s_es,
        |  ${stopCountD(StopFr)}::BIGINT AS s_fr, ${stopCountD(StopDe)}::BIGINT AS s_de,
        |  CASE WHEN ${stopCountD(StopEn)} >= ${stopCountD(StopEs)} AND ${stopCountD(StopEn)} >= ${stopCountD(StopFr)} AND ${stopCountD(StopEn)} >= ${stopCountD(StopDe)} THEN 'en'
        |       WHEN ${stopCountD(StopEs)} >= ${stopCountD(StopFr)} AND ${stopCountD(StopEs)} >= ${stopCountD(StopDe)} THEN 'es'
        |       WHEN ${stopCountD(StopFr)} >= ${stopCountD(StopDe)} THEN 'fr'
        |       ELSE 'de' END AS lang_guess
        |FROM (SELECT *, $toksD AS tok FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q132_langid_confusion" ->
      s"""WITH g AS (
        |  SELECT lang,
        |    CASE WHEN ${stopCountD(StopEn)} >= ${stopCountD(StopEs)} AND ${stopCountD(StopEn)} >= ${stopCountD(StopFr)} AND ${stopCountD(StopEn)} >= ${stopCountD(StopDe)} THEN 'en'
        |         WHEN ${stopCountD(StopEs)} >= ${stopCountD(StopFr)} AND ${stopCountD(StopEs)} >= ${stopCountD(StopDe)} THEN 'es'
        |         WHEN ${stopCountD(StopFr)} >= ${stopCountD(StopDe)} THEN 'fr'
        |         ELSE 'de' END AS lang_guess
        |  FROM (SELECT *, $toksD AS tok FROM documents)),
        |c AS (SELECT lang, lang_guess, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT lang, lang_guess, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang), 6) AS row_frac
        |FROM c ORDER BY lang, lang_guess""".stripMargin,
    "q42_token_count" ->
      s"""SELECT doc_id,
        |  len(tok)::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens,
        |  CAST(length(text) AS DOUBLE) / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS chars_per_token
        |FROM (SELECT *, $toksD AS tok FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q43_fingerprint" -> {
      // Rabin-Karp gram hash, direct polynomial form (same values the
      // Spark side computes via O(1) rolling updates)
      val pows = (0 to 7).map { k =>
        var p = 1L; (0 until k).foreach(_ => p = p * 257L % 1000000007L); p
      }
      val rollTerm = (0 to 7)
        .map(j => s"ord(substring(norm, i+$j, 1))::BIGINT * ${pows(7 - j)}")
        .mkString("(", " + ", ") % 1000000007")
      s"""SELECT doc_id, md5(norm) AS md5_fp,
        |  list_min(list_transform(range(1, length(norm)-6), i -> ${hashD("substring(norm, i, 8)")})) AS min_gram_hash,
        |  list_min(list_transform(range(1, length(norm)-6), i -> $rollTerm)) AS rolling_fp
        |FROM (SELECT doc_id, trim(lower(text)) AS norm FROM documents)
        |WHERE length(norm) >= 8
        |ORDER BY doc_id""".stripMargin
    },
    "q44_exact_dedup" ->
      """SELECT min(doc_id) AS canonical_doc_id, md5(text) AS content_hash,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY canonical_doc_id""".stripMargin,
    "q45_minhash_lsh" ->
      s"""$sigD,
        |bands AS (
        |  SELECT doc_id, shd, b.band, CASE b.band
        |    WHEN 0 THEN CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)
        |    WHEN 1 THEN CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)
        |    WHEN 2 THEN CAST(mh4 AS VARCHAR) || ':' || CAST(mh5 AS VARCHAR)
        |    ELSE CAST(mh6 AS VARCHAR) || ':' || CAST(mh7 AS VARCHAR) END AS bkey
        |  FROM sig, (SELECT unnest(range(4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shd AS sh_a, b.shd AS sh_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / len(list_distinct(sh_a || sh_b)) AS jaccard
        |FROM cand
        |WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / len(list_distinct(sh_a || sh_b)) >= $JaccardThreshold
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q127_containment_dedup" ->
      s"""$sigD,
        |bands AS (
        |  SELECT doc_id, shd, b.band, CASE b.band
        |    WHEN 0 THEN CAST(mh0 AS VARCHAR) || ':' || CAST(mh1 AS VARCHAR)
        |    WHEN 1 THEN CAST(mh2 AS VARCHAR) || ':' || CAST(mh3 AS VARCHAR)
        |    WHEN 2 THEN CAST(mh4 AS VARCHAR) || ':' || CAST(mh5 AS VARCHAR)
        |    ELSE CAST(mh6 AS VARCHAR) || ':' || CAST(mh7 AS VARCHAR) END AS bkey
        |  FROM sig, (SELECT unnest(range(4)) AS band) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shd AS sh_a, b.shd AS sh_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / least(len(sh_a), len(sh_b)) AS containment
        |FROM cand
        |WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) / least(len(sh_a), len(sh_b)) >= $ContainThreshold
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q46_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksD) AS token FROM documents),
        |h AS (SELECT doc_id, ${hashD("token")} AS hv FROM t),
        |bits AS (
        |  SELECT doc_id, b.b,
        |    CASE WHEN sum(CASE WHEN ((hv >> b.b) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM h, (SELECT unnest(range(60)) AS b) b GROUP BY doc_id, b.b)
        |SELECT doc_id, CAST(sum(bit * (1::BIGINT << b)) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q47_ngram_jaccard" ->
      s"""WITH s AS (
        |  SELECT doc_id, lang, list_distinct($shinglesD) AS shd
        |  FROM (SELECT doc_id, lang, $toksD AS tok FROM documents)
        |  WHERE len(tok) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE) / len(list_distinct(a.shd || b.shd)) AS jaccard
        |FROM s a JOIN s b ON a.lang = b.lang AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 25
        |WHERE CAST(len(list_intersect(a.shd, b.shd)) AS DOUBLE) / len(list_distinct(a.shd || b.shd)) > 0
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin,
    "q48_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT qid, vec_id, ${cosineD("qe", "embedding")} AS score
        |  FROM embeddings, q WHERE vec_id != qid),
        |ranked AS (
        |  SELECT qid, vec_id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
        |  FROM scored)
        |SELECT qid, vec_id, score, rn FROM ranked WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
    "q49_embedding_stats" ->
      """SELECT label, count(*) AS n_vectors,
        |  CAST(sum(CAST(norm AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_norm,
        |  min(norm) AS min_norm, max(norm) AS max_norm
        |FROM (SELECT label,
        |        round(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6) AS norm
        |      FROM embeddings)
        |GROUP BY label ORDER BY label""".stripMargin,
    "q50_ann_lsh" ->
      s"""WITH b AS (
        |  SELECT vec_id, embedding,
        |    ${(0 until 8).map { i =>
               val h = hashD(s"'hp:$i:' || j")
               s"(CASE WHEN list_aggregate(list_transform(range(0, 64), j -> ($h % 2001 - 1000) * embedding[j+1]::DOUBLE), 'sum') > 0 THEN 1 ELSE 0 END) * ${1 << i}"
             }.mkString(" + ")} AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM b WHERE vec_id < 50),
        |cand AS (
        |  SELECT q.qid, b.bucket, b.vec_id, ${cosineD("q.qe", "b.embedding")} AS score
        |  FROM b JOIN q ON b.bucket = q.bucket AND b.vec_id != q.qid),
        |ranked AS (
        |  SELECT qid, bucket, vec_id AS nn_vec_id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rn
        |  FROM cand)
        |SELECT qid, bucket, nn_vec_id, score FROM ranked WHERE rn = 1
        |ORDER BY qid""".stripMargin)
}
