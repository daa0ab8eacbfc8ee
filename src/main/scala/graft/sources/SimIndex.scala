package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.LlmOps

/** STANDING similarity index — the [[StandingIndex]] architecture
  * applied to the exact-similarity family (the incremental-service
  * shape q150 probes, made into a persisted artifact).
  *
  * q150's `allPairsBetween` still recomputes token document
  * frequencies, prefixes, and postings from scratch every run; the
  * production service builds them ONCE over the standing corpus and
  * answers each crawl delta by probing the STORED structures:
  *
  *   `<root>/stats/…parquet`    (nd — standing doc count)
  *   `<root>/df/…parquet`       (token, df) over standing kept vocab
  *   `<root>/prefix/…parquet`   (token, doc_id, sz) — PREFIX postings
  *   `<root>/forward/…parquet`  (doc_id, kt, sz) — kept-token forward
  *                              index for exact verification
  *
  * Semantics deliberately differ from q150 in ONE declared way: the
  * df statistics and the df CUT are frozen over the STANDING side
  * only (the delta's tokens do not shift them) — exactly what a
  * standing service does between stat refreshes. Delta tokens the
  * corpus has never seen order as df = 0 (rarest-first) and survive
  * the cut; they cannot produce candidates or intersections (no
  * standing doc contains them) but DO count in the delta doc's token
  * set size, i.e. in the Jaccard denominator. The prefix-filter
  * theorem needs only a consistent global token order across both
  * sides, which (stored df, token) provides, so no qualifying pair is
  * lost — and the q166 oracle value-checks exactly that: it joins
  * every shared kept token cross-side with NO prefix or length
  * filter, recomputing standing-side df from scratch.
  *
  * Scale shape: the build pays one tokenize+explode over the standing
  * corpus (amortized across every future delta); a lookup touches
  * |delta| docs' tokens, equi-joins the stored prefix postings
  * (df-cut-bounded, so no token's posting list exceeds
  * nd·maxDfNum/maxDfDen), and verifies candidates against the forward
  * index — O(|Δ-prefix| · bounded postings), never O(n²), and the
  * stored side is read, not rebuilt. Artifact freshness is
  * signature-validated across sessions (the [[StandingIndex]] meta-row
  * discipline): a matching corpus signature reuses the stored
  * artifact, a regen rebuilds it.
  */
object SimIndex {

  type Q = (SparkSession, String) => DataFrame

  /** Signature fold modulus (same rationale as
    * [[StandingIndex.SigMod]]).
    */
  val SigMod = 1000000000L

  def indexRoot(sfDir: String): String =
    StandingIndex.artifactRoot(sfDir, "sim")

  /** Make the similarity artifact available and return its root —
    * the [[StandingIndex.ensure]] discipline: reuse while the corpus
    * signature matches, rebuild otherwise. The signature covers the
    * FULL documents table (the standing side is a pure hash-split of
    * it, so a matching whole-corpus signature implies an identical
    * standing side).
    */
  def ensure(s: SparkSession, dir: String): String =
    StandingIndex.ensureArtifact(s, indexRoot(dir))(ensureValidated(s, dir))

  /** The validation+build step a NEW session runs (spec hook). */
  private[graft] def ensureValidated(s: SparkSession, dir: String): Unit =
    StandingIndex.refresh(s, indexRoot(dir),
        StandingIndex.inputSig(s, dir, Seq("documents")))(
      buildFrom(sideDocs(s, dir, delta = false), indexRoot(dir)))

  /** Standing-side documents with de-duplicated token arrays (q150's
    * hash split: residue 1 of [[LlmOps.DeltaSplitMod]] is the delta).
    */
  private def sideDocs(s: SparkSession, dir: String, delta: Boolean): DataFrame = {
    val cond = pmod(expr(LlmOps.hashS("CAST(doc_id AS STRING)")),
      lit(LlmOps.DeltaSplitMod)) === 1
    Engine.table(s, dir, "documents")
      .filter(if (delta) cond else !cond)
      .select(col("doc_id"),
        array_distinct(expr(LlmOps.toksS)).as("ts"))
  }

  /** ⌈τ·sz⌉ over the in-scope `sz` column, in exact integer math. */
  private def ceilTau =
    expr(s"(sz * ${LlmOps.AllPairsTauNum} + ${LlmOps.AllPairsTauDen - 1}) " +
      s"div ${LlmOps.AllPairsTauDen}")

  /** Conf key: force q165 to rebuild the artifact even when the
    * signature says it is fresh — the bench sets this to report the
    * full-build cost honestly; the default amortizes like every other
    * `ensure` (VERDICT r16 what's-wrong 3: charging an amortize-once
    * cost to every run reads as a permanent 3 s query).
    */
  val RebuildKey = "spark.graft.simindex.rebuild"

  /** Artifact writer over an explicit standing corpus (doc_id, ts) —
    * the fixture build and the stress spec's synthetic-corpus build
    * share this one implementation.
    */
  private[graft] def buildFrom(standing: DataFrame, root: String): Unit = {
    val s = standing.sparkSession
    val toks = standing.select(col("doc_id"), explode(col("ts")).as("token"))
    val dfreq = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nd = standing.agg(count(lit(1)).as("nd"))
    nd.write.mode("overwrite").parquet(s"$root/stats")
    // the FULL standing df stats are stored (the lookup applies the
    // cut itself): storing only post-cut tokens would make common
    // tokens indistinguishable from never-seen ones at lookup time,
    // and "unseen" sorts rarest — the exact inversion of the truth
    dfreq.sort(col("token")).write.mode("overwrite").parquet(s"$root/df")
    val keep = dfreq.crossJoin(broadcast(nd))
      .filter(col("df") * LlmOps.AllPairsMaxDfDen <=
        col("nd") * LlmOps.AllPairsMaxDfNum)
      .select(col("token"), col("df"))
    val kept = toks.join(keep, Seq("token"))
    kept.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("token"))).as("kt"))
      .withColumn("sz", size(col("kt")).cast("long"))
      .write.mode("overwrite").parquet(s"$root/forward")
    val sized = kept
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)))
      .withColumn("ct", ceilTau)
    sized.filter(col("rk") <= col("sz") - col("ct") + 1)
      .select(col("token"), col("doc_id"), col("sz").cast("long").as("sz"))
      .sort(col("token"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$root/prefix")
  }

  /** q165: the similarity-index BUILD as a verifiable query — write
    * the artifact, emit a one-row manifest of every stored table plus
    * a multiset signature of the prefix postings. The oracle
    * recomputes all five numbers from the raw corpus (split, df, cut,
    * per-doc prefix ranks) in exact integer arithmetic, so a hash
    * match value-checks that the persisted prefix postings are exactly
    * the rows the AllPairs prefix rule prescribes — the structure
    * every future lookup's recall rests on.
    */
  val q165SimIndexBuild: Q = (s, dir) => {
    if (s.conf.getOption(RebuildKey).exists(_.equalsIgnoreCase("true")))
      StandingIndex.invalidate(s, indexRoot(dir))
    val root = ensure(s, dir)
    val nd = s.read.parquet(s"$root/stats")
    val dfT = s.read.parquet(s"$root/df")
    val pfx = s.read.parquet(s"$root/prefix")
    val fwd = s.read.parquet(s"$root/forward")
    nd.crossJoin(dfT.crossJoin(broadcast(nd))
        .filter(col("df") * LlmOps.AllPairsMaxDfDen <=
          col("nd") * LlmOps.AllPairsMaxDfNum)
        .agg(count(lit(1)).as("n_kept_tokens")))
      .crossJoin(pfx.agg(count(lit(1)).as("n_prefix"),
        sum(pmod(expr(LlmOps.hashS(
          "concat('sp:', token, '|', CAST(doc_id AS STRING))")),
          lit(SigMod))).as("prefix_sig")))
      .crossJoin(fwd.agg(count(lit(1)).as("n_forward"),
        sum(col("sz")).as("sum_kept")))
      .select(col("nd"), col("n_kept_tokens"), col("n_prefix"),
        col("prefix_sig"), col("n_forward"), col("sum_kept"))
  }

  /** q166: delta-vs-corpus similarity as a standing-index LOOKUP — the
    * q150 question answered WITHOUT touching the standing corpus: the
    * delta's tokens order by the STORED df (unseen tokens rank df=0),
    * its prefixes probe the STORED prefix postings, and verification
    * reads the STORED forward index. The oracle is filter-free
    * (every shared kept token cross-side, no prefix/length filter) and
    * recomputes the standing df from scratch, so the hash match
    * value-checks no-false-negatives of the stored-artifact path under
    * the frozen-df semantics.
    */
  val q166SimIndexLookup: Q = (s, dir) =>
    lookupFrom(sideDocs(s, dir, delta = true), ensure(s, dir))

  /** The lookup's delta-side kept tokens, candidate pairs, and
    * verified result over an explicit delta (doc_id, ts) and artifact
    * root — shared by q166 and the stress spec (which audits the
    * candidate count the prefix probe generates on a blow-up corpus).
    */
  private[graft] def lookupCandidatesFrom(delta: DataFrame, root: String): DataFrame =
    lookupParts(delta, root)._1

  private[graft] def lookupFrom(delta: DataFrame, root: String): DataFrame = {
    val (cand, keptArrD) = lookupParts(delta, root)
    val s = delta.sparkSession
    val fwd = s.read.parquet(s"$root/forward")
      .select(col("doc_id").as("doc_a"), col("kt").as("ta"),
        col("sz").as("sz_a"))
    cand
      .join(fwd, Seq("doc_a"))
      .join(keptArrD.select(col("doc_id").as("doc_b"), col("tb"), col("sz_b")),
        Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .filter(col("inter") * (LlmOps.AllPairsTauNum + LlmOps.AllPairsTauDen) >=
        (col("sz_a") + col("sz_b")) * LlmOps.AllPairsTauNum)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (candidate pairs, delta kept-token arrays). */
  private def lookupParts(delta: DataFrame, root: String)
      : (DataFrame, DataFrame) = {
    val s = delta.sparkSession
    val ndRow = s.read.parquet(s"$root/stats")
    val dfT = s.read.parquet(s"$root/df")
      .select(col("token"), col("df").as("sdf"))
    val dtoks = delta.select(col("doc_id"), explode(col("ts")).as("token"))
      .join(dfT, Seq("token"), "left")
      .crossJoin(broadcast(ndRow))
      .filter(col("sdf").isNull ||
        col("sdf") * LlmOps.AllPairsMaxDfDen <= col("nd") * LlmOps.AllPairsMaxDfNum)
      .select(col("doc_id"), col("token"), coalesce(col("sdf"), lit(0L)).as("df"))
    val keptArrD = dtoks.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("token"))).as("tb"))
      .withColumn("sz_b", size(col("tb")).cast("long"))
    val sized = dtoks
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)))
      .withColumn("ct", ceilTau)
    val prefixD = sized.filter(col("rk") <= col("sz") - col("ct") + 1)
      .select(col("token"), col("doc_id").as("doc_b"), col("sz").as("szb"))
    val prefixS = s.read.parquet(s"$root/prefix")
      .select(col("token"), col("doc_id").as("doc_a"), col("sz").as("sza"))
    val cand = prefixS.join(prefixD,
        prefixS("token") === prefixD("token") &&
          least(col("sza"), col("szb")) * LlmOps.AllPairsTauDen >=
            greatest(col("sza"), col("szb")) * LlmOps.AllPairsTauNum)
      .select(col("doc_a"), col("doc_b")).distinct()
    (cand, keptArrD)
  }

  val queries: Map[String, Q] = Map(
    "q165_sim_index_build" -> q165SimIndexBuild,
    "q166_sim_index_lookup" -> q166SimIndexLookup)

  val oracles: Map[String, String] = Map(
    "q165_sim_index_build" -> {
      val tn = LlmOps.AllPairsTauNum; val td = LlmOps.AllPairsTauDen
      val sp = LlmOps.hashD("'sp:' || token || '|' || CAST(doc_id AS VARCHAR)")
      s"""WITH st AS (
        |  SELECT doc_id, list_distinct(${LlmOps.toksD}) AS ts FROM documents
        |  WHERE ${LlmOps.hashD("doc_id::VARCHAR")} % ${LlmOps.DeltaSplitMod} != 1),
        |t0 AS (SELECT doc_id, unnest(ts) AS token FROM st),
        |nd AS (SELECT count(*) AS nd FROM st),
        |dfreq AS (SELECT token, count(*) AS df FROM t0 GROUP BY token),
        |keep AS (SELECT token, df FROM dfreq, nd
        |         WHERE df * ${LlmOps.AllPairsMaxDfDen} <= nd.nd * ${LlmOps.AllPairsMaxDfNum}),
        |kept AS (SELECT doc_id, t0.token, df FROM t0 JOIN keep USING (token)),
        |sized AS (
        |  SELECT doc_id, token,
        |    count(*) OVER (PARTITION BY doc_id) AS sz,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, token ASC) AS rk
        |  FROM kept),
        |pfx AS (
        |  SELECT token, doc_id FROM sized
        |  WHERE rk <= sz - ((sz * $tn + ${td - 1}) // $td) + 1),
        |fwd AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id)
        |SELECT (SELECT CAST(nd AS BIGINT) FROM nd) AS nd,
        |  (SELECT CAST(count(*) AS BIGINT) FROM keep) AS n_kept_tokens,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pfx) AS n_prefix,
        |  (SELECT CAST(sum($sp % $SigMod) AS BIGINT) FROM pfx) AS prefix_sig,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fwd) AS n_forward,
        |  (SELECT CAST(sum(sz) AS BIGINT) FROM fwd) AS sum_kept""".stripMargin
    },
    "q166_sim_index_lookup" -> {
      val tn = LlmOps.AllPairsTauNum; val td = LlmOps.AllPairsTauDen
      s"""WITH d0 AS (SELECT doc_id,
        |         (${LlmOps.hashD("doc_id::VARCHAR")} % ${LlmOps.DeltaSplitMod} = 1) AS is_b
        |       FROM documents),
        |t0 AS (SELECT doc_id, unnest(list_distinct(${LlmOps.toksD})) AS token
        |       FROM documents),
        |st AS (SELECT t0.doc_id, token FROM t0 JOIN d0 USING (doc_id) WHERE NOT is_b),
        |dt AS (SELECT t0.doc_id, token FROM t0 JOIN d0 USING (doc_id) WHERE is_b),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM st),
        |dfreq AS (SELECT token, count(*) AS df FROM st GROUP BY token),
        |keep AS (SELECT token FROM dfreq, nd
        |         WHERE df * ${LlmOps.AllPairsMaxDfDen} <= nd.nd * ${LlmOps.AllPairsMaxDfNum}),
        |ks AS (SELECT doc_id, token FROM st JOIN keep USING (token)),
        |kd AS (SELECT dt.doc_id, dt.token FROM dt
        |       LEFT JOIN dfreq USING (token)
        |       CROSS JOIN nd
        |       WHERE dfreq.df IS NULL
        |          OR dfreq.df * ${LlmOps.AllPairsMaxDfDen} <= nd.nd * ${LlmOps.AllPairsMaxDfNum}),
        |sza AS (SELECT doc_id, count(*) AS sz FROM ks GROUP BY doc_id),
        |szb AS (SELECT doc_id, count(*) AS sz FROM kd GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |      FROM ks a JOIN kd b ON a.token = b.token GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, sa.sz AS sz_a, sb.sz AS sz_b, inter
        |      FROM p JOIN sza sa ON sa.doc_id = doc_a
        |             JOIN szb sb ON sb.doc_id = doc_b)
        |SELECT doc_a, doc_b, sz_a, sz_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter), 6) AS jaccard
        |FROM j
        |WHERE inter * ${tn + td} >= $tn * (sz_a + sz_b)
        |ORDER BY doc_a, doc_b""".stripMargin
    })
}
