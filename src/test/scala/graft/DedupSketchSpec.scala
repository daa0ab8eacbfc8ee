package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexOps, LlmOps}

/** Hand-computable cases + algebraic properties for the round-8 ops:
  * q145 exact-substring span dedup, q146 KMV-sample quantiles (and the
  * kmv_sample aggregate), q147 prefix-filtered all-pairs similarity.
  * The sf oracles prove engine parity; these pin the MATH and the
  * optimization-correctness properties (prefix filter loses no pair,
  * bottom-k sample is merge-order/duplication insensitive) on inputs
  * small enough to verify by hand.
  */
class DedupSketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup8").toString
    docs.map { case (id, text) => (id, text, "en", s"s$id", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  // ---- q145 exact-substring spans (SpanWindow = 8) ----

  test("q145: a shared 12-token run is one maximal span in both docs, at different offsets") {
    val run = (1 to 12).map(i => s"a$i").mkString(" ")
    val dir = corpus(Seq(
      (1L, run),                 // 12 tokens, all 5 windows duplicated
      (2L, s"z1 z2 $run"),       // same run at offset 2
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))) // unique, no dup windows
    val got = rows(LlmOps.q145SubstringSpans(spark, dir))
    assert(got == Seq(
      //      n_tok n_win n_dup n_spans covered frac      longest
      Seq(1L, 12L, 5L, 5L, 1L, 12L, 1.0, 12L),
      Seq(2L, 14L, 7L, 5L, 1L, 12L, 0.857143, 12L),
      Seq(3L, 9L, 2L, 0L, 0L, 0L, 0.0, 0L)))
  }

  test("q145: a window repeated INSIDE one doc is duplicated; disjoint runs stay two spans") {
    val p = (1 to 8).map(i => s"p$i").mkString(" ")
    val dir = corpus(Seq((1L, s"$p q1 $p"))) // 17 tokens, run at 0 and 9
    val got = rows(LlmOps.q145SubstringSpans(spark, dir))
    // windows 0 and 9 share a hash; spans [0,8) and [9,17): 2 spans,
    // 16 covered of 17, longest 8
    assert(got == Seq(Seq(1L, 17L, 10L, 2L, 2L, 16L, r6(16.0 / 17), 8L)))
  }

  test("q145: docs shorter than the window emit a zero row, not nothing") {
    val dir = corpus(Seq((1L, "t1 t2 t3")))
    assert(rows(LlmOps.q145SubstringSpans(spark, dir)) ==
      Seq(Seq(1L, 3L, 0L, 0L, 0L, 0L, 0.0, 0L)))
  }

  test("q145: overlapping duplicated windows merge (touching counts as one span)") {
    // doc1 owns c1..c16; doc2 repeats c1..c12, doc3 repeats c5..c16:
    // doc1's dup windows are starts 0..4 (from doc2) and 4..8 (from
    // doc3) — overlapping sets that must merge into ONE span 0..16
    val c = (1 to 16).map(i => s"c$i")
    val dir = corpus(Seq(
      (1L, c.mkString(" ")),
      (2L, c.take(12).mkString(" ")),
      (3L, c.drop(4).mkString(" "))))
    val got = rows(LlmOps.q145SubstringSpans(spark, dir))
    val doc1 = got.find(_.head == 1L).get
    assert(doc1 == Seq(1L, 16L, 9L, 9L, 1L, 16L, 1.0, 16L))
  }

  // ---- kmv_sample aggregate + q146 ----

  test("kmv_sample equals the window-rank bottom-k definition (the oracle's form)") {
    import spark.implicits._
    val vals = (1L to 500L)
    vals.toDF("v").createOrReplaceTempView("ks_vals")
    val agg = spark.sql(
      """SELECT kmv_sample(struct(stable_hash64(CAST(v AS STRING)), v), 16) AS s
        |FROM ks_vals""".stripMargin).collect()(0).getSeq[Long](0)
    val expected = spark.sql(
      """SELECT v FROM (
        |  SELECT v, row_number() OVER (ORDER BY stable_hash64(CAST(v AS STRING)), v) AS r
        |  FROM ks_vals) WHERE r <= 16 ORDER BY v""".stripMargin)
      .collect().toSeq.map(_.getLong(0))
    assert(agg == expected)
  }

  test("kmv_sample is insensitive to duplication and to partitioning (merge order)") {
    import spark.implicits._
    val base = (1L to 300L).toDF("v")
    def sample(df: DataFrame): Seq[Long] =
      df.selectExpr("kmv_sample(struct(stable_hash64(CAST(v AS STRING)), v), 12) AS s")
        .collect()(0).getSeq[Long](0)
    val once = sample(base.repartition(1))
    assert(sample(base.unionAll(base).unionAll(base)) == once,
      "duplicate rows changed the sample")
    assert(sample(base.repartition(13)) == once,
      "partitioning changed the sample")
    assert(once.length == 12 && once == once.sorted)
  }

  test("kmv_sample rejects wrong arity and non-struct input at plan time") {
    val e1 = intercept[Exception](spark.sql("SELECT kmv_sample(1)").collect())
    assert(e1.getMessage.contains("kmv_sample"))
    val e2 = intercept[Exception](
      spark.sql("SELECT kmv_sample(CAST(1 AS DOUBLE), 4)").collect())
    assert(e2.getMessage.toLowerCase.contains("struct"))
  }

  test("q146: sample is a subset of each group's distinct values; quantiles are monotone") {
    val df = IndexOps.q146KmvQuantiles(spark, "/root/testdata/sf0.001")
    val collected = df.collect()
    assert(collected.nonEmpty)
    collected.foreach { r =>
      val nDistinct = r.getLong(1)
      val sampleSize = r.getLong(2)
      assert(sampleSize == math.min(IndexOps.KmvQK.toLong, nDistinct))
      val Seq(e50, e90, e99, k50, k90, k99) = (3 to 8).map(r.getLong)
      assert(e50 <= e90 && e90 <= e99, "exact quantiles not monotone")
      assert(k50 <= k90 && k90 <= k99, "kmv quantiles not monotone")
    }
  }

  // ---- q147 all-pairs similarity (prefix filter) ----

  /** Brute-force reference: every shared-token pair, no prefix/length
    * filter — the same definition the DuckDB oracle uses, here as the
    * in-JVM property check that the prefix filter loses no pair.
    * Parameterized over (τ, df cut) so q147's and q148's coordinates
    * share one reference.
    */
  private def bruteForcePairs(dir: String, tauNum: Int, tauDen: Int,
      dfNum: Int, dfDen: Int): Set[(Long, Long, Long)] = {
    val docs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(expr(LlmOps.toksS)).as("ts"))
    val toks = docs.select(col("doc_id"), explode(col("ts")).as("token"))
    val nd = docs.count()
    val keep = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") * dfDen <= lit(nd) * dfNum)
      .select(col("token"))
    val kept = toks.join(keep, Seq("token"))
    val sz = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = kept.as("a").join(kept.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(col("inter") * (tauNum + tauDen) >=
        (col("sz_a") + col("sz_b")) * tauNum)
      .select(col("doc_a"), col("doc_b"), col("inter"))
      .collect().toSet.map { r: org.apache.spark.sql.Row =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) }
  }

  private def bruteForcePairs(dir: String): Set[(Long, Long, Long)] =
    bruteForcePairs(dir, LlmOps.AllPairsTauNum, LlmOps.AllPairsTauDen,
      LlmOps.AllPairsMaxDfNum, LlmOps.AllPairsMaxDfDen)

  test("q147: prefix filtering drops no qualifying pair (vs brute force, sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val got = LlmOps.q147AllPairsSimilarity(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"))
      .collect().toSet.map { r: org.apache.spark.sql.Row =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) }
    val expected = bruteForcePairs(dir)
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty, "fixture should contain near-dup pairs above tau")
  }

  test("q148: prefix filtering drops no qualifying pair at (tau=2/3, df<=1/4)") {
    val dir = "/root/testdata/sf0.001"
    val got = LlmOps.q148AllPairsTau(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"))
      .collect().toSet.map { r: org.apache.spark.sql.Row =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) }
    val expected = bruteForcePairs(dir,
      LlmOps.AllPairsHiTauNum, LlmOps.AllPairsHiTauDen,
      LlmOps.AllPairsHiMaxDfNum, LlmOps.AllPairsHiMaxDfDen)
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty)
  }

  test("q150: cross-side join equals the self-join restricted to cross pairs") {
    val dir = "/root/testdata/sf0.001"
    // delta membership mirrors q150's hash-derived split
    val deltaIds = Engine.table(spark, dir, "documents")
      .select(col("doc_id"))
      .filter(pmod(expr(LlmOps.hashS("CAST(doc_id AS STRING)")),
        lit(LlmOps.DeltaSplitMod)) === 1)
      .collect().map(_.getLong(0)).toSet
    val got = LlmOps.q150DeltaSimilarity(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("inter"))
      .collect().toSet.map { r: org.apache.spark.sql.Row =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) }
    // every emitted pair is (standing, delta)
    assert(got.forall { case (a, b, _) => !deltaIds(a) && deltaIds(b) })
    val expected = bruteForcePairs(dir).collect {
      case (a, b, i) if deltaIds(a) != deltaIds(b) =>
        if (deltaIds(b)) (a, b, i) else (b, a, i)
    }
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    assert(got.nonEmpty, "the hash split should produce cross-side pairs")
  }

  test("q147: identical docs pair at jaccard 1.0; disjoint docs never pair") {
    val filler = (1 to 8).map(i =>
      (i + 10L, (1 to 10).map(j => s"f${i}_$j").mkString(" ")))
    val dir = corpus(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")) ++ filler)
    val got = rows(LlmOps.q147AllPairsSimilarity(spark, dir))
    assert(got == Seq(Seq(1L, 2L, 6L, 6L, 6L, 1.0)))
  }

  test("q147: a half-overlap pair sits exactly at the tau boundary") {
    // |a|=6, |b|=6, inter=4: j = 4/8 = 0.5 — must be INCLUDED (>= tau)
    val filler = (1 to 8).map(i =>
      (i + 10L, (1 to 10).map(j => s"g${i}_$j").mkString(" ")))
    val dir = corpus(Seq(
      (1L, "alpha beta gamma delta w1 w2"),
      (2L, "alpha beta gamma delta v1 v2")) ++ filler)
    val got = rows(LlmOps.q147AllPairsSimilarity(spark, dir))
    assert(got == Seq(Seq(1L, 2L, 6L, 6L, 4L, 0.5)))
  }

  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
