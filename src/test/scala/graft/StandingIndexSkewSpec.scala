package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmOps
import graft.sources.StandingIndex

/** Adversarial term-skew stress for the standing positional index
  * (VERDICT r11 item 3): a Zipf-shaped corpus whose hottest term
  * appears in 50% of all documents — the web-crawl reality
  * ("the"/boilerplate) that a content-partitioned index must absorb,
  * because a term's bucket is a pure hash of the term: the hot term
  * CANNOT be split across buckets by design (that purity is what makes
  * lookups prunable), so the architecture's answer has to be that (a)
  * the hot mass lands in exactly one bucket and everything else stays
  * balanced, (b) pruning still routes cold lookups AROUND the hot
  * bucket, and (c) build/compaction remain single-pass with per-bucket
  * cost bounded by bucket SIZE (pinned as ratios, not wall time).
  *
  * The companion similarity-side stress is SimilarityScaleStressSpec;
  * this closes the positional side.
  */
object StandingIndexSkewSpec {
  case class Doc(doc_id: Long, text: String)
}

class StandingIndexSkewSpec extends AnyFunSuite {
  import StandingIndexSkewSpec.Doc

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private val NDocs = 2000

  /** 50% of docs carry `hotterm`; the cold tail is ~421 terms drawn
    * from five co-prime residue families (each term ~20–30 postings) —
    * a long, individually-light tail around one dominating head.
    */
  private def corpus(): DataFrame = {
    import spark.implicits._
    (0 until NDocs).map { d =>
      val hot = if (d % 2 == 0) "hotterm " else ""
      Doc(d.toLong, s"${hot}t${d % 97} u${d % 89} v${d % 83} w${d % 79} x${d % 73}")
    }.toDF()
  }

  private def bucketOf(term: String): Long = {
    spark.sql(s"SELECT pmod(stable_hash64('idx:$term'), " +
      s"${StandingIndex.NumIndexBuckets})").head().getLong(0)
  }

  test("hot-term corpus: one hot bucket, balanced remainder, pruned cold lookups, clean compaction") {
    val root = Files.createTempDirectory("idx_skew_").toString
    val docs = corpus().withColumn("tok", expr(LlmOps.toksS))
    StandingIndex.writeSegment(docs, root, "overwrite")

    // (1) the stored artifact never drifts from its definition, skew
    // or not: stored signed manifest == manifest from the raw corpus
    val stored = StandingIndex.manifestOf(
      StandingIndex.readPostings(spark, root))
    val fromRaw = StandingIndex.manifestOf(StandingIndex.postingsOf(docs))
    assert(Canonical.hash(stored) == Canonical.hash(fromRaw))

    // (2) routing purity: every hotterm posting is in exactly the one
    // bucket the term hashes to — the invariant pruning rests on
    val hb = bucketOf("hotterm")
    val hotBuckets = StandingIndex.readPostings(spark, root)
      .filter(col("token") === "hotterm")
      .select(col("pbucket")).distinct().collect().map(_.getLong(0)).toSeq
    assert(hotBuckets == Seq(hb), s"hotterm spread across $hotBuckets")

    // (3) bucket-size shape: the hot bucket dominates BY the hot mass
    // (≥ 1.8× the cold-bucket mean — the skew is real), while the
    // other 15 buckets stay hash-balanced (max ≤ 2× their mean) — the
    // compaction/build cost bound is per-bucket size, so this ratio IS
    // the cost pin
    val sizes = StandingIndex.readPostings(spark, root)
      .groupBy(col("pbucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hot = sizes(hb)
    val cold = (sizes - hb).values
    val coldMean = cold.sum.toDouble / cold.size
    assert(hot >= NDocs / 2, s"hot bucket $hot lost hot postings")
    assert(hot >= 1.8 * coldMean, s"hot bucket $hot vs cold mean $coldMean")
    assert(cold.max <= 2.0 * coldMean,
      s"cold buckets unbalanced: max ${cold.max} vs mean $coldMean")

    // (4) a cold-term lookup prunes AROUND the hot bucket and loses no
    // postings: partition filter in the plan, exact doc set out
    val term = "u1"
    val tb = bucketOf(term)
    assert(tb != hb, "pick a cold term hashing away from the hot bucket")
    val lookup = StandingIndex.readPostings(spark, root)
      .filter(col("pbucket") === tb && col("token") === term)
    val plan = lookup.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*pbucket[^\]]*\]""".r
      .findFirstIn(plan).isDefined, s"no pbucket partition filter:\n$plan")
    val got = lookup.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = (0 until NDocs).filter(_ % 89 == 1).map(_.toLong).toSet
    assert(got == expected, "pruned lookup missed or invented postings")

    // (5) compaction under skew: still exactly one file per bucket
    // (the hot bucket included — its task is bigger, never wider) and
    // posting-level content preserved
    val cmp = Files.createTempDirectory("idx_skew_cmp_").toString
    StandingIndex.compactPostings(spark, root, cmp)
    val perBucketFiles = Files.list(Paths.get(cmp, "postings")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("pbucket="))
      .map { p =>
        p.getFileName.toString -> Files.list(p).iterator().asScala
          .count(_.toString.endsWith(".parquet"))
      }.toMap
    assert(perBucketFiles.nonEmpty && perBucketFiles.values.forall(_ == 1),
      s"compaction left multi-file buckets: $perBucketFiles")
    val compacted = StandingIndex.manifestOf(
      StandingIndex.readPostings(spark, cmp))
    assert(Canonical.hash(compacted) == Canonical.hash(stored),
      "compaction changed the postings multiset")
  }
}
