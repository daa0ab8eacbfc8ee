package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmOps, SimilarityJoin}

/** VERDICT r8 item 8: a streaming twin of q145's substring-span dedup.
  *
  * A 100 TB ingest pipeline doesn't re-hash the whole corpus per drop —
  * it maintains a WINDOW-HASH INDEX incrementally: each arriving
  * micro-batch contributes its stride-1 [[LlmOps.SpanWindow]]-token
  * window hashes, the index accretes append-only, and the span-dedup
  * report is derived from the standing index (duplicate = hash seen ≥2
  * times across everything ingested so far). This spec drives documents
  * through Structured Streaming in three micro-batches via MemoryStream
  * + foreachBatch and asserts:
  *
  *  1. after EVERY micro-batch, the report derived from the accreted
  *     index equals a from-scratch recomputation over the raw texts fed
  *     so far (the index never drifts from its definition);
  *  2. after the final batch, the report's canonical hash equals batch
  *     q145's over the full corpus — streamed-incremental == one-shot,
  *     value-checked transitively by q145's DuckDB oracle.
  *
  * Duplicate-count semantics are retroactive (a window becomes
  * duplicate when its SECOND occurrence arrives, flipping the FIRST
  * occurrence's document too), so the report is a derived VIEW of the
  * index, not an append-only stream — which is why the twin is
  * foreachBatch-maintained state rather than a watermarked streaming
  * aggregation: no watermark can bound how late the second occurrence
  * of a hash arrives.
  *
  * Scale notes: per batch, only the BATCH's windows are hashed (narrow,
  * map-side); the index union is append-only and re-materialized
  * through Engine.materialize so lineage across N batches never replays
  * N unions; the report's shuffles are the same doc-bounded shapes the
  * batch query uses.
  */
object StreamingSpanDedupSpec {
  /** Top-level so the Encoder doesn't capture the suite instance. */
  case class Doc(doc_id: Long, text: String)
}

class StreamingSpanDedupSpec extends AnyFunSuite {
  import StreamingSpanDedupSpec.Doc

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  /** Window/length extraction for one slice of documents — the same
    * tokenization + stride-1 hashing q145 applies corpus-wide.
    */
  private def winsOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val base = docs
      .withColumn("tok", expr(LlmOps.toksS))
      .withColumn("n_tokens", size(col("tok")).cast("long"))
      .filter(col("n_tokens") >= 1)
    val wins = base.filter(col("n_tokens") >= LlmOps.SpanWindow)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(tok) - ${LlmOps.SpanWindow - 1}), " +
            s"i -> stable_hash64(concat_ws(' ', slice(tok, i, ${LlmOps.SpanWindow}))))")))
      .toDF("doc_id", "start0", "whash")
    (wins, base.select(col("doc_id"), col("n_tokens")))
  }

  /** Span-dedup report derived from a standing (windows, lengths)
    * index — the q145 output shape.
    */
  private def reportFrom(wins: DataFrame, lens: DataFrame): DataFrame = {
    val dup = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)
      .select(col("whash"))
    val hits = wins.join(dup, Seq("whash"))
      .select(col("doc_id"), col("start0"))
    val perDoc = SimilarityJoin.spanUnion(hits, LlmOps.SpanWindow)
      .withColumnRenamed("n_hit_windows", "n_dup_windows")
    lens
      .withColumn("n_windows",
        greatest(col("n_tokens") - (LlmOps.SpanWindow - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("dup_frac"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
  }

  test("streamed window-hash index == batch q145 at every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val docs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    assert(docs.size >= 3, "fixture corpus too small to split")
    val batches = docs.groupBy(d => math.floorMod(d.doc_id, 3L)).toSeq
      .sortBy(_._1).map(_._2)
    assert(batches.size == 3)

    // standing index: accreted windows + per-doc lengths
    var winsAcc: Option[DataFrame] = None
    var lensAcc: Option[DataFrame] = None

    val ms = MemoryStream[Doc]
    val query = ms.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (w, l) = winsOf(batch)
        winsAcc = Some(Engine.materialize(winsAcc.map(_.union(w)).getOrElse(w)))
        lensAcc = Some(Engine.materialize(lensAcc.map(_.union(l)).getOrElse(l)))
        ()
      }
      .start()
    try {
      var fedSoFar = Seq.empty[Doc]
      batches.foreach { b =>
        ms.addData(b)
        query.processAllAvailable()
        fedSoFar = fedSoFar ++ b
        // index-derived report == from-scratch recompute over raw texts
        val (fw, fl) = winsOf(fedSoFar.toDF())
        assert(Canonical.hash(reportFrom(winsAcc.get, lensAcc.get)) ==
          Canonical.hash(reportFrom(fw, fl)),
          s"index drifted from definition after ${fedSoFar.size} docs")
      }
      val streamed = reportFrom(winsAcc.get, lensAcc.get)
      val batchResult = SparkEntry.queries("q145_substring_spans")(spark, dir)
      assert(Canonical.hash(streamed) == Canonical.hash(batchResult),
        "streamed-incremental end state != one-shot batch q145")
      assert(streamed.count() == batchResult.count())
    } finally query.stop()
  }
}
