package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmOps, SimilarityJoin}

/** VERDICT r9 item 6: a streaming twin of q149's span-level
  * decontamination — the StreamingSpanDedupSpec pattern applied to the
  * decontamination shape.
  *
  * The production setting: the EVAL side (benchmark suites) is small
  * and FIXED, so its window-hash set is computed once and held as
  * broadcastable state; the TRAINING corpus streams in, and every
  * micro-batch is flagged against the standing eval set inside
  * foreachBatch. Unlike span DEDUP (where a window's duplicate status
  * can flip retroactively when its second occurrence arrives), the
  * contamination status of a training doc is FINAL the moment it is
  * processed — the eval set never changes — so the per-doc report
  * accretes append-only and no reprocessing is ever needed. This spec
  * drives the training split through Structured Streaming in three
  * micro-batches via MemoryStream + foreachBatch and asserts:
  *
  *  1. after EVERY micro-batch, the accreted report equals batch q149
  *     restricted to the training docs fed so far (per-doc finality:
  *     later batches cannot change earlier rows);
  *  2. after the final batch, the report's canonical hash equals batch
  *     q149 over the full corpus — streamed-incremental == one-shot,
  *     value-checked transitively by q149's DuckDB oracle.
  *
  * Scale notes: the eval window set is distinct-deduped once (bounded
  * by the eval split's token count — benchmark-suite-sized in
  * production, hence the broadcast join in the per-batch flagging);
  * per batch only the BATCH's windows are hashed (narrow, map-side);
  * the accreted report is re-materialized through Engine.materialize so
  * lineage across N batches never replays N unions.
  */
object StreamingDecontamSpec {
  /** Top-level so the Encoder doesn't capture the suite instance. */
  case class Doc(doc_id: Long, text: String)
}

class StreamingDecontamSpec extends AnyFunSuite {
  import StreamingDecontamSpec.Doc

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  /** Stride-1 window hashes + per-doc lengths for one slice of
    * documents — the same tokenization + hashing q149 applies.
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

  /** The q149 output shape from flagged (doc_id, start0) hits + doc
    * lengths — contamination stats with zeros for clean docs.
    */
  private def reportFrom(hits: DataFrame, lens: DataFrame): DataFrame = {
    val perDoc = SimilarityJoin.spanUnion(hits, LlmOps.SpanWindow)
      .withColumnRenamed("n_hit_windows", "n_contam_windows")
    lens
      .withColumn("n_windows",
        greatest(col("n_tokens") - (LlmOps.SpanWindow - 1), lit(0L)))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_contam_windows"), lit(0L)).as("n_contam_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 6).as("contam_frac"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
  }

  test("streamed decontamination == batch q149 at every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val all = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("is_eval",
        pmod(expr(LlmOps.hashS("CAST(doc_id AS STRING)")),
          lit(LlmOps.EvalSplitMod)) === 0)
    // the fixed held-out split: its distinct window-hash set is the
    // standing state every batch joins against (broadcast: eval side
    // is benchmark-suite-sized in production)
    val (evalWins, _) = winsOf(all.filter(col("is_eval")).drop("is_eval"))
    val evalSet = Engine.materialize(
      evalWins.select(col("whash")).distinct())

    val training = all.filter(!col("is_eval")).drop("is_eval")
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    assert(training.size >= 3, "fixture corpus too small to split")
    val batches = training.groupBy(d => math.floorMod(d.doc_id, 3L)).toSeq
      .sortBy(_._1).map(_._2)
    assert(batches.size == 3)

    // accreted state: flagged hits + lengths of all training docs so far
    var hitsAcc: Option[DataFrame] = None
    var lensAcc: Option[DataFrame] = None

    val ms = MemoryStream[Doc]
    val query = ms.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (w, l) = winsOf(batch)
        val hits = w.join(broadcast(evalSet), Seq("whash"))
          .select(col("doc_id"), col("start0"))
        hitsAcc = Some(Engine.materialize(hitsAcc.map(_.union(hits)).getOrElse(hits)))
        lensAcc = Some(Engine.materialize(lensAcc.map(_.union(l)).getOrElse(l)))
        ()
      }
      .start()
    try {
      val batchFull = SparkEntry.queries("q149_span_decontaminate")(spark, dir)
      var fedIds = Set.empty[Long]
      batches.foreach { b =>
        ms.addData(b)
        query.processAllAvailable()
        fedIds = fedIds ++ b.map(_.doc_id)
        // per-doc finality: accreted report == batch q149 restricted to
        // the docs fed so far
        val streamed = reportFrom(hitsAcc.get, lensAcc.get)
        val restricted = batchFull.filter(col("doc_id").isin(fedIds.toSeq: _*))
        assert(Canonical.hash(streamed) == Canonical.hash(restricted),
          s"streamed report diverged after ${fedIds.size} training docs")
      }
      val streamed = reportFrom(hitsAcc.get, lensAcc.get)
      assert(Canonical.hash(streamed) == Canonical.hash(batchFull),
        "streamed-incremental end state != one-shot batch q149")
      assert(streamed.count() == batchFull.count())
    } finally query.stop()
  }
}
