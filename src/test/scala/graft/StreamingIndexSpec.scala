package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmOps
import graft.sources.StandingIndex

/** Streaming twin of the standing index's maintenance path (q160):
  * documents arrive in micro-batches, and each batch is APPENDED to
  * the stored artifact as one segment via the same
  * [[StandingIndex.writeSegment]] q160 uses — the continuous-ingest
  * shape of an incremental indexer (new crawl slices land as segments;
  * nothing is rebuilt).
  *
  * Asserted after EVERY micro-batch:
  *
  *  1. the stored artifact's per-bucket manifest (counts + the
  *     position-level multiset signature) equals a manifest computed
  *     directly from the raw documents fed so far — the artifact never
  *     drifts from its definition;
  *
  * and after the final batch:
  *
  *  2. a BM25 LOOKUP over the stream-maintained artifact returns
  *     exactly what it returns over the one-shot q156 artifact — and
  *     q157 (the same lookup) is value-checked against the q80 corpus-
  *     scan oracle, so streamed-maintenance == scan-path transitively.
  *
  * foreachBatch (not a watermarked aggregation) because the index is
  * STATE on disk, updated transactionally per batch — the same reason
  * as the q145/q149 streaming twins.
  */
object StreamingIndexSpec {
  /** Top-level so the Encoder doesn't capture the suite instance. */
  case class Doc(doc_id: Long, text: String)
}

class StreamingIndexSpec extends AnyFunSuite {
  import StreamingIndexSpec.Doc

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def withTok(d: DataFrame): DataFrame = {
    d.withColumn("tok", expr(LlmOps.toksS))
  }

  test("stream-appended index segments == from-raw manifest at every batch; final lookup == one-shot") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val root = s"${StandingIndex.indexRoot(dir)}_stream"
    val docs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val batches = docs.groupBy(d => math.floorMod(d.doc_id, 3L)).toSeq
      .sortBy(_._1).map(_._2)
    assert(batches.size == 3)

    var first = true
    val ms = MemoryStream[Doc]
    val query = ms.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        StandingIndex.writeSegment(withTok(batch), root,
          if (first) "overwrite" else "append")
        first = false
        ()
      }
      .start()
    try {
      var fedSoFar = Seq.empty[Doc]
      batches.foreach { b =>
        ms.addData(b)
        query.processAllAvailable()
        fedSoFar = fedSoFar ++ b
        val stored = StandingIndex.manifestOf(
          spark.read.parquet(s"$root/postings")
            .withColumn("pbucket", col("pbucket").cast("long")))
        val fromRaw = StandingIndex.manifestOf(
          StandingIndex.postingsOf(withTok(fedSoFar.toDF())))
        assert(Canonical.hash(stored) == Canonical.hash(fromRaw),
          s"stored artifact drifted after ${fedSoFar.size} docs")
      }
      // segment count == batch count (each batch appended, none rewrote)
      assert(spark.read.parquet(s"$root/stats").count() == batches.size)
      val streamed = StandingIndex.bm25Lookup(spark, root)
        .collect().map(_.toString).toSeq
      val oneShot = StandingIndex.bm25Lookup(spark, StandingIndex.ensure(spark, dir))
        .collect().map(_.toString).toSeq
      assert(streamed == oneShot && streamed.nonEmpty,
        "lookup over stream-maintained artifact != one-shot artifact")
    } finally query.stop()
  }
}
