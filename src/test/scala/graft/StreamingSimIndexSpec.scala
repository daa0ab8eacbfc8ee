package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmOps
import graft.sources.SimIndex

/** Streaming twin of the standing SIMILARITY index's serving path
  * (q165 build / q166 lookup): the crawl delta arrives in micro-batches
  * and each batch is answered as a frozen-df LOOKUP against the stored
  * artifact — the continuous-ingest shape of a near-dup service between
  * stat refreshes (the artifact is read, never touched; df and the df
  * cut stay frozen exactly as q166's scaladoc declares).
  *
  * The invariant that makes a standing index able to SERVE a stream at
  * all is per-delta-doc independence: a doc's candidates come only from
  * the STORED prefix postings, never from other delta docs, so batch
  * boundaries cannot change any answer. Asserted:
  *
  *  1. per batch — every result row pairs a standing doc_a with a
  *     doc_b of THAT batch (no cross-batch or delta-delta pairs);
  *  2. after the final batch — the union of the per-batch lookups is
  *     row-identical to the one-shot q166 over the whole delta (and
  *     q166 itself is value-checked against the filter-free DuckDB
  *     oracle, so streamed serving == no-false-negatives transitively).
  *
  * foreachBatch (not a watermarked aggregation) because each batch's
  * answer is a finished query result against frozen state — the same
  * reason as the q145/q149/q160 streaming twins.
  */
object StreamingSimIndexSpec {
  /** Top-level so the Encoder doesn't capture the suite instance. */
  case class Doc(doc_id: Long, text: String)
}

class StreamingSimIndexSpec extends AnyFunSuite {
  import StreamingSimIndexSpec.Doc

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  test("frozen-df delta stream: per-batch lookups union to the one-shot q166 result") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val root = SimIndex.ensure(spark, dir) // standing artifact, frozen
    val deltaDocs = Engine.table(spark, dir, "documents")
      .filter(pmod(expr(LlmOps.hashS("CAST(doc_id AS STRING)")),
        lit(LlmOps.DeltaSplitMod)) === 1)
      .select(col("doc_id"), col("text"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
    val batches = deltaDocs.groupBy(d => math.floorMod(d.doc_id, 3L)).toSeq
      .sortBy(_._1).map(_._2)
    assert(batches.size == 3)

    val acc = scala.collection.mutable.ArrayBuffer.empty[String]
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val ms = MemoryStream[Doc]
    val query = ms.toDF()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ids = batch.select(col("doc_id")).collect()
          .map(_.getLong(0)).toSet
        val looked = SimIndex.lookupFrom(
          batch.select(col("doc_id"),
            array_distinct(expr(LlmOps.toksS)).as("ts")), root)
          .collect()
        looked.foreach { r =>
          if (!ids.contains(r.getLong(1)))
            violations += s"doc_b ${r.getLong(1)} not in its batch"
        }
        acc ++= looked.map(_.toString)
        ()
      }
      .start()
    try {
      batches.foreach { b => ms.addData(b); query.processAllAvailable() }
    } finally query.stop()
    assert(violations.isEmpty, violations.take(3).mkString("; "))
    val oneShot = SparkEntry.queries("q166_sim_index_lookup")(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    assert(acc.toSeq.sorted == oneShot && oneShot.nonEmpty,
      s"streamed union (${acc.size} rows) != one-shot q166 (${oneShot.size} rows)")
  }
}
