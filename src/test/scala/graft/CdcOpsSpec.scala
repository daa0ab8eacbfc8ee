package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmOps, PipelineOps}

/** Hand-checkable semantics for the round-7 CDC/incremental family
  * (q137 index maintenance, q139 merge apply, q140 drift monitor) on
  * tiny synthetic corpora where every membership case is enumerable —
  * the oracle gate checks values at fixture scale; this pins the EDGE
  * semantics (absent-everywhere ids, del/add pairing, identical-
  * membership drift) a fixture can't isolate.
  *
  * CDC fixture rules (shared with q87): old snapshot omits
  * doc_id % 13 == 5, new omits % 11 == 7, % 7 == 0 docs carry
  * " rev2"-revised text in the new snapshot.
  */
class CdcOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdc").toString
    docs.map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def embCorpus(vecs: Seq[(Long, Seq[Float], Int)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cdc-emb").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // ids chosen to cover every membership case:
  //   1  -> both snapshots, unrevised        => unchanged
  //   0  -> both, % 7 == 0                   => changed (revised)
  //   14 -> both, % 7 == 0                   => changed (revised)
  //   5  -> % 13 == 5, % 11 != 7             => added
  //   7  -> % 11 == 7, % 13 != 5             => deleted
  //   18 -> % 13 == 5 AND % 11 == 7          => in NEITHER snapshot
  private val docs = Seq(
    1L -> "alpha beta gamma delta epsilon",
    0L -> "one two three four five six",
    14L -> "red orange yellow green blue indigo",
    5L -> "north south east west center edge",
    7L -> "spring summer autumn winter solstice equinox",
    18L -> "never present in either snapshot at all")

  test("q139: merge apply equals direct rebuild, case by case") {
    val dir = corpus(docs)
    val out = PipelineOps.q139SnapshotMerge(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // exactly the new snapshot's ids: no deleted id 7, no absent id 18
    assert(out.keySet == Set(0L, 1L, 5L, 14L))
    assert(out(1L)._1 == "kept")
    assert(out(0L)._1 == "updated")
    assert(out(14L)._1 == "updated")
    assert(out(5L)._1 == "inserted")
    // hashes match the direct rebuild of the new snapshot
    val direct = Engine.table(spark, dir, "documents")
      .filter(col("doc_id") % 11 =!= 7)
      .withColumn("t", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .select(col("doc_id"), expr("stable_hash64(t)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, (_, h)) => assert(h == direct(id), s"doc $id") }
  }

  test("q137: unchanged docs emit nothing; dels and adds pair per band") {
    val dir = corpus(docs)
    val rows = LlmOps.q137IndexMaintenance(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))
    val byDoc = rows.groupBy(_._1)
    // unchanged doc 1 and absent doc 18: zero index mutations
    assert(!byDoc.contains(1L) && !byDoc.contains(18L))
    // deleted doc 7: exactly 4 del rows (one per band), status deleted
    assert(byDoc(7L).length == 4 &&
      byDoc(7L).forall(r => r._3 == "del" && r._5 == "deleted"))
    assert(byDoc(7L).map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // added doc 5: exactly 4 add rows, status added
    assert(byDoc(5L).length == 4 &&
      byDoc(5L).forall(r => r._3 == "add" && r._5 == "added"))
    // changed docs: per band either no mutation (band key survived the
    // revision) or a del+add PAIR with different keys — never a lone op
    Seq(0L, 14L).foreach { id =>
      byDoc.get(id).toSeq.flatten.groupBy(_._2).foreach { case (band, ops) =>
        assert(ops.length == 2, s"doc $id band $band: ${ops.length} ops")
        assert(ops.map(_._3).sorted.toSeq == Seq("add", "del"))
        assert(ops.map(_._4).distinct.length == 2,
          s"doc $id band $band: del and add carry the same key")
        assert(ops.forall(_._5 == "changed"))
      }
    }
  }

  test("q140: identical membership drifts nowhere; changed membership drifts") {
    // label 0: ids 1, 2 — identical vectors, present in BOTH snapshots
    //   (1, 2 pass both % filters) => cos = 1, norm_ratio = 1 exactly
    // label 1: ids 3, 4 in both; id 7 (old only) matches the base
    //   direction but id 5 (new only) is orthogonal => the new centroid
    //   rotates away from the old one, cos < 1
    val base = Seq(1f, 0f, 0f, 0f)
    val ortho = Seq(0f, 1f, 0f, 0f)
    val dir = embCorpus(Seq(
      (1L, base, 0), (2L, base, 0),
      (3L, base, 1), (4L, base, 1), (5L, ortho, 1), (7L, base, 1)))
    val out = LlmOps.q140EmbeddingDrift(spark, dir)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(0, 1))
    assert(out(0) == ((2L, 2L, 1.0, 1.0)))
    val (nOld1, nNew1, cos1, ratio1) = out(1)
    assert(nOld1 == 3L && nNew1 == 3L) // 3,4,7 old; 3,4,5 new
    assert(cos1 < 1.0 && cos1 > 0.0)
    assert(ratio1 > 0.0)
  }
}
