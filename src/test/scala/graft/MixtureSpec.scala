package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmOps, PipelineOps}

/** q214/q215 — deterministic corpus mixture: the keep/replicate
  * decisions are pure functions of content, so the mixture is
  * reproducible across runs and partitionings (the property `rand()`
  * sampling lacks and a rebuildable training mix requires).
  */
class MixtureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("the mixture is a pure function of content: identical across runs and partitionings") {
    val a = rows(PipelineOps.q214CorpusMixture(spark, dir))
    val b = rows(PipelineOps.q214CorpusMixture(spark, dir))
    assert(a == b && a.nonEmpty)
    // row-level: the kept set itself (not just counts) is stable under
    // an adversarial repartition of the input
    def keptIds(parts: Int): Seq[Long] =
      Engine.table(spark, dir, "documents").repartition(parts)
        .withColumn("rate_bp",
          expr(s"2500 + pmod(${LlmOps.hashS("concat('rate:', source)")}, 5001)"))
        .filter(expr(s"pmod(${LlmOps.hashS("concat('mix:', CAST(doc_id AS STRING))")}, 10000)")
          < col("rate_bp"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptIds(1) == keptIds(17) && keptIds(1).nonEmpty)
  }

  test("sampling audit is honest: rates bounded, kept <= total, some source differs from another") {
    val m = PipelineOps.q214CorpusMixture(spark, dir).collect()
    assert(m.forall { r =>
      val (rate, total, kept) = (r.getAs[Long]("rate_bp"),
        r.getAs[Long]("n_total"), r.getAs[Long]("n_kept"))
      rate >= 2500 && rate <= 7500 && kept <= total
    })
    // the per-source rates actually vary (the mixture is a mixture)
    assert(m.map(_.getAs[Long]("rate_bp")).distinct.length > 1)
  }

  test("upsampling emits whole copies plus a deterministic fractional share, replicas distinct") {
    val u = PipelineOps.q215CorpusUpsample(spark, dir).collect()
    assert(u.nonEmpty && u.forall { r =>
      val (docs, emitted) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_emitted"))
      emitted >= docs && emitted <= 2 * docs // rates in (1, 2)x
    })
    // replica indices make emitted rows distinct — downstream packing
    // sees rows, not weights
    val emitted = Engine.table(spark, dir, "documents")
      .withColumn("frac_bp",
        expr(s"2500 + pmod(${LlmOps.hashS("concat('rate:', source)")}, 5001)"))
      .withColumn("extra",
        (expr(s"pmod(${LlmOps.hashS("concat('rep:', CAST(doc_id AS STRING))")}, 10000)")
          < col("frac_bp")).cast("int"))
      .withColumn("replica", explode(expr("sequence(0, extra)")))
      .select("doc_id", "replica")
    assert(emitted.count() == emitted.distinct().count())
  }
}
