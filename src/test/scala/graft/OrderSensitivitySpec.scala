package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RumorPipeline
import graft.sources.RumorSource

/** SURVEY.md §7 risk 1 / §5 item 4: the pipeline's order-sensitive
  * semantics must be invariant to physical row order — every dedup/sort
  * carries the explicit (subject_idx, page_no, doc_pos) crawl order, so
  * shuffling partitions around cannot change a single output byte.
  */
class OrderSensitivitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def pipelineFrom(rows: org.apache.spark.sql.DataFrame): Seq[String] =
    RumorPipeline.payload(RumorPipeline.globalDedupSorted(
      RumorPipeline.perTagDedup(RumorPipeline.crawlRecords(rows))))
      .collect().map(_.toString).toSeq

  test("pipeline output invariant under physical row-order permutation") {
    val slugs = Seq("jalen_brunson", "new_york_knicks")
    val rows = RumorSource.elementRows(spark, RumorPipeline.BundledCorpus, slugs)
    val baseline = pipelineFrom(rows)
    assert(baseline.length == 8)
    // three adversarial physical layouts: heavy repartition, hash on a
    // non-order column, and a descending physical sort
    val perturbed = Seq(
      rows.repartition(17),
      rows.repartition(7, col("text")),
      rows.sortWithinPartitions(col("doc_pos").desc, col("slug").desc))
    perturbed.zipWithIndex.foreach { case (df, i) =>
      assert(pipelineFrom(df) == baseline, s"permutation $i changed the output")
    }
  }

  test("a duplicate-subject request: one-task scan and repartition(17) agree") {
    // subject 2 crawls the same tag as subject 0; the scan reads every
    // page in one task, repartition(17) scatters every page's rows
    val rows = RumorSource.elementRows(spark, RumorPipeline.BundledCorpus,
      Seq("jalen_brunson", "new_york_knicks", "jalen_brunson"))
    val oneTask = pipelineFrom(rows)
    assert(oneTask.length == 8)
    assert(pipelineFrom(rows.repartition(17)) == oneTask)
  }

  test("first-wins dedup keeps the crawl-order winner regardless of partitioning") {
    val rows = RumorSource.elementRows(spark, RumorPipeline.BundledCorpus,
      Seq("jalen_brunson", "new_york_knicks"))
    val records = RumorPipeline.perTagDedup(RumorPipeline.crawlRecords(rows))
    val winner = RumorPipeline.globalDedupSorted(records)
      .filter(col("url") === "https://www.nypost.com/brunson-trade/")
      .select(col("subject_idx")).collect()
    // the cross-tag duplicate exists under both subjects; subject 0
    // (jalen_brunson) crawled first and must win every time
    assert(winner.map(_.getInt(0)).toSeq == Seq(0))
  }
}
