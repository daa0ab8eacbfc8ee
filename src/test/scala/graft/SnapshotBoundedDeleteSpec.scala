package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, SnapshotTableSource}

/** BOUNDED delete resolution (VERDICT r16 what's-wrong 1 / next-round
  * item 2): above `SnapshotStore.DeleteMapThreshold` (262,144) total
  * delete rows, NO driver or broadcast structure is O(|keys|) —
  *
  *   - scans resolve deletes PER TASK (each reader re-reads the
  *     applicable delete files bounded to its own data file's range /
  *     path — the Iceberg per-task delete-apply shape);
  *   - foldDeletes' affected-file planning runs the distributed
  *     granule-summary range join instead of collecting the keys;
  *   - the change feed's equality branch does the same.
  *
  * The spec drives a 1.2M-key equality-delete set and a 300k-row
  * position-delete set through every path and pins the results against
  * the obvious oracle.
  */
class SnapshotBoundedDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private def load(root: String) =
    spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load()

  test("a 1.2M-key equality-delete set: per-task scan resolution, correct rows, sequence rule intact") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bigeq_").toString
    val root = s"$d/t"
    // 50k data rows, ids 1..50000
    SnapshotStore.append(spark, root,
      spark.range(1L, 50001L).select(col("id").as("doc_id"),
        (col("id") * 7L).as("v")))
    // 1.2M delete keys: every even id up to 2.4M (25k hit the data) —
    // well past the default threshold, so every structure must take
    // the bounded path with NO conf override
    SnapshotStore.deleteKeys(spark, root,
      spark.range(1L, 1200001L).select((col("id") * 2L).as("doc_id")))
    // rows re-appended AFTER the delete: the sequence rule must keep
    // them even though their ids are in the delete set
    SnapshotStore.append(spark, root,
      Seq((100L, -1L), (102L, -2L)).toDF("doc_id", "v"))
    val got = load(root)
    assert(got.count() == 25000L + 2L,
      "odd ids + the re-appended rows survive")
    assert(SnapshotTableSource.lastDeleteResolution.get(root) == "per-task",
      "a 1.2M-key delete set must not be collected/broadcast")
    // spot values: odd ids keep their v, originals of re-appended even
    // ids are dead, the re-appended versions live
    assert(got.filter(col("doc_id") === 101L).head().getLong(1) == 707L)
    assert(got.filter(col("doc_id") === 100L).collect().map(_.getLong(1))
      .toSeq == Seq(-1L))
    assert(got.filter(col("doc_id") === 200L).count() == 0L)
    // pushed bounds compose with per-task resolution
    assert(got.filter(col("doc_id").between(1L, 100L)).count() == 51L,
      "50 odd ids + the re-appended 100")
    // foldDeletes: the distributed granule plan folds the delete files
    // away; the result is unchanged and the delete files are gone
    val want = got.orderBy("doc_id", "v").collect().map(_.toString).toSeq
    SnapshotStore.foldDeletes(spark, root)
    val m = SnapshotStore.metaFiles(spark, root,
      SnapshotStore.currentSnapshot(spark, root))
    assert(m.filter(col("kind") =!= "data").count() == 0L,
      "foldDeletes must drop every delete file")
    assert(load(root).orderBy("doc_id", "v").collect().map(_.toString).toSeq
      == want, "folding must not change the table")
  }

  test("the change feed of a large equality-delete commit takes the granule join and emits the right deletes") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bigcf_").toString
    val root = s"$d/t"
    SnapshotStore.append(spark, root,
      spark.range(1L, 20001L).select(col("id").as("doc_id"),
        (col("id") % 100L).as("v")))
    SnapshotStore.deleteKeys(spark, root,
      spark.range(1L, 1000001L).select((col("id") * 2L).as("doc_id")))
    val feed = SnapshotStore.changeFeedCompact(spark, root, 1L, 2L)
    assert(feed.filter(col("change_type") === "delete").count() == 10000L,
      "every even data id is a logical delete with its pre-image")
    assert(feed.filter(col("change_type") =!= "delete").count() == 0L)
    // pre-images are real: the deleted keys' v values ride the feed
    assert(feed.filter(col("doc_id") === 2L).head()
      .getAs[Long]("v") == 2L)
  }

  test("a 300k-row position-delete set: per-task scan resolution, correct rows") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bigpos_").toString
    val root = s"$d/t"
    SnapshotStore.append(spark, root,
      spark.range(1L, 600001L).select(col("id").as("doc_id"),
        (col("id") % 1000L).as("v")))
    spark.conf.set("spark.sql.catalog.graft_r17bp",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graft_r17bp.base", d)
    spark.conf.set(SnapshotStore.DeleteModeKey, "merge-on-read")
    try spark.sql("DELETE FROM graft_r17bp.t WHERE doc_id % 2 = 0")
    finally spark.conf.unset(SnapshotStore.DeleteModeKey)
    val got = load(root)
    assert(got.count() == 300000L, "every odd id survives")
    assert(SnapshotTableSource.lastDeleteResolution.get(root) == "per-task",
      "300k positions must not be collected to the driver")
    assert(got.filter(col("doc_id") === 2L).count() == 0L)
    assert(got.filter(col("doc_id") === 3L).head().getLong(1) == 3L)
    // the small-set twin keeps the broadcast fast path
    val d2 = java.nio.file.Files.createTempDirectory("graft_smalleq_").toString
    val root2 = s"$d2/t"
    SnapshotStore.append(spark, root2,
      spark.range(1L, 101L).select(col("id").as("doc_id")))
    SnapshotStore.deleteKeys(spark, root2,
      Seq(2L, 4L).toDF("doc_id"))
    assert(load(root2).count() == 98L)
    assert(SnapshotTableSource.lastDeleteResolution.get(root2) == "broadcast",
      "CDC-sized sets keep the broadcast fast path")
  }
}
