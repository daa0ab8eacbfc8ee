package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, SnapshotTableSource}

/** Round-16 features over the snapshot table format:
  *   - SQL `CREATE TABLE` / CTAS as the store's first CAS commit, with
  *     `PARTITIONED BY (bucket(n, col) | identity(col))` declarations
  *     the first INSERT honors;
  *   - merge-on-read SQL DELETE (`spark.graft.snapshot.deleteMode`):
  *     a position-delete commit with zero data rewrites;
  *   - metadata-answered GROUP BY on the identity-partition column:
  *     zero data files planned.
  */
class SnapshotR16FeatureSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def load(root: String) =
    spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load()

  private def ownCatalog(name: String, base: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sources.SnapshotCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.base", base)
  }

  test("CTAS: CREATE TABLE AS SELECT is the first commit; the table then takes every ordinary route") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ctas_").toString
    ownCatalog("graft_r16ct", d)
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("doc_id", "tag", "v").createOrReplaceTempView("ctas_src_spec")
    spark.sql(
      "CREATE TABLE graft_r16ct.t AS SELECT * FROM ctas_src_spec WHERE doc_id <= 2")
    val root = s"$d/t"
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L,
      "CTAS = empty DDL commit + one data commit")
    assert(rows(spark.sql("SELECT * FROM graft_r16ct.t")) ==
      rows(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "tag", "v")))
    // the SQL-born table is a full citizen: INSERT, DELETE, time travel
    spark.sql("INSERT INTO graft_r16ct.t SELECT CAST(9 AS BIGINT), 'z', CAST(90 AS BIGINT)")
    assert(spark.sql("SELECT count(*) AS n FROM graft_r16ct.t")
      .head().getLong(0) == 3L)
    assert(spark.sql("SELECT count(*) AS n FROM graft_r16ct.t VERSION AS OF 1")
      .head().getLong(0) == 0L, "snapshot 1 is the empty DDL commit")
    // a second CREATE refuses; DROP stays refused
    assertThrows[org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException](
      spark.sql("CREATE TABLE graft_r16ct.t (doc_id BIGINT) "))
    assertThrows[UnsupportedOperationException](
      spark.sql("DROP TABLE graft_r16ct.t"))
    // plain CREATE TABLE (no AS): snapshot 1, readable empty, insertable
    spark.sql("CREATE TABLE graft_r16ct.t2 (doc_id BIGINT, tag STRING)")
    assert(spark.sql("SELECT * FROM graft_r16ct.t2").count() == 0L)
    spark.sql("INSERT INTO graft_r16ct.t2 VALUES (CAST(1 AS BIGINT), 'x')")
    assert(spark.sql("SELECT tag FROM graft_r16ct.t2").head().getString(0) == "x")
  }

  test("CREATE TABLE PARTITIONED BY declares the layout the first INSERT honors") {
    val d = java.nio.file.Files.createTempDirectory("graft_ctasb_").toString
    ownCatalog("graft_r16cb", d)
    // bucket declaration
    spark.sql(
      """CREATE TABLE graft_r16cb.bk (doc_id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(4, doc_id))""".stripMargin)
    spark.range(1L, 101L).selectExpr("id AS doc_id", "id * 2 AS v")
      .createOrReplaceTempView("ctas_bk_src")
    spark.sql("INSERT INTO graft_r16cb.bk SELECT * FROM ctas_bk_src")
    val broot = s"$d/bk"
    val cur = SnapshotStore.currentSnapshot(spark, broot)
    assert(SnapshotStore.bucketSpecOf(spark, broot, cur)
      .contains((4, "doc_id")),
      "the first INSERT must land bucket-clustered per the DDL declaration")
    assert(spark.sql("SELECT sum(v) AS s FROM graft_r16cb.bk")
      .head().getLong(0) == (1L to 100L).map(_ * 2).sum)
    // identity declaration
    spark.sql(
      """CREATE TABLE graft_r16cb.pt (doc_id BIGINT, lang STRING)
        |PARTITIONED BY (identity(lang))""".stripMargin)
    spark.range(1L, 61L)
      .selectExpr("id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'de' ELSE 'en' END AS lang")
      .createOrReplaceTempView("ctas_pt_src")
    spark.sql("INSERT INTO graft_r16cb.pt SELECT * FROM ctas_pt_src")
    val proot = s"$d/pt"
    assert(SnapshotStore.partSpecOf(spark, proot,
      SnapshotStore.currentSnapshot(spark, proot)).contains("lang"),
      "the first INSERT must land identity-partitioned per the declaration")
    // unsupported transforms refuse loudly
    assertThrows[UnsupportedOperationException](
      spark.sql(
        """CREATE TABLE graft_r16cb.bad (doc_id BIGINT, ts TIMESTAMP)
          |PARTITIONED BY (days(ts))""".stripMargin))
  }

  test("merge-on-read SQL DELETE: one position-delete commit, ZERO data files rewritten; COW stays the default") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_mor_").toString
    val root = s"$d/t"
    SnapshotStore.append(spark, root,
      (1L to 400L).map(i => (i, s"tag${i % 7}", i * 3L))
        .toDF("doc_id", "tag", "v"))
    ownCatalog("graft_r16md", d)
    val dataBefore = SnapshotStore.metaFiles(spark, root, 1L)
      .filter(col("kind") === "data")
      .select("path").collect().map(_.getString(0)).toSet
    spark.conf.set(SnapshotStore.DeleteModeKey, "merge-on-read")
    try {
      // a 1-row DELETE: zero rewritten data files, one posdelete row
      spark.sql("DELETE FROM graft_r16md.t WHERE tag = 'tag3' AND v = 51")
      assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
      val m2 = SnapshotStore.metaFiles(spark, root, 2L)
      assert(m2.filter(col("kind") === "data")
        .select("path").collect().map(_.getString(0)).toSet == dataBefore,
        "merge-on-read must carry EVERY data file by reference")
      assert(m2.filter(col("kind") === "posdelete").count() >= 1L)
      assert(spark.sql("SELECT count(*) AS n FROM graft_r16md.t")
        .head().getLong(0) == 399L)
      assert(spark.sql("SELECT count(*) AS n FROM graft_r16md.t WHERE v = 51")
        .head().getLong(0) == 0L)
      // reads agree across every route (library + SQL + time travel)
      assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) ==
        rows(spark.sql("SELECT * FROM graft_r16md.t")))
      // a broader MOR delete composes on top
      spark.sql("DELETE FROM graft_r16md.t WHERE tag = 'tag5'")
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_r16md.t WHERE tag = 'tag5'")
        .head().getLong(0) == 0L)
      assert(SnapshotStore.metaFiles(spark, root, 3L)
        .filter(col("kind") === "data")
        .select("path").collect().map(_.getString(0)).toSet == dataBefore)
      // UPDATE under the same conf still takes the COW path (rewrites)
      spark.sql("UPDATE graft_r16md.t SET v = v + 1 WHERE tag = 'tag1'")
      assert(SnapshotStore.metaFiles(spark, root, 4L)
        .filter(col("kind") === "data")
        .select("path").collect().map(_.getString(0)).toSet != dataBefore,
        "UPDATE must stay copy-on-write")
    } finally spark.conf.unset(SnapshotStore.DeleteModeKey)
    // default mode: the same DELETE shape rewrites (COW) — no delete file
    val d2 = java.nio.file.Files.createTempDirectory("graft_cow_").toString
    val root2 = s"$d2/t"
    SnapshotStore.append(spark, root2,
      (1L to 50L).map(i => (i, s"tag${i % 7}")).toDF("doc_id", "tag"))
    ownCatalog("graft_r16cw", d2)
    spark.sql("DELETE FROM graft_r16cw.t WHERE tag = 'tag3'")
    assert(SnapshotStore.metaFiles(spark, root2, 2L)
      .filter(col("kind") === "posdelete").count() == 0L,
      "the default DELETE mode stays copy-on-write")
  }

  test("GROUP BY the identity-partition column answers from manifest metadata: zero data files planned") {
    val dir = "/root/testdata/sf0.001"
    val root = SnapshotStore.ensurePartitioned(spark, dir)
    val docs = Engine.table(spark, dir, "documents")
    load(root).createOrReplaceTempView("snap_metagb_spec")
    val got = spark.sql(
      """SELECT lang, count(*) AS n, min(doc_id) AS lo, max(doc_id) AS hi
        |FROM snap_metagb_spec GROUP BY lang ORDER BY lang""".stripMargin)
    val expect = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      .orderBy(col("lang"))
    assert(rows(got) == rows(expect),
      "grouped metadata aggregates must be exact")
    assert(SnapshotTableSource.lastAggPushed.get(root),
      "the grouped aggregation must be answered from the manifest")
    assert(SnapshotTableSource.lastPlannedFiles.get(root) == 0,
      "a metadata-answered GROUP BY must plan zero data files")
    // declines: a non-partition group-by column reads data (and stays
    // correct); a live delete file declines too
    val bySource = spark.sql(
      """SELECT n_chars, count(*) AS n FROM snap_metagb_spec
        |GROUP BY n_chars ORDER BY n_chars LIMIT 5""".stripMargin)
    bySource.collect()
    assert(!SnapshotTableSource.lastAggPushed.get(root),
      "a non-partition GROUP BY column must decline the metadata path")
  }

  test("the q247 build runs its merge-on-read DELETE without touching the caller's delete mode") {
    val dir = "/root/testdata/sf0.001"
    // a fresh session and an absent store: the build really runs
    val ss = spark.newSession()
    val root = new org.apache.hadoop.fs.Path(SnapshotStore.morSqlRoot(dir))
    root.getFileSystem(ss.sparkContext.hadoopConfiguration).delete(root, true)
    ss.conf.set(SnapshotStore.DeleteModeKey, "merge-on-read")
    assert(SparkEntry.queries("q247_snapshot_mor_delete")(ss, dir).count() > 0L)
    assert(SnapshotStore.currentSnapshot(ss, root.toString) == 2L,
      "the build's DELETE landed as its second commit")
    assert(ss.conf.getOption(SnapshotStore.DeleteModeKey).contains("merge-on-read"),
      "a build must leave the session's own delete mode as it found it")
  }
}
