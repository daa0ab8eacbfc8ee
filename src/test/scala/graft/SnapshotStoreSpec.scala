package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, SnapshotTableSource}

/** q203–q205 — the snapshot-manifest store: manifest-last commits
  * (torn writes invisible), time travel by manifest, file-level diff,
  * and O(1) snapshot-id freshness for derived artifacts.
  */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"

  private def docs = Engine.table(spark, dir, "documents")
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A private scratch corpus (copy of the fixture) so commit-count
    * mutations never disturb the shared 2-commit store the queries use.
    */
  private def scratchCorpus(): String = {
    val d = Files.createTempDirectory("graft_snap_").toString
    Files.copy(Paths.get(s"$dir/documents.parquet"),
      Paths.get(s"$d/documents.parquet"))
    d
  }

  test("time travel: snapshot 1 is the initial load, snapshot 2 the whole table") {
    val root = SnapshotStore.ensure(spark, dir)
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 1L)) ==
      rows(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)))
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == rows(docs))
  }

  test("diff 1→2 is exactly the appended rows, resolved at file level") {
    val root = SnapshotStore.ensure(spark, dir)
    assert(rows(SnapshotStore.readDiff(spark, root, 1L, 2L)) ==
      rows(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
    // and the manifest itself shows no snapshot-1 file in the diff
    assert(SnapshotStore.manifest(spark, root, 2L)
      .filter(col("commit_id") <= 1).count() ==
      SnapshotStore.manifest(spark, root, 1L).count())
  }

  test("torn commit: data files without a manifest are invisible to every reader") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val before = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    // simulate the crash window: commit 3's data lands, manifest never written
    docs.limit(7).write.mode("overwrite").parquet(s"$root/data/c3")
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
    assert(rows(SnapshotStore.readSnapshot(spark, root,
      SnapshotStore.currentSnapshot(spark, root))) == before)
    // the retry path: a real commit 3 overwrites the orphans and commits
    val k = SnapshotStore.append(spark, root, docs.limit(5))
    assert(k == 3L && SnapshotStore.currentSnapshot(spark, root) == 3L)
    assert(SnapshotStore.readSnapshot(spark, root, 3L).count() ==
      docs.count() + 5)
    // snapshot 2 is untouched by the later commit — manifests are immutable
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == before)
  }

  test("O(1) freshness: the derived aggregate reuses on an unchanged snapshot, rebuilds on commit") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val aggPath = SnapshotStore.ensureSnapshotAgg(spark, root, d)
    val mtime = Files.getLastModifiedTime(
      Paths.get(aggPath.stripPrefix("file:"))).toMillis
    val first = rows(spark.read.parquet(aggPath))
    // "next session" replay (the ArtifactReuseSpec pattern): the same
    // snapshot id validates by the manifests listing alone, artifact
    // untouched (mtime witness)
    Thread.sleep(20)
    SnapshotStore.ensureSnapshotAggValidated(spark, root, d)
    assert(Files.getLastModifiedTime(
      Paths.get(aggPath.stripPrefix("file:"))).toMillis == mtime,
      "unchanged snapshot must reuse the stored aggregate")
    // a new commit moves the snapshot id → the next ensure rebuilds
    // and the rebuilt aggregate includes the appended rows
    val extra = docs.filter(col("lang") === "en").limit(3)
    val extraN = extra.count()
    val enBefore = docs.filter(col("lang") === "en").count()
    SnapshotStore.append(spark, root, extra)
    SnapshotStore.ensureSnapshotAggValidated(spark, root, d)
    val rebuilt = spark.read.parquet(aggPath)
    assert(rows(rebuilt) != first, "a new commit must invalidate the artifact")
    assert(rebuilt.filter(col("lang") === "en").head().getAs[Long]("n_docs") ==
      enBefore + extraN)
  }

  test("manifest stats prune files: the range read skips files and matches the raw rows") {
    val root = SnapshotStore.ensure(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    val total = SnapshotStore.manifest(spark, root, cur).count()
    val pruned = SnapshotStore.prunedPaths(spark, root, cur, 100L, 250L)
    assert(pruned.nonEmpty && pruned.size < total,
      s"range [100,250] must skip files: touched ${pruned.size} of $total")
    assert(rows(SnapshotStore.readRange(spark, root, cur, 100L, 250L)) ==
      rows(docs.filter(col("doc_id").between(100, 250))))
    // a range beyond every file's stats touches nothing and reads empty
    assert(SnapshotStore.prunedPaths(spark, root, cur,
      Long.MaxValue - 1, Long.MaxValue).isEmpty)
    assert(SnapshotStore.readRange(spark, root, cur,
      Long.MaxValue - 1, Long.MaxValue).count() == 0)
  }

  test("streaming twin: every micro-batch is an atomic commit; time travel keeps each prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snapstream_").toString + "/tbl"
    val all = docs.select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = all.groupBy(t => math.floorMod(t._1, 3L)).toSeq
      .sortBy(_._1).map(_._2.toSeq)
    val ms = MemoryStream[(Long, String, Long)]
    val query = ms.toDF().toDF("doc_id", "lang", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        SnapshotStore.append(spark, root, batch); ()
      }
      .start()
    try {
      var fed = Seq.empty[(Long, String, Long)]
      batches.zipWithIndex.foreach { case (b, i) =>
        ms.addData(b)
        query.processAllAvailable()
        fed = fed ++ b
        assert(SnapshotStore.currentSnapshot(spark, root) == i + 1L,
          "each micro-batch must land as exactly one commit")
        assert(rows(SnapshotStore.readSnapshot(spark, root, i + 1L)) ==
          rows(fed.toDF("doc_id", "lang", "n_chars")),
          s"snapshot ${i + 1} != all rows fed so far")
      }
      // every prefix is still addressable — the streaming sink kept
      // the table's whole history, not just its head
      assert(SnapshotStore.readSnapshot(spark, root, 1L).count() ==
        batches.head.size)
    } finally query.stop()
  }

  test("lifecycle: COW delete rewrites only affected files; compact and expire are row-invariant") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    val preDelete = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    val m2 = SnapshotStore.manifest(spark, root, 2L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    // --- COW delete [100, 250] as commit 3 ---
    assert(SnapshotStore.deleteRange(spark, root, 100L, 250L) == 3L)
    val m3 = SnapshotStore.manifest(spark, root, 3L).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // untouched files carried over VERBATIM (same path, old commit_id)
    val untouched = m2.filter { case (_, (mn, mx)) => mx < 100L || mn > 250L }
    assert(untouched.nonEmpty, "the delete window must miss some files")
    untouched.keys.foreach(p => assert(m3.contains(p) && m3(p) <= 2L,
      s"untouched file $p must carry over with its old commit_id"))
    // affected files are GONE from the new manifest, replaced by c3 rewrites
    m2.keys.filterNot(untouched.contains).foreach(p =>
      assert(!m3.contains(p), s"affected file $p must be rewritten"))
    assert(m3.values.exists(_ == 3L), "the rewrite files must join the manifest")
    // rows: snapshot 3 == raw minus the window; snapshot 2 UNCHANGED
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)) ==
      rows(sdocs.filter(!col("doc_id").between(100, 250))))
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == preDelete,
      "time travel must still see the pre-delete table")
    // --- compaction as commit 4: row-identical, fewer files ---
    val filesBefore = SnapshotStore.manifest(spark, root, 3L).count()
    assert(SnapshotStore.compact(spark, root) == 4L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 4L)) ==
      rows(SnapshotStore.readSnapshot(spark, root, 3L)))
    assert(SnapshotStore.manifest(spark, root, 4L).count() < filesBefore,
      "compaction must reduce the live file count")
    // --- expiration: history < 3 gone, 3..4 byte-identical, orphans deleted ---
    val keep3 = rows(SnapshotStore.readSnapshot(spark, root, 3L))
    val droppedOnly = SnapshotStore.manifest(spark, root, 2L)
      .select("path").collect().map(_.getString(0)).toSet
      .diff(SnapshotStore.manifest(spark, root, 3L)
        .select("path").collect().map(_.getString(0)).toSet)
      .diff(SnapshotStore.manifest(spark, root, 4L)
        .select("path").collect().map(_.getString(0)).toSet)
    assert(droppedOnly.nonEmpty)
    SnapshotStore.expire(spark, root, keepFrom = 3L)
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L)
    intercept[Exception](SnapshotStore.readSnapshot(spark, root, 2L).count())
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)) == keep3,
      "retained snapshots must be byte-identical across expiration")
    droppedOnly.foreach(p => assert(!Files.exists(
      Paths.get(p.stripPrefix("file:"))),
      s"file $p referenced only by dropped manifests must be deleted"))
    // the current snapshot is never expirable
    intercept[IllegalArgumentException](
      SnapshotStore.expire(spark, root, keepFrom = 99L))
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L)
  }

  test("q209/q210 read the lifecycle end state and agree with the raw complement") {
    val expect = docs.filter(!col("doc_id").between(
      SnapshotStore.DeleteLo, SnapshotStore.DeleteHi))
    assert(rows(SnapshotStore.q209SnapshotDelete(spark, dir)) ==
      rows(expect.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
    assert(rows(SnapshotStore.q210SnapshotLifecycle(spark, dir)) ==
      rows(expect.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
    // the standing lifecycle store really expired its history
    val root = SnapshotStore.lcRoot(dir)
    intercept[Exception](SnapshotStore.readSnapshot(spark, root, 1L).count())
  }

  test("mergeInto: updates replace in place, inserts land once, untouched keys survive") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    // update a NARROW key window (so stats leave most files untouched)
    // and insert two far-away keys
    val changes = sdocs.filter(col("doc_id").between(10, 20))
      .withColumn("n_chars", col("n_chars") * 2)
      .unionByName(sdocs.filter(col("doc_id").isin(3, 7))
        .withColumn("doc_id", col("doc_id") + 5000000L))
    val m2paths = SnapshotStore.manifest(spark, root, 2L)
      .select("path").collect().map(_.getString(0)).toSet
    val k = SnapshotStore.mergeInto(spark, root, changes)
    assert(k == 3L)
    // some files carried over verbatim (narrow update + stats pruning)
    val m3paths = SnapshotStore.manifest(spark, root, 3L)
      .select("path").collect().map(_.getString(0)).toSet
    assert(m2paths.intersect(m3paths).nonEmpty,
      "a narrow merge must leave stats-disjoint files untouched")
    // row-level truth: replaced, inserted, everything else intact
    val expected = sdocs.withColumn("n_chars",
      when(col("doc_id").between(10, 20), col("n_chars") * 2)
        .otherwise(col("n_chars")))
      .unionByName(sdocs.filter(col("doc_id").isin(3, 7))
        .withColumn("doc_id", col("doc_id") + 5000000L))
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)) == rows(expected))
    // pre-merge history intact
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == rows(sdocs))
  }

  test("schema evolution: the merged read surfaces the new column as NULL on old files") {
    val root = SnapshotStore.ensureEvolved(spark, dir)
    val cur = SnapshotStore.readSnapshot(spark, root,
      SnapshotStore.currentSnapshot(spark, root))
    assert(cur.columns.toSet == Set("doc_id", "lang", "n_chars", "quality"))
    // pre-evolution rows: NULL quality; post-evolution: n_chars % 100
    val bad = cur.filter(
      (pmod(col("doc_id"), lit(3)) =!= 0 && col("quality").isNotNull) ||
      (pmod(col("doc_id"), lit(3)) === 0 &&
        (col("quality").isNull ||
          col("quality") =!= pmod(col("n_chars"), lit(100)))))
    assert(bad.count() == 0, "evolution boundary must match the commit split")
    // time travel to the PRE-evolution snapshot: the old schema, unpolluted
    assert(!SnapshotStore.readSnapshot(spark, root, 1L)
      .columns.contains("quality"),
      "snapshot 1 predates the evolution and must not carry the column")
  }

  test("q211/q212 agree with their closed-form expectations") {
    val got211 = rows(SnapshotStore.q211SnapshotMerge(spark, dir))
    val exp211 = rows(docs.withColumn("n_chars",
      when(pmod(col("doc_id"), lit(7)) === 0, col("n_chars") + 1000)
        .otherwise(col("n_chars")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(11)) === 0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")))
    assert(got211 == exp211 && got211.nonEmpty)
    val got212 = rows(SnapshotStore.q212SnapshotEvolution(spark, dir))
    val exp212 = rows(docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pmod(col("doc_id"), lit(3)) === 0,
          pmod(col("n_chars"), lit(100))).otherwise(lit(-1L)))
          .as("sum_quality")))
    assert(got212 == exp212 && got212.nonEmpty)
  }

  test("snapshot MV: a commit retires both the stored view and its registration") {
    import graft.plans.MvRewrite
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.ensureSnapshotMvValidated(spark, root, d)
    val prevE = spark.conf.getOption(MvRewrite.EnabledKey)
    spark.conf.set(MvRewrite.EnabledKey, "true")
    try {
      def agg() = SnapshotStore.readSnapshot(spark, root,
        SnapshotStore.currentSnapshot(spark, root))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      def scansOf(df: org.apache.spark.sql.DataFrame) =
        MvRewrite.scanLocations(df.queryExecution.optimizedPlan)
      // fresh: the snapshot aggregate reads the view, not data files
      assert(scansOf(agg()).exists(_.contains("snapmv")) &&
        !scansOf(agg()).exists(_.contains("/data/c")))
      val before = agg().collect().map(_.toString).sorted.toSeq
      // a commit moves the snapshot: the NEW file list is an
      // unregistered key, so the aggregate falls back to the raw scan
      // (a stale view can never answer the fresh table), with the
      // appended rows visible immediately
      SnapshotStore.append(spark, root, docs.limit(5))
      assert(scansOf(agg()).exists(_.contains("/data/c")),
        "post-commit aggregate must NOT read the stale view")
      assert(agg().collect().map(_.getAs[Long]("n")).sum ==
        before.map(_.split(",")(1).stripSuffix("]").toLong).sum + 5)
      // re-validate: rebuilds for the new snapshot id and re-registers
      SnapshotStore.ensureSnapshotMvValidated(spark, root, d)
      assert(scansOf(agg()).exists(_.contains("snapmv")),
        "the refreshed view must answer the new snapshot")
      assert(agg().collect().map(_.getAs[Long]("n")).sum ==
        before.map(_.split(",")(1).stripSuffix("]").toLong).sum + 5)
    } finally prevE.fold(spark.conf.unset(MvRewrite.EnabledKey))(
      spark.conf.set(MvRewrite.EnabledKey, _))
  }

  test("claim CAS: two interleaved writers both commit, zero lost rows") {
    val d = scratchCorpus()
    val root = Files.createTempDirectory("graft_snapcas_").toString + "/tbl"
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    val halves = Seq(
      sdocs.filter(pmod(col("doc_id"), lit(2)) === 0),
      sdocs.filter(pmod(col("doc_id"), lit(2)) =!= 0))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = halves.map(h => new Thread(() =>
      try SnapshotStore.append(spark, root, h)
      catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${Option(errs.peek())}")
    // strict serialization: exactly two commits, whoever won
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
    // the pre-CAS failure mode was a silently clobbered manifest — the
    // union must hold EVERY row of both halves exactly once
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == rows(sdocs))
    // and snapshot 1 is exactly ONE of the halves (a real prefix, not a mix)
    val s1 = rows(SnapshotStore.readSnapshot(spark, root, 1L))
    assert(halves.map(rows).contains(s1))
  }

  test("claim CAS: a CONFLICTING pair (append vs COW delete) serializes — both effects land whoever wins") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    val extra = sdocs.limit(40)
      .withColumn("doc_id", col("doc_id") + 4000000L)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // an append and a REWRITE mutation race: the loser must RECOMPUTE
    // against the winner's snapshot (a rebased manifest union would be
    // wrong for the delete), which commitRetry does by re-running the
    // whole body against the new current state
    val threads = Seq(
      new Thread(() => try SnapshotStore.append(spark, root, extra)
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try SnapshotStore.deleteRange(spark, root, 100L, 250L)
        catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"conflicting writers failed: ${Option(errs.peek())}")
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L,
      "both mutations must land as commits 3 and 4")
    // the end state is ORDER-INDEPENDENT here: the deleted window and
    // the appended keys are disjoint, so both serializations agree —
    // every appended row present, every windowed row gone
    val end = SnapshotStore.readSnapshot(spark, root, 4L)
    assert(end.filter(col("doc_id") >= 4000000L).count() == 40L,
      "the append must survive the concurrent delete")
    assert(end.filter(col("doc_id").between(100L, 250L)).count() == 0L,
      "the delete must survive the concurrent append")
    assert(rows(end) == rows(sdocs.filter(!col("doc_id").between(100L, 250L))
      .unionByName(extra)))
  }

  test("compaction breaks the append-only fold precondition exactly like a delete") {
    val d = scratchCorpus()
    val storeRoot = SnapshotStore.ensure(spark, d)
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "recompute")
    SnapshotStore.compact(spark, storeRoot) // commit 3: every file replaced
    assert(!SnapshotStore.appendOnlySince(spark, storeRoot, 2L, 3L))
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "recompute",
      "a compaction commit must force the recompute path")
  }

  test("torn claim: a dead claimant blocks the id LOUDLY; breakClaim releases it") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    // simulate a claimant that died between claim and manifest
    Files.createFile(Paths.get(s"${root.stripPrefix("file:")}/manifests/claim3"))
    val prevWait = spark.conf.getOption(SnapshotStore.ClaimWaitKey)
    spark.conf.set(SnapshotStore.ClaimWaitKey, "300")
    try {
      val e = intercept[IllegalStateException](
        SnapshotStore.append(spark, root, docs.limit(3)))
      assert(e.getMessage.contains("breakClaim"),
        "the torn-claim failure must name the recovery procedure")
      // the table is UNDAMAGED: current still 2, rows intact
      assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
      // recovery: break the dead claim, then the append lands as 3
      SnapshotStore.breakClaim(spark, root, 3L)
      assert(SnapshotStore.append(spark, root, docs.limit(3)) == 3L)
      assert(SnapshotStore.readSnapshot(spark, root, 3L).count() ==
        docs.count() + 3)
      // a COMMITTED snapshot is never breakable
      intercept[IllegalArgumentException](
        SnapshotStore.breakClaim(spark, root, 3L))
    } finally prevWait.fold(spark.conf.unset(SnapshotStore.ClaimWaitKey))(
      spark.conf.set(SnapshotStore.ClaimWaitKey, _))
  }

  test("whole-table delete commits an EMPTY snapshot that reads as zero rows of the stored schema") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val schema = SnapshotStore.readSnapshot(spark, root, 2L).schema
    val k = SnapshotStore.deleteRange(spark, root, 0L, Long.MaxValue)
    assert(k == 3L)
    val empty = SnapshotStore.readSnapshot(spark, root, 3L)
    assert(empty.count() == 0L, "the all-deleted snapshot must read as zero rows")
    assert(empty.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
      "the empty snapshot must keep the stored table schema")
    assert(SnapshotStore.readDiff(spark, root, 3L, 3L).count() == 0L)
    // the table REVIVES: a later append is an ordinary commit
    assert(SnapshotStore.append(spark, root, docs.limit(4)) == 4L)
    assert(SnapshotStore.readSnapshot(spark, root, 4L).count() == 4L)
    // and time travel still reads the pre-delete table
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == rows(docs))
  }

  test("incremental manifests: an append writes O(|commit|) manifest rows and reuses prior manifest files by reference") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d) // 2 commits
    val local = Paths.get(s"${root.stripPrefix("file:")}/manifests")
    def fDirs: Map[String, Long] = {
      val st = Files.list(local).iterator()
      var m = Map.empty[String, Long]
      while (st.hasNext) {
        val p = st.next()
        if (p.getFileName.toString.startsWith("f"))
          m += (p.toString -> Files.getLastModifiedTime(p).toMillis)
      }
      m
    }
    val before = fDirs
    assert(before.size == 2, "the 2-commit seed must hold one manifest file per commit")
    Thread.sleep(20)
    SnapshotStore.append(spark, root,
      docs.limit(40).withColumn("doc_id", col("doc_id") + 10000000L))
    val after = fDirs
    val fresh = (after.keySet -- before.keySet).toSeq
    assert(fresh.size == 1, "an append must write exactly ONE new manifest file")
    // the new manifest file's row count is the COMMIT's file count —
    // not the table's (the O(#live files) rewrite this shape removes)
    val newRows = spark.read.parquet(fresh.head).count()
    val liveFiles = SnapshotStore.manifest(spark, root, 3L).count()
    assert(newRows <= SnapshotStore.CommitFiles && newRows < liveFiles,
      s"append wrote $newRows manifest rows for a $liveFiles-file table")
    // prior manifest files are byte-untouched (reuse by reference)
    assert(before.forall { case (p, t) => after(p) == t },
      "an append must never rewrite a prior manifest file")
    assert(SnapshotStore.listOf(spark, root, 3L).size == 3)
    // a NARROW rewrite touches only the manifest files that reference
    // an affected data file — the high-id commit's carries by reference
    val list3 = SnapshotStore.listOf(spark, root, 3L)
    SnapshotStore.deleteRange(spark, root, 0L, 5L)
    val list4 = SnapshotStore.listOf(spark, root, 4L).map(_.stripPrefix("file:"))
    assert(list4.contains(fresh.head),
      "a delete below the new commit's id range must carry its manifest file verbatim")
    assert(list4.toSet != list3.map(_.stripPrefix("file:")).toSet)
    // restore is PURE list reuse: zero manifest rows written
    val preF = fDirs.keySet
    assert(SnapshotStore.restore(spark, root, 3L) == 5L)
    assert(fDirs.keySet == preF, "restore must write no manifest file")
    assert(SnapshotStore.listOf(spark, root, 5L).sorted == list3.sorted)
  }

  test("merge-on-read delete: zero data files rewritten; sequence rule; COW rewrite doesn't resurrect; compact folds") {
    import spark.implicits._
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val victim = docs.agg(min(col("doc_id"))).head().getLong(0)
    val dataBefore = rows(SnapshotStore.manifest(spark, root, 2L).select("path"))
    SnapshotStore.deleteKeys(spark, root, Seq(victim).toDF("doc_id")) // commit 3
    // ZERO rewritten data files: every data row of manifest 2 carries
    val m3 = SnapshotStore.manifest(spark, root, 3L)
    assert(rows(m3.filter(col("kind").isNull || col("kind") === "data")
      .select("path")) == dataBefore,
      "a 1-row MOR delete must not rewrite any data file")
    // the read applies the delete; everything else is intact (== COW result)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)) ==
      rows(docs.filter(col("doc_id") =!= victim)))
    assert(SnapshotStore.readRange(spark, root, 3L, victim, victim).count() == 0)
    // the feed reports the LOGICAL delete with its pre-image
    val feed = SnapshotStore.changeFeed(spark, root, 2L, 3L).collect()
    assert(feed.length == 1 && feed.head.getAs[String]("change_type") == "delete" &&
      feed.head.getAs[Long]("o_id") == victim)
    // a delete-file commit breaks the MV fold precondition
    assert(!SnapshotStore.appendOnlySince(spark, root, 2L, 3L))
    // SEQUENCE RULE: a later re-insert of the key SURVIVES the older delete
    val reborn = docs.filter(col("doc_id") === victim)
      .withColumn("n_chars", col("n_chars") + 7)
    SnapshotStore.append(spark, root, reborn) // commit 4
    val back = SnapshotStore.readSnapshot(spark, root, 4L)
      .filter(col("doc_id") === victim).collect()
    assert(back.length == 1 && rows(SnapshotStore.readSnapshot(spark, root, 4L)
      .filter(col("doc_id") === victim)) == rows(reborn))
    // a COW rewrite over the key's ORIGINAL file must not resurrect
    // the MOR-dead copy: rewritten rows get this commit's id, where
    // the old delete no longer applies — so they must be read THROUGH
    // the delete first (commit 5 rewrites victim's original file)
    SnapshotStore.deleteRange(spark, root, victim + 1L, victim + 2L)
    val after = SnapshotStore.readSnapshot(spark, root, 5L)
      .filter(col("doc_id") === victim)
    assert(rows(after) == rows(reborn),
      "a COW rewrite must not resurrect MOR-deleted rows")
    // compact folds every delete file into data and drops it
    SnapshotStore.compact(spark, root) // commit 6
    val m6 = SnapshotStore.manifest(spark, root, 6L)
    assert(!m6.columns.contains("kind") ||
      m6.filter(col("kind") === "delete").count() == 0,
      "compact must fold delete files away")
    assert(rows(SnapshotStore.readSnapshot(spark, root, 6L)) ==
      rows(SnapshotStore.readSnapshot(spark, root, 5L)))
    // time travel still reads the PRE-delete table
    assert(SnapshotStore.readSnapshot(spark, root, 2L)
      .filter(col("doc_id") === victim).count() == 1)
  }

  test("field-id rename: metadata-only; old files read under the new name; a re-added old name never leaks old data") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snapren_").toString + "/tbl"
    SnapshotStore.append(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "tag", "n_chars"))
    // RENAME n_chars -> size (commit 2): pure metadata, file list reused
    assert(SnapshotStore.renameColumn(spark, root, "n_chars", "size") == 2L)
    assert(rows(SnapshotStore.manifest(spark, root, 2L).select("path")) ==
      rows(SnapshotStore.manifest(spark, root, 1L).select("path")),
      "a rename must not touch a data file")
    val snap2 = SnapshotStore.readSnapshot(spark, root, 2L)
    assert(snap2.columns.toSeq == Seq("doc_id", "tag", "size"))
    assert(snap2.filter(col("doc_id") === 1L).head().getAs[Long]("size") == 10L,
      "old files' data must surface under the NEW name (same field id)")
    // post-rename writers use the new name (commit 3)
    SnapshotStore.append(spark, root,
      Seq((3L, "c", 30L)).toDF("doc_id", "tag", "size"))
    val snap3 = SnapshotStore.readSnapshot(spark, root, 3L)
    assert(snap3.agg(sum(col("size"))).head().getLong(0) == 60L)
    // TIME TRAVEL reads the era's own names
    assert(SnapshotStore.readSnapshot(spark, root, 1L)
      .columns.contains("n_chars"))
    // a RE-ADDED old name is a FRESH field id: old files' physical
    // n_chars maps to `size`, never into the new column (commit 4)
    SnapshotStore.append(spark, root,
      Seq((4L, "d", 40L, 99L)).toDF("doc_id", "tag", "size", "n_chars"))
    val snap4 = SnapshotStore.readSnapshot(spark, root, 4L)
    val r1 = snap4.filter(col("doc_id") === 1L).head()
    assert(r1.getAs[Long]("size") == 10L && r1.isNullAt(r1.fieldIndex("n_chars")),
      "a re-added old name must read NULL on pre-rename files")
    assert(snap4.filter(col("doc_id") === 4L).head().getAs[Long]("n_chars") == 99L)
    // stats-pruned reads and MOR deletes compose across the boundary
    assert(SnapshotStore.readRange(spark, root, 4L, 1L, 2L).count() == 2L)
    SnapshotStore.deleteKeys(spark, root, Seq(2L).toDF("doc_id"))
    val snap5 = SnapshotStore.readSnapshot(spark, root, 5L)
    assert(snap5.count() == 3L &&
      snap5.filter(col("doc_id") === 1L).head().getAs[Long]("size") == 10L)
    // guardrails
    intercept[IllegalArgumentException](
      SnapshotStore.renameColumn(spark, root, "doc_id", "id"))
    intercept[IllegalArgumentException](
      SnapshotStore.renameColumn(spark, root, "tag", "size"))
  }

  test("compactZ preserves (or improves) the 2-D pruned fraction; plain compact delegates on a Z store") {
    val root = Files.createTempDirectory("graft_zc_").toString + "/ztbl"
    SnapshotStore.appendZ(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    SnapshotStore.appendZ(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    // a NARROW conjunction (a tenth of each dimension), so the pruned
    // fraction is meaningful at fixture scale and file counts
    val dom = docs.agg(min(col("doc_id")), max(col("doc_id")),
      min(col("n_chars")), max(col("n_chars"))).head()
    val (i0, i1, c0, c1) = (dom.getLong(0), dom.getLong(1),
      dom.getLong(2), dom.getLong(3))
    val (zIdLo, zIdHi) = (i0 + (i1 - i0) / 3, i0 + (i1 - i0) / 3 + (i1 - i0) / 10)
    val (zChLo, zChHi) = (c0 + (c1 - c0) / 3, c0 + (c1 - c0) / 3 + (c1 - c0) / 10)
    def frac(k: Long): (Double, Long) = {
      val m = SnapshotStore.manifest(spark, root, k)
      val hit = m.filter(col("max_id") >= zIdLo && col("min_id") <= zIdHi &&
        col("max_chars") >= zChLo && col("min_chars") <= zChHi).count()
      (hit.toDouble / m.count(), m.count())
    }
    val (fBefore, nBefore) = frac(2L)
    val expect = rows(SnapshotStore.readRange2D(spark, root, 2L,
      zIdLo, zIdHi, zChLo, zChHi))
    // plain compact must DELEGATE, not flatten the layout to 1-D
    assert(SnapshotStore.compact(spark, root) == 3L)
    val m3 = SnapshotStore.manifest(spark, root, 3L)
    assert(m3.columns.contains("min_chars"),
      "compacting a Z store must re-record BOTH dimensions' stats")
    val (fAfter, nAfter) = frac(3L)
    assert(nAfter < nBefore, "compaction must merge small files")
    assert(fAfter <= fBefore + 1e-9,
      s"2-D pruned fraction must be preserved or improved: $fBefore -> $fAfter")
    assert(fAfter < 1.0, "the conjunction must still skip files after compaction")
    assert(rows(SnapshotStore.readRange2D(spark, root, 3L,
      zIdLo, zIdHi, zChLo, zChHi)) == expect)
  }

  test("restore: rollback is byte-identical to snapshot k; history stays addressable; the feed is the inverse mutation") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val before = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    val bad = docs.filter(col("doc_id").between(10, 40))
      .withColumn("n_chars", col("n_chars") + 5)
      .unionByName(docs.filter(col("doc_id").isin(3, 6))
        .withColumn("doc_id", col("doc_id") + 5000000L))
    SnapshotStore.mergeInto(spark, root, bad) // commit 3: the damage
    val feedBad = SnapshotStore.changeFeed(spark, root, 2L, 3L).collect()
    assert(SnapshotStore.restore(spark, root, 2L) == 4L)
    // byte-identity with the restored snapshot; pure metadata (the
    // restore commit writes NO data files — manifest 4 == manifest 2)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 4L)) == before)
    assert(rows(SnapshotStore.manifest(spark, root, 4L)) ==
      rows(SnapshotStore.manifest(spark, root, 2L)))
    // the bad commit REMAINS addressable history
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)) != before)
    // the feed across the restore is the INVERSE of the bad mutation
    val feedBack = SnapshotStore.changeFeed(spark, root, 3L, 4L).collect()
    def key(r: org.apache.spark.sql.Row) = r.getAs[Long]("doc_id")
    val badUpd = feedBad.filter(_.getAs[String]("change_type") == "update")
      .map(r => (key(r), r.getAs[Long]("o_n_chars"), r.getAs[Long]("n_n_chars"))).sorted
    val backUpd = feedBack.filter(_.getAs[String]("change_type") == "update")
      .map(r => (key(r), r.getAs[Long]("n_n_chars"), r.getAs[Long]("o_n_chars"))).sorted
    assert(badUpd.nonEmpty && badUpd.toSeq == backUpd.toSeq,
      "restore must invert every update (pre/post images swapped)")
    assert(feedBad.filter(_.getAs[String]("change_type") == "insert").map(key).sorted.toSeq ==
      feedBack.filter(_.getAs[String]("change_type") == "delete").map(key).sorted.toSeq,
      "the bad merge's inserts must come back as the restore's deletes")
    // a non-addressable snapshot refuses
    intercept[IllegalArgumentException](SnapshotStore.restore(spark, root, 99L))
  }

  test("mergeInto materializes its change plan exactly once") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val acc = spark.sparkContext.longAccumulator("graft_change_scans")
    val changeRows = docs.filter(col("doc_id").between(10, 30))
      .withColumn("n_chars", col("n_chars") + 9).collect()
    val rdd = spark.sparkContext.parallelize(changeRows.toIndexedSeq, 2)
      .mapPartitions { it => acc.add(1L); it }
    val changes = spark.createDataFrame(rdd, docs.schema)
    SnapshotStore.mergeInto(spark, root, changes)
    // the side-effecting source computed once per partition: the path
    // decision, the anti-join and the rewrite all read the CACHE
    assert(acc.value == 2L,
      s"the change plan must compute exactly once, saw ${acc.value / 2.0}x")
    assert(SnapshotStore.readSnapshot(spark, root, 3L)
      .filter(col("doc_id").between(10, 30) &&
        !(col("doc_id") - 9).isNull).count() == changeRows.length)
  }

  test("null keys: range delete keeps null-id rows; the feed treats them as identity-less multisets") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snapnull_").toString + "/tbl"
    val base = Seq(
      (Option(1L), "a", 10L), (Option(250L), "b", 20L),
      (Option.empty[Long], "x", 30L), (Option.empty[Long], "x", 30L))
      .toDF("doc_id", "tag", "v")
    SnapshotStore.append(spark, root, base)
    // SQL DELETE semantics: a NULL key satisfies no range predicate —
    // the null-id rows survive even though their file (open-interval
    // stats) is always in the affected set (ADVICE r14 medium)
    SnapshotStore.deleteRange(spark, root, 200L, 300L)
    val after = SnapshotStore.readSnapshot(spark, root, 2L)
    assert(after.count() == 3L)
    assert(after.filter(col("doc_id").isNull).count() == 2L,
      "range delete must keep null-key rows")
    assert(after.filter(col("doc_id") === 250L).count() == 0L)
    // change feed across the rewrite: the verbatim-carried null rows
    // are NOT changes (multiset cancel); the real delete is reported
    val feed = SnapshotStore.changeFeed(spark, root, 1L, 2L)
    assert(feed.count() == 1L, s"feed must report only the real delete")
    val d0 = feed.head()
    assert(d0.getAs[String]("change_type") == "delete" &&
      d0.getAs[Long]("o_id") == 250L)
    // an appended EXTRA null row surfaces as exactly one insert
    SnapshotStore.append(spark, root,
      Seq((Option.empty[Long], "x", 30L)).toDF("doc_id", "tag", "v"))
    val feed2 = SnapshotStore.changeFeed(spark, root, 2L, 3L)
    assert(feed2.count() == 1L)
    val i0 = feed2.head()
    assert(i0.getAs[String]("change_type") == "insert" &&
      i0.isNullAt(i0.fieldIndex("n_id")) &&
      i0.getAs[String]("n_tag") == "x")
  }

  test("post-claim failure self-releases: a transient commit error never blocks the table") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    // poison the schema-sidecar path into a non-empty DIRECTORY so the
    // claim holder's writeSchema throws after a successful claim
    val local = root.stripPrefix("file:")
    Files.createDirectories(Paths.get(s"$local/manifests/s3.json/poison"))
    intercept[Exception](SnapshotStore.append(spark, root, docs.limit(3)))
    // the failed writer released its OWN claim (ADVICE r14): no human
    // breakClaim needed — after removing the fault the next commit
    // claims id 3 immediately (a leaked claim would throw torn-claim)
    assert(!Files.exists(Paths.get(s"$local/manifests/claim3")),
      "the failed claim holder must self-release its claim")
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
    assert(SnapshotStore.append(spark, root, docs.limit(3)) == 3L)
  }

  test("expire ignores a torn in-flight manifest instead of failing on it") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.append(spark, root, docs.limit(4)) // commit 3
    // a torn manifest directory (no _SUCCESS) from an in-flight writer
    val local = root.stripPrefix("file:")
    Files.createDirectories(Paths.get(s"$local/manifests/m4"))
    SnapshotStore.expire(spark, root, keepFrom = 2L) // must not throw
    assert(rows(SnapshotStore.readSnapshot(spark, root, 3L)).size ==
      docs.count() + 4)
    intercept[Exception](SnapshotStore.manifest(spark, root, 1L).collect())
  }

  test("mergeInto join path == collect path (the distributed affected-file decision)") {
    val changesOf = (sdocs: org.apache.spark.sql.DataFrame) =>
      sdocs.filter(col("doc_id").between(10, 20))
        .withColumn("n_chars", col("n_chars") * 3)
        .unionByName(sdocs.filter(col("doc_id").isin(2, 5))
          .withColumn("doc_id", col("doc_id") + 7000000L))
    def mergedRows(forceJoin: Boolean): Seq[String] = {
      val d = scratchCorpus()
      val root = SnapshotStore.ensure(spark, d)
      val sdocs = spark.read.parquet(s"$d/documents.parquet")
      val prev = spark.conf.getOption(SnapshotStore.MergeJoinThresholdKey)
      if (forceJoin) spark.conf.set(SnapshotStore.MergeJoinThresholdKey, "1")
      try SnapshotStore.mergeInto(spark, root, changesOf(sdocs))
      finally prev.fold(spark.conf.unset(SnapshotStore.MergeJoinThresholdKey))(
        spark.conf.set(SnapshotStore.MergeJoinThresholdKey, _))
      rows(SnapshotStore.readSnapshot(spark, root, 3L))
    }
    val viaJoin = mergedRows(forceJoin = true)
    val viaCollect = mergedRows(forceJoin = false)
    assert(viaJoin == viaCollect && viaJoin.nonEmpty,
      "the granule range join must select a sound affected-file set")
  }

  test("incremental MV refresh: appends fold the diff; a rewrite commit falls back to recompute") {
    val d = scratchCorpus()
    val storeRoot = SnapshotStore.ensure(spark, d)
    def recompute() = SnapshotStore.readSnapshot(spark, storeRoot,
        SnapshotStore.currentSnapshot(spark, storeRoot))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("n_chars")).as("n_facts"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    def mv() = spark.read.parquet(s"${SnapshotStore.smRoot(d)}/mv")
    // first build: full recompute; second validate: fresh, untouched
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "recompute")
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "fresh")
    // an append-only commit refreshes INCREMENTALLY (the fold's input
    // is readDiff's delta files only, by construction) and equals the
    // recompute exactly
    SnapshotStore.append(spark, storeRoot, docs.limit(25))
    assert(SnapshotStore.appendOnlySince(spark, storeRoot, 2L, 3L))
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "incremental")
    assert(rows(mv()) == rows(recompute()),
      "incrementally refreshed view must equal the full recompute")
    // a DELETE rewrites files: append-only no longer holds, so the
    // refresh falls back to recompute — and is still exact
    SnapshotStore.deleteRange(spark, storeRoot, 50L, 120L)
    assert(!SnapshotStore.appendOnlySince(spark, storeRoot, 3L, 4L),
      "a rewrite commit must break the append-only precondition")
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "recompute")
    assert(rows(mv()) == rows(recompute()))
  }

  test("platform loop: streaming ingest -> snapshot commits -> the MV folds each batch incrementally") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = scratchCorpus()
    val storeRoot = SnapshotStore.ensure(spark, d) // commits 1, 2
    def recompute() = SnapshotStore.readSnapshot(spark, storeRoot,
        SnapshotStore.currentSnapshot(spark, storeRoot))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), count(col("n_chars")).as("n_facts"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    assert(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d) == "recompute")
    // three deterministic late-arrival batches, keyed clear of the seed
    val late = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0) + 10000000L, r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4)))
    val batches = late.groupBy(t => math.floorMod(t._1, 3L)).toSeq
      .sortBy(_._1).map(_._2.toSeq)
    val modes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ms = MemoryStream[(Long, String, String, String, Long)]
    val q = ms.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the loop: the stream COMMITS, then the derived view REFRESHES
        SnapshotStore.append(spark, storeRoot, batch)
        modes.add(SnapshotStore.ensureSnapshotMvValidated(spark, storeRoot, d))
        ()
      }.start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    import scala.jdk.CollectionConverters._
    assert(modes.iterator().asScala.toSeq == Seq.fill(batches.size)("incremental"),
      "every streaming batch must refresh the view by folding its diff")
    // end state: the folded view == a full batch recompute on the same
    // data — the stream-maintained platform equals the batch pipeline
    assert(rows(spark.read.parquet(s"${SnapshotStore.smRoot(d)}/mv")) ==
      rows(recompute()))
    assert(SnapshotStore.currentSnapshot(spark, storeRoot) == 2L + batches.size)
  }

  test("vacuum reclaims only never-referenced files; every snapshot survives; the age floor protects in-flight writes") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val s1 = rows(SnapshotStore.readSnapshot(spark, root, 1L))
    val s2 = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    // a crashed commit attempt: data files on disk, no manifest entry
    docs.limit(9).write.parquet(s"$root/data/cdeadattempt")
    val deleted = SnapshotStore.vacuum(spark, root, olderThanMs = 0L)
    assert(deleted.nonEmpty && deleted.forall(_.contains("cdeadattempt")),
      s"vacuum must delete exactly the orphan attempt's files: $deleted")
    assert(!Files.exists(Paths.get(s"$root/data/cdeadattempt")),
      "the emptied attempt dir must go too")
    // every snapshot reads back byte-identically — vacuum never
    // touches a referenced file
    assert(rows(SnapshotStore.readSnapshot(spark, root, 1L)) == s1)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == s2)
    // the age floor: a FRESH unreferenced dir (an in-flight writer's
    // files look exactly like this) survives a graced vacuum
    docs.limit(3).write.parquet(s"$root/data/cinflight")
    assert(SnapshotStore.vacuum(spark, root, olderThanMs = 3600000L).isEmpty)
    assert(Files.exists(Paths.get(s"$root/data/cinflight")))
    // ...and is reclaimed once old enough (grace elapsed ⇒ floor 0)
    assert(SnapshotStore.vacuum(spark, root, olderThanMs = 0L).nonEmpty)
    assert(!Files.exists(Paths.get(s"$root/data/cinflight")))
    // a KEYED store nests its files under key dirs: the committed ones
    // must survive, a nested orphan must be reclaimed
    val kroot = Files.createTempDirectory("graft_vacuum_keyed_").toString + "/store"
    SnapshotStore.appendPartitioned(spark, kroot, docs, "lang")
    SnapshotStore.append(spark, kroot, docs.limit(5).withColumn("doc_id", col("doc_id") + 1000L))
    val whole = rows(SnapshotStore.readSnapshot(spark, kroot, 2L))
    docs.limit(6).write.partitionBy("lang").parquet(s"$kroot/data/cdeadkeyed")
    val kdeleted = SnapshotStore.vacuum(spark, kroot, olderThanMs = 0L)
    assert(kdeleted.nonEmpty && kdeleted.forall(_.contains("cdeadkeyed")),
      s"vacuum must delete exactly the nested orphan: $kdeleted")
    assert(!Files.exists(Paths.get(s"$kroot/data/cdeadkeyed")))
    assert(rows(SnapshotStore.readSnapshot(spark, kroot, 2L)) == whole,
      "a keyed store must read back whole after vacuum")
  }

  test("change feed: inserts/updates/deletes recovered from rewrite commits; verbatim rewrites excluded") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    // commit 3 = a merge (updates + inserts)
    val changes = sdocs.filter(col("doc_id").between(10, 30))
      .withColumn("n_chars", col("n_chars") + 7)
      .unionByName(sdocs.filter(col("doc_id").isin(4, 6))
        .withColumn("doc_id", col("doc_id") + 9000000L))
    SnapshotStore.mergeInto(spark, root, changes)
    val feed3 = SnapshotStore.changeFeed(spark, root, 2L, 3L)
    val byType = feed3.groupBy(col("change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = sdocs.filter(col("doc_id").between(10, 30)).count()
    assert(byType == Map("update" -> nUpd, "insert" -> 2L),
      s"merge feed must be exactly the logical changes: $byType")
    // post-image values carried: every update's new n_chars = old + 7
    assert(feed3.filter(col("change_type") === "update" &&
      col("n_n_chars") =!= col("o_n_chars") + 7).count() == 0)
    // commit 4 = a COW delete → the feed reports DELETES (file-level
    // readDiff can't see these; the row-level feed must)
    SnapshotStore.deleteRange(spark, root, 15L, 25L)
    val feed4 = SnapshotStore.changeFeed(spark, root, 3L, 4L)
    val nDel = SnapshotStore.readSnapshot(spark, root, 3L)
      .filter(col("doc_id").between(15, 25)).count()
    assert(nDel > 0 &&
      feed4.groupBy(col("change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("delete" -> nDel))
    // pruning witness: the feed's inputs exclude every carried-over
    // file — only the commit's replaced + written files are read
    val carried = SnapshotStore.manifest(spark, root, 4L)
      .filter(col("commit_id") <= 3L).select("path")
      .collect().map(_.getString(0)).toSet
    val scanned = graft.plans.MvRewrite.scanLocations(
      feed4.queryExecution.optimizedPlan).toSet
    assert(carried.nonEmpty && scanned.intersect(carried).isEmpty,
      "the change feed must never read a carried-over file")
  }

  test("streaming CDC twin: every micro-batch MERGE commit's change feed equals the batch's logical changes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val sdocs = spark.read.parquet(s"$d/documents.parquet")
    // three deterministic CDC batches: each updates a key window
    // (n_chars strictly changed, so every update is a LOGICAL change)
    // and inserts two far clones
    val batches = Seq((0L, 30L), (31L, 60L), (61L, 90L)).zipWithIndex.map {
      case ((lo, hi), i) =>
        sdocs.filter(col("doc_id").between(lo, hi))
          .withColumn("n_chars", col("n_chars") + 100 * (i + 1))
          .unionByName(sdocs.filter(col("doc_id").isin(lo + 1, lo + 2))
            .withColumn("doc_id", col("doc_id") + 8000000L * (i + 1)))
          .select("doc_id", "text", "lang", "source", "n_chars")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getString(3), r.getLong(4))).toSeq
    }
    val ms = MemoryStream[(Long, String, String, String, Long)]
    val query = ms.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        SnapshotStore.mergeInto(spark, root, batch); ()
      }
      .start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        ms.addData(b)
        query.processAllAvailable()
        val k = SnapshotStore.currentSnapshot(spark, root)
        assert(k == 3L + i, "each CDC micro-batch must land as one commit")
        // independent expectation: keys present in the PRE-commit
        // snapshot are updates, absent keys are inserts
        val preKeys = SnapshotStore.readSnapshot(spark, root, k - 1)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val expect = b.groupBy(t => preKeys.contains(t._1))
          .map { case (present, rows) =>
            (if (present) "update" else "insert") -> rows.size.toLong }
        val feed = SnapshotStore.changeFeed(spark, root, k - 1, k)
        assert(feed.groupBy(col("change_type")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect,
          s"commit $k's feed must be exactly batch ${i + 1}'s logical changes")
        // post-images in the feed match the batch rows
        val fed = feed.select(col("doc_id"), col("n_n_chars"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(b.forall { case (id, _, _, _, n) => fed(id) == n })
      }
      // the end state equals a one-shot merge of all three batches
      // applied in order (streamed-incremental == sequential batch)
      val end = rows(SnapshotStore.readSnapshot(spark, root, 5L))
      val oneShot = {
        val all = batches.flatten.groupBy(_._1).map(_._2.last).toSeq // last write wins per key
        val allDf = all.toDF("doc_id", "text", "lang", "source", "n_chars")
        rows(sdocs.join(allDf.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(allDf))
      }
      assert(end == oneShot)
    } finally query.stop()
  }

  test("AS OF TIMESTAMP: resolution at, between, before and after the recorded commit instants") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    val t1 = SnapshotStore.commitTimeOf(spark, root, 1L)
    val t2 = SnapshotStore.commitTimeOf(spark, root, 2L)
    assert(t1 <= t2, "commit times must be monotone in the snapshot id")
    assert(SnapshotStore.snapshotAsOf(spark, root, t1 - 1) == 0L,
      "before the first commit the table is empty")
    assert(SnapshotStore.snapshotAsOf(spark, root, t1) == 1L ||
      t1 == t2, // sub-ms commits collapse to the later snapshot
      "at commit 1's instant the table is snapshot 1")
    assert(SnapshotStore.snapshotAsOf(spark, root, t2) == 2L)
    assert(SnapshotStore.snapshotAsOf(spark, root, t2 + 3600000L) == 2L,
      "any later instant resolves to the current snapshot")
    // the resolved id composes with readSnapshot — timestamp travel
    // IS snapshot travel after resolution
    val k = SnapshotStore.snapshotAsOf(spark, root, t2)
    assert(rows(SnapshotStore.readSnapshot(spark, root, k)) == rows(docs))
  }

  test("z-clustered store: the 2-D conjunction prunes more files than the 1-D layout; rows exact") {
    val zroot = SnapshotStore.ensureZ(spark, dir)
    val root1d = SnapshotStore.ensure(spark, dir)
    val zk = SnapshotStore.currentSnapshot(spark, zroot)
    val (iLo, iHi) = (SnapshotStore.ZIdLo, SnapshotStore.ZIdHi)
    val (cLo, cHi) = (SnapshotStore.ZChLo, SnapshotStore.ZChHi)
    // value truth first
    assert(rows(SnapshotStore.readRange2D(spark, zroot, zk, iLo, iHi, cLo, cHi)) ==
      rows(docs.filter(col("doc_id").between(iLo, iHi) &&
        col("n_chars").between(cLo, cHi))))
    def files(root: String, k: Long, both: Boolean): Long = {
      val m = SnapshotStore.manifest(spark, root, k)
      val idHit = col("max_id") >= iLo && col("min_id") <= iHi
      (if (both) m.filter(idHit &&
          col("max_chars") >= cLo && col("min_chars") <= cHi)
        else m.filter(idHit)).count()
    }
    val zTotal = SnapshotStore.manifest(spark, zroot, zk).count()
    val zScanned = files(zroot, zk, both = true)
    assert(zScanned < zTotal, "the z layout must skip files on the conjunction")
    // the 1-D doc_id-clustered store can only prune on doc_id; express
    // both scans as FRACTIONS of their layout's file count (the stores
    // write different files-per-commit) — the z layout's conjunctive
    // scan fraction must be strictly smaller
    val oneDTotal = SnapshotStore.manifest(spark, root1d,
      SnapshotStore.currentSnapshot(spark, root1d)).count()
    val oneDScanned = files(root1d,
      SnapshotStore.currentSnapshot(spark, root1d), both = false)
    assert(zScanned.toDouble / zTotal < oneDScanned.toDouble / oneDTotal,
      s"z: $zScanned/$zTotal vs 1-D: $oneDScanned/$oneDTotal — " +
        "the interleaved layout must prune a larger fraction on the conjunction")
    // and the n_chars interval alone prunes SOMETHING on the z layout
    // (on the doc_id-clustered layout every file spans the full
    // n_chars domain, so the same predicate prunes nothing there)
    val zCharsOnly = SnapshotStore.manifest(spark, zroot, zk)
      .filter(col("max_chars") >= cLo && col("min_chars") <= cHi).count()
    assert(zCharsOnly < zTotal,
      "the non-clustering dimension must prune files under the z layout")
  }

  test("q222/q223/q224 agree with their closed-form expectations") {
    assert(rows(SnapshotStore.q222SnapshotMvIncremental(spark, dir)) ==
      rows(docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), count(col("n_chars")).as("n_facts"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))))
    assert(rows(SnapshotStore.q223SnapshotMergeJoin(spark, dir)) ==
      rows(docs.withColumn("n_chars",
        when(pmod(col("doc_id"), lit(5)) === 0, col("n_chars") + 500)
          .otherwise(col("n_chars")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(13)) === 0))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
    assert(rows(SnapshotStore.q224SnapshotConcurrent(spark, dir)) ==
      rows(docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
  }

  test("new standing stores reuse on a matching signature (no rebuild on re-ensure)") {
    import scala.jdk.CollectionConverters._
    def mtime(root: String): Long = {
      val p = Paths.get(root.stripPrefix("file:"))
      if (!Files.exists(p)) 0L
      else Files.walk(p).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(Files.getLastModifiedTime(_).toMillis)
        .foldLeft(0L)(math.max)
    }
    // build-once: the suite session already ensured these via queries
    // or ensures them here; a SECOND ensure through the same validated
    // path must not move one byte (the cross-session reuse contract
    // every standing artifact carries)
    val stores = Seq(
      SnapshotStore.ensureIncremental(spark, dir),
      SnapshotStore.ensureMergedJoin(spark, dir),
      SnapshotStore.ensureConcurrent(spark, dir),
      SnapshotStore.ensureZ(spark, dir))
    val before = stores.map(mtime)
    assert(before.forall(_ > 0L))
    Thread.sleep(20)
    // replay the "next session" validation path by evicting the
    // per-session latch, then re-ensuring
    SessionCache.evictAllFor(spark.sparkContext)
    val again = Seq(
      SnapshotStore.ensureIncremental(spark, dir),
      SnapshotStore.ensureMergedJoin(spark, dir),
      SnapshotStore.ensureConcurrent(spark, dir),
      SnapshotStore.ensureZ(spark, dir))
    assert(again == stores)
    assert(again.map(mtime) == before,
      "a matching signature must reuse every new standing store untouched")
  }

  test("q203/q204/q205 run green and agree with the raw table") {
    assert(rows(SnapshotStore.q203SnapshotTimeTravel(spark, dir)) ==
      rows(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
    assert(rows(SnapshotStore.q204SnapshotDiff(spark, dir)) ==
      rows(docs.filter(pmod(col("doc_id"), lit(3)) === 0).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
    assert(rows(SnapshotStore.q205SnapshotAgg(spark, dir)) ==
      rows(docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
  }

  test("position delete: keyless predicate, zero rewrites, null-key reach, feed pre-images, COW + compact fold") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_posdel_").toString + "/tbl"
    SnapshotStore.append(spark, root,
      Seq((Some(1L), "a", 10L), (Some(2L), "b", 250L), (Some(3L), "c", 30L),
        (None: Option[Long], "n", 250L))
        .toDF("doc_id", "tag", "n_chars"))            // commit 1
    SnapshotStore.append(spark, root,
      Seq((Some(4L), "d", 255L), (Some(5L), "e", 50L))
        .toDF("doc_id", "tag", "n_chars"))            // commit 2
    val dataBefore = rows(SnapshotStore.manifest(spark, root, 2L).select("path"))
    // the keyless delete: n_chars window — hits keys 2, 4 AND the
    // null-key row, which equality deletes can never address
    SnapshotStore.deleteWhere(spark, root,
      col("n_chars").between(200L, 300L))             // commit 3
    val m3 = SnapshotStore.manifest(spark, root, 3L)
    assert(rows(m3.filter(col("kind").isNull || col("kind") === "data")
      .select("path")) == dataBefore,
      "a position delete must not rewrite any data file")
    assert(m3.filter(col("kind") === "posdelete").count() == 1)
    val expect3 = Seq("1:a", "3:c", "5:e")
    def tags3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => s"${r.getAs[Any]("doc_id")}:${r.getAs[String]("tag")}")
        .sorted.toSeq
    assert(tags3(SnapshotStore.readSnapshot(spark, root, 3L)) == expect3,
      "the position delete must remove matching rows INCLUDING the null-key row")
    // the feed reports each position's pre-image as a logical delete
    val feed = SnapshotStore.changeFeed(spark, root, 2L, 3L).collect()
    assert(feed.length == 3 &&
      feed.forall(_.getAs[String]("change_type") == "delete"))
    assert(feed.flatMap(r => Option(r.getAs[java.lang.Long]("o_id")))
      .map(_.toLong).sorted.toSeq == Seq(2L, 4L))
    // the DSv2 SQL read applies the positions too
    spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load().createOrReplaceTempView("posdel_sql")
    assert(tags3(spark.sql("SELECT doc_id, tag FROM posdel_sql")) == expect3)
    // a COW rewrite over a position-deleted file must not resurrect
    SnapshotStore.deleteRange(spark, root, 3L, 3L)     // commit 4
    assert(tags3(SnapshotStore.readSnapshot(spark, root, 4L)) == Seq("1:a", "5:e"))
    // compact folds the position file into data and drops it
    SnapshotStore.compact(spark, root)                 // commit 5
    val m5 = SnapshotStore.manifest(spark, root, 5L)
    assert(!m5.columns.contains("kind") ||
      m5.filter(col("kind") === "posdelete").count() == 0)
    assert(tags3(SnapshotStore.readSnapshot(spark, root, 5L)) == Seq("1:a", "5:e"))
    // time travel still reads the pre-delete table (6 rows)
    assert(SnapshotStore.readSnapshot(spark, root, 2L).count() == 6L)
    // the q234 fixture agrees with the closed form
    assert(rows(SnapshotStore.q234SnapshotPosDelete(spark, dir)) ==
      rows(docs.filter(!col("n_chars").between(
          SnapshotStore.PdChLo, SnapshotStore.PdChHi))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))))
  }

  test("metadata tables: snapshots/files/refs expose the operator's inspection surface") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_meta_").toString + "/tbl"
    SnapshotStore.append(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "tag")) // 1
    SnapshotStore.append(spark, root, Seq((4L, "d")).toDF("doc_id", "tag")) // 2
    SnapshotStore.deleteKeys(spark, root, Seq(2L).toDF("doc_id")) // 3
    SnapshotStore.tag(spark, root, "validated", 2L)
    val snaps = SnapshotStore.metaSnapshots(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).sortBy(_._1).toSeq
    val nf1 = snaps(0)._2 // files of the first commit (data-dependent)
    assert(snaps.map(_._1) == Seq(1L, 2L, 3L), "every addressable snapshot listed")
    assert(snaps(0)._3 == 3L && snaps(0)._4 == 0L, "snapshot 1: 3 rows, no deletes")
    assert(snaps(1)._3 == 4L, "snapshot 2 accumulates")
    assert(snaps(2) == ((3L, snaps(1)._2, 4L, 1L, 1L)),
      "the MOR delete adds one delete file of one row, data untouched")
    // committed_at is monotone in the snapshot id (the CAS serializes)
    val ts = SnapshotStore.metaSnapshots(spark, root)
      .orderBy(col("snapshot_id")).collect().map(_.getLong(1)).toSeq
    assert(ts == ts.sorted)
    assert(nf1 >= 1L)
    // files: kinds normalized, stats spans present
    val files = SnapshotStore.metaFiles(spark, root, 3L)
    assert(files.filter(col("kind") === "delete").count() == 1L)
    assert(files.filter(col("kind") === "data" && col("min_id") <= 1L).count() >= 1L)
    // refs
    assert(SnapshotStore.metaRefs(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("validated", 2L)))
  }

  test("tags: named refs resolve, retarget, pin snapshots across expire, and drop") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_tags_").toString + "/tbl"
    SnapshotStore.append(spark, root, Seq((1L, "a")).toDF("doc_id", "tag")) // 1
    SnapshotStore.append(spark, root, Seq((2L, "b")).toDF("doc_id", "tag")) // 2
    SnapshotStore.append(spark, root, Seq((3L, "c")).toDF("doc_id", "tag")) // 3
    SnapshotStore.tag(spark, root, "initial-load", 1L)
    assert(SnapshotStore.resolveTag(spark, root, "initial-load") == 1L)
    assert(rows(SnapshotStore.readTag(spark, root, "initial-load")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // the DSv2 tag option resolves the same snapshot
    assert(rows(spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).option("tag", "initial-load").load()) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // retarget: last write wins
    SnapshotStore.tag(spark, root, "initial-load", 3L)
    assert(SnapshotStore.resolveTag(spark, root, "initial-load") == 3L)
    SnapshotStore.tag(spark, root, "audit", 1L)
    // expire below the horizon: the TAGGED snapshot survives, the
    // untagged one is dropped
    SnapshotStore.expire(spark, root, 3L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 1L)) ==
      rows(Seq((1L, "a")).toDF("doc_id", "tag")),
      "a tagged snapshot must survive expire")
    assertThrows[Exception](SnapshotStore.readSnapshot(spark, root, 2L).collect())
    // dropping the tag releases the pin; the next expire reclaims it
    SnapshotStore.dropTag(spark, root, "audit")
    SnapshotStore.expire(spark, root, 3L)
    assertThrows[Exception](SnapshotStore.readSnapshot(spark, root, 1L).collect())
    assert(SnapshotStore.tags(spark, root).keySet == Set("initial-load"))
    // a tag can never name an uncommitted or future snapshot
    assertThrows[IllegalArgumentException](
      SnapshotStore.tag(spark, root, "future", 9L))
  }

  test("branches: staging invisible to main; publish rebases onto an advanced main; vacuum reclaims a dropped branch") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d) // 2 commits = all docs
    val before = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    SnapshotStore.createBranch(spark, root, "audit", 2L)
    assertThrows[IllegalArgumentException](
      SnapshotStore.createBranch(spark, root, "audit", 1L)) // no clobber
    val extra1 = docs.limit(5).withColumn("doc_id", col("doc_id") + 1000000L)
    val extra2 = docs.limit(3).withColumn("doc_id", col("doc_id") + 2000000L)
    assert(SnapshotStore.appendBranch(spark, root, "audit", extra1) == 1L)
    assert(SnapshotStore.appendBranch(spark, root, "audit", extra2) == 2L)
    // WAP invariant: main readers see NOTHING of the staged commits
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == before)
    // the branch reads base + both staged appends
    assert(rows(SnapshotStore.readBranch(spark, root, "audit")) ==
      rows(docs.unionByName(extra1).unionByName(extra2)))
    assert(SnapshotStore.branches(spark, root) == Map("audit" -> (2L, 2L)))
    // main ADVANCES while the branch is open — publish must rebase
    val extraMain = docs.limit(2).withColumn("doc_id", col("doc_id") + 3000000L)
    SnapshotStore.append(spark, root, extraMain) // commit 3
    val k = SnapshotStore.fastForward(spark, root, "audit")
    assert(k == 4L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, k)) ==
      rows(docs.unionByName(extraMain).unionByName(extra1).unionByName(extra2)),
      "publish must land every staged row once and lose no main row")
    // published rows are re-stamped under the PUBLISH commit id: the
    // append-only diff sees them exactly at publish, not before
    assert(rows(SnapshotStore.readDiff(spark, root, 3L, 4L)) ==
      rows(extra1.unionByName(extra2)))
    // the change feed reports the publish as pure inserts
    val feed = SnapshotStore.changeFeed(spark, root, 3L, 4L)
    assert(feed.filter(col("change_type") =!= "insert").count() == 0L)
    assert(feed.count() == 8L)
    // pre-publish snapshots are untouched (time travel reads the
    // unpublished table forever)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == before)
    // drop + vacuum: the branch's own staged manifest files become
    // orphans and are reclaimed; the PUBLISHED data files survive
    // (main's manifest references them)
    SnapshotStore.dropBranch(spark, root, "audit")
    assert(SnapshotStore.branches(spark, root).isEmpty)
    val reclaimed = SnapshotStore.vacuum(spark, root, 0L)
    assert(reclaimed.nonEmpty, "the dropped branch's staged manifest files must reclaim")
    assert(rows(SnapshotStore.readSnapshot(spark, root, 4L)) ==
      rows(docs.unionByName(extraMain).unionByName(extra1).unionByName(extra2)),
      "vacuum must never touch a published (referenced) file")
  }

  test("branches: a staged branch's files survive vacuum and its base survives expire until the branch drops") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.createBranch(spark, root, "staged", 1L)
    val extra = docs.limit(4).withColumn("doc_id", col("doc_id") + 5000000L)
    SnapshotStore.appendBranch(spark, root, "staged", extra)
    val branchRows = rows(SnapshotStore.readBranch(spark, root, "staged"))
    // vacuum with a zero age floor: the staged (never-main-referenced)
    // files must STILL survive — the branch list is a reference root
    SnapshotStore.vacuum(spark, root, 0L)
    assert(rows(SnapshotStore.readBranch(spark, root, "staged")) == branchRows,
      "vacuum must honor branch references")
    // expire everything below current: the branch BASE (snapshot 1) is
    // pinned like a tag, so the branch keeps reading
    SnapshotStore.append(spark, root, docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 6000000L)) // commit 3
    SnapshotStore.expire(spark, root, 3L)
    assert(rows(SnapshotStore.readBranch(spark, root, "staged")) == branchRows,
      "expire must pin a live branch's base snapshot")
    // dropping the branch releases both pins
    SnapshotStore.dropBranch(spark, root, "staged")
    SnapshotStore.expire(spark, root, 3L)
    assertThrows[Exception](SnapshotStore.readSnapshot(spark, root, 1L).collect())
    val reclaimed = SnapshotStore.vacuum(spark, root, 0L)
    assert(reclaimed.nonEmpty, "a dropped branch's files must reclaim")
  }

  test("branches: publish CONSUMES the staging — a second stage/publish cycle adds only the new rows") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.createBranch(spark, root, "cycle", 2L)
    val extra1 = docs.limit(4).withColumn("doc_id", col("doc_id") + 1100000L)
    SnapshotStore.appendBranch(spark, root, "cycle", extra1)
    val k1 = SnapshotStore.fastForward(spark, root, "cycle")
    assert(k1 == 3L)
    // the branch survived, re-based at the publish commit, EMPTY
    assert(SnapshotStore.branches(spark, root) == Map("cycle" -> (3L, 0L)))
    assert(rows(SnapshotStore.readBranch(spark, root, "cycle")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 3L)))
    // round two: stage fresh, publish — ONLY the new rows land
    val extra2 = docs.limit(2).withColumn("doc_id", col("doc_id") + 2200000L)
    SnapshotStore.appendBranch(spark, root, "cycle", extra2)
    val k2 = SnapshotStore.fastForward(spark, root, "cycle")
    assert(k2 == 4L)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 4L)) ==
      rows(docs.unionByName(extra1).unionByName(extra2)),
      "the second publish must not re-publish the first batch")
    assert(SnapshotStore.readDiff(spark, root, 3L, 4L).count() == 2L)
    // a publish with nothing staged refuses rather than committing air
    assertThrows[IllegalArgumentException](
      SnapshotStore.fastForward(spark, root, "cycle"))
    SnapshotStore.dropBranch(spark, root, "cycle")
  }

  test("binPack: small files merge to target size, big files carry byte-identically, MOR deletes preserved") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_bp_spec_").toString
    val root = s"$d/store"
    val n = docs.count()
    SnapshotStore.append(spark, root, docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    Seq(1L, 3L, 5L, 7L).foreach { r =>
      SnapshotStore.append(spark, root, docs.filter(pmod(col("doc_id"), lit(8)) === r))
    }
    // a MOR delete BEFORE the pack: binPack must fold it into the
    // packed rows without resurrecting or double-deleting
    val delKeys = docs.filter(pmod(col("doc_id"), lit(11)) === 0).select("doc_id")
    SnapshotStore.deleteKeys(spark, root, delKeys) // commit 6
    val pre = rows(SnapshotStore.readSnapshot(spark, root, 6L))
    val mPre = SnapshotStore.metaFiles(spark, root, 6L)
      .filter(col("kind") === "data")
    val minRows = math.max(2L, n / 16L)
    val bigPre = mPre.filter(col("n_rows") >= minRows && col("commit_id") <= 5L)
      .select("path").collect().map(_.getString(0)).toSet
    val smallPre = mPre.filter(col("n_rows") < minRows).count()
    assert(bigPre.nonEmpty && smallPre >= 2, "fixture must have both sizes")
    val k = SnapshotStore.binPack(spark, root, minRows, math.max(2L, n / 8L))
    assert(k == 7L)
    val mPost = graft.sources.SnapshotStore.metaFiles(spark, root, 7L)
    val postData = mPost.filter(col("kind") === "data")
    // big files carried verbatim — same paths, same commit ids
    val postPaths = postData.select("path").collect().map(_.getString(0)).toSet
    assert(bigPre.subsetOf(postPaths), "big files must carry by path identity")
    // the small tail shrank
    assert(postData.count() < mPre.count())
    // rows identical (delete semantics included)
    assert(rows(SnapshotStore.readSnapshot(spark, root, 7L)) == pre)
    // the delete file stays live for the carried files
    assert(mPost.filter(col("kind") === "delete").count() == 1L)
    // idempotent: nothing left to pack → NO empty commit
    assert(SnapshotStore.binPack(spark, root, minRows, math.max(2L, n / 8L)) == 7L)
  }

  test("foldDeletes: delete files fold into only the affected data files; untouched files carry; re-inserts survive") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_fd_spec_").toString
    val root = s"$d/store"
    SnapshotStore.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) =!= 0))
    SnapshotStore.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    SnapshotStore.deleteKeys(spark, root,
      docs.filter(pmod(col("doc_id"), lit(15)) === 0).select("doc_id")) // 3
    // a RE-INSERT of one deleted key after the delete: the sequence
    // rule keeps it alive, and the fold must too (picked OUTSIDE the
    // position-delete window so its single-row file stays untouched)
    val reKey = docs.filter(pmod(col("doc_id"), lit(15)) === 0 &&
        (col("n_chars").isNull ||
          !col("n_chars").between(SnapshotStore.PdChLo, SnapshotStore.PdChHi)))
      .select(col("doc_id")).as[Long].head()
    SnapshotStore.append(spark, root,
      docs.filter(col("doc_id") === reKey)) // 4 (cid 4 > dcid 3)
    SnapshotStore.deleteWhere(spark, root,
      col("n_chars").between(SnapshotStore.PdChLo, SnapshotStore.PdChHi)) // 5
    val pre = rows(SnapshotStore.readSnapshot(spark, root, 5L))
    assert(SnapshotStore.readSnapshot(spark, root, 5L)
      .filter(col("doc_id") === reKey).count() == 1L,
      "the re-inserted key must be live pre-fold")
    // files no delete can touch (stats + sequence rule + position
    // targets) must carry by path identity
    val k = SnapshotStore.foldDeletes(spark, root)
    assert(k == 6L)
    val mPost = SnapshotStore.metaFiles(spark, root, 6L)
    assert(mPost.filter(col("kind") =!= "data").count() == 0L,
      "every delete file must fold away")
    assert(rows(SnapshotStore.readSnapshot(spark, root, 6L)) == pre,
      "the folded table must hash-equal the MOR read")
    // the re-inserted file carried verbatim: its commit id is still 4
    assert(mPost.filter(col("commit_id") === 4L).count() >= 1L,
      "a file no delete touches must carry by reference")
    // time travel to the pre-fold snapshot still applies the deletes
    assert(rows(SnapshotStore.readSnapshot(spark, root, 5L)) == pre)
    // idempotent: no delete files left → NO empty commit
    assert(SnapshotStore.foldDeletes(spark, root) == 6L)
  }

  test("mixed stats: plain appends on a Z store never vanish from 2-D reads; maintenance preserves the Z layout") {
    val d = java.nio.file.Files.createTempDirectory("graft_zmix_").toString
    val root = s"$d/store"
    SnapshotStore.appendZ(spark, root,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    // a PLAIN append lands with no n_chars stats (null = open interval)
    SnapshotStore.append(spark, root,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    val got = rows(SnapshotStore.readRange2D(spark, root, 2L,
      SnapshotStore.ZIdLo, SnapshotStore.ZIdHi,
      SnapshotStore.ZChLo, SnapshotStore.ZChHi))
    val expect = rows(docs.filter(
      col("doc_id").between(SnapshotStore.ZIdLo, SnapshotStore.ZIdHi) &&
        col("n_chars").between(SnapshotStore.ZChLo, SnapshotStore.ZChHi)))
    assert(got == expect,
      "null char-stats files must scan, not prune — their rows were vanishing")
    // same through the connector's SQL 2-D pruning
    spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load().createOrReplaceTempView("zmix_spec")
    assert(rows(spark.sql(
      s"""SELECT * FROM zmix_spec
         |WHERE doc_id BETWEEN ${SnapshotStore.ZIdLo} AND ${SnapshotStore.ZIdHi}
         |  AND n_chars BETWEEN ${SnapshotStore.ZChLo} AND ${SnapshotStore.ZChHi}""".stripMargin)) ==
      expect)
    // maintenance on the Z store re-records BOTH dims' stats: after a
    // binPack that packs everything, no data file has null char-stats
    val n = docs.count()
    SnapshotStore.binPack(spark, root, minRows = n, targetRows = n)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    val m = SnapshotStore.metaFiles(spark, root, cur)
      .filter(col("kind") === "data")
    assert(m.filter(col("min_chars").isNull).count() == 0L,
      "binPack on a Z store must re-record 2-D stats")
    assert(rows(SnapshotStore.readRange2D(spark, root, cur,
      SnapshotStore.ZIdLo, SnapshotStore.ZIdHi,
      SnapshotStore.ZChLo, SnapshotStore.ZChHi)) == expect)
    // foldDeletes on the Z store keeps the layout too
    SnapshotStore.deleteKeys(spark, root,
      docs.filter(pmod(col("doc_id"), lit(21)) === 0).select("doc_id"))
    SnapshotStore.foldDeletes(spark, root)
    val cur2 = SnapshotStore.currentSnapshot(spark, root)
    assert(SnapshotStore.metaFiles(spark, root, cur2)
      .filter(col("kind") === "data" && col("min_chars").isNull).count() == 0L,
      "foldDeletes on a Z store must re-record 2-D stats")
    assert(rows(SnapshotStore.readRange2D(spark, root, cur2,
      SnapshotStore.ZIdLo, SnapshotStore.ZIdHi,
      SnapshotStore.ZChLo, SnapshotStore.ZChHi)) ==
      rows(docs.filter(pmod(col("doc_id"), lit(21)) =!= 0 &&
        col("doc_id").between(SnapshotStore.ZIdLo, SnapshotStore.ZIdHi) &&
        col("n_chars").between(SnapshotStore.ZChLo, SnapshotStore.ZChHi))))
  }

  test("change feed: a null-free window skips the multiset pass, decided from n_nulls metadata alone") {
    val d = scratchCorpus()
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.append(spark, root, docs.limit(3)
      .withColumn("doc_id", col("doc_id") + 7500000L)) // commit 3
    val feed = SnapshotStore.changeFeed(spark, root, 2L, 3L)
    // the multiset comparison is two aggregates + an exploded join —
    // a window whose manifests RECORD zero null keys must plan NONE
    val aggs = feed.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.isEmpty,
      s"null-free window must skip the multiset aggregates:\n${feed.queryExecution.optimizedPlan}")
    assert(feed.count() == 3L &&
      feed.filter(col("change_type") === "insert").count() == 3L)
    // and the metadata is present: every data file of commit 3 records
    // an exact null count
    assert(SnapshotStore.metaFiles(spark, root, 3L)
      .filter(col("kind") === "data" && col("commit_id") === 3L &&
        col("n_nulls").isNull).count() == 0L)
  }

  test("q237/q238/q239 agree with their closed-form expectations") {
    val wap = SparkEntry.queries("q237_snapshot_wap")(spark, dir)
    val expectWap = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        max(col("n_chars")).as("max_chars")).orderBy(col("lang"))
    assert(rows(wap) == rows(expectWap))
    val bp = SparkEntry.queries("q238_snapshot_binpack")(spark, dir)
    val expectBp = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars")).orderBy(col("lang"))
    assert(rows(bp) == rows(expectBp))
    val fd = SparkEntry.queries("q239_snapshot_delete_fold")(spark, dir)
    val expectFd = docs
      .filter(pmod(col("doc_id"), lit(15)) =!= 0 &&
        (col("n_chars").isNull ||
          !col("n_chars").between(SnapshotStore.PdChLo, SnapshotStore.PdChHi)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
    assert(rows(fd) == rows(expectFd))
  }

  test("category bounds compare in UTF-8 byte order: U+FF21 and U+1F600 each find their files") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_snapcat_").toString + "/store"
    val fullA = "\uff21"
    val emoji = new String(Character.toChars(0x1F600))
    // 45 + 55 rows range-laid into CatCommitFiles files: one file holds
    // the tail of one value and the head of the other, so its bounds are
    // (fullA, emoji) in UTF-8 order — and (emoji, fullA) in UTF-16 order
    val df = ((1 to 45).map(i => (i.toLong, fullA)) ++
      (46 to 100).map(i => (i.toLong, emoji))).toDF("doc_id", "lang")
    SnapshotStore.appendClustered(spark, root, df, "lang")
    val cur = SnapshotStore.currentSnapshot(spark, root)
    val m = SnapshotStore.manifest(spark, root, cur)
    assert(m.filter(col("min_cat") === fullA && col("max_cat") === emoji).count() == 1,
      "the layout must put both values in one file")
    val dsv2 = spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load()
    for ((v, n) <- Seq(fullA -> 45L, emoji -> 55L)) {
      assert(SnapshotStore.readCat(spark, root, cur, v).count() == n, s"readCat($v)")
      assert(dsv2.filter(col("lang") === v).count() == n, s"DSv2 lang = $v")
      assert(dsv2.filter(col("lang").isin(v, "a")).count() == n, s"DSv2 lang IN ($v, a)")
    }
  }

  test("one layout value: compact, binPack and foldDeletes keep every layout's rows, layout and pruning (null ids included)") {
    import SnapshotStore.{Cat, Keyed, Range, Z}
    val base = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    // 7/8 of the first commit's ids are NULL, so some files hold only
    // null ids: every writer (Z included) records the open interval
    val first = base.filter(pmod(col("doc_id"), lit(2)) === 0)
      .withColumn("doc_id", when(pmod(col("doc_id"), lit(8)) === 0, col("doc_id")))
    val second = base.filter(pmod(col("doc_id"), lit(2)) === 1)
    val small = base.filter(col("doc_id") < 12) // a small commit for binPack
    val idPred = col("doc_id").between(1, 2)
    val dePred = col("lang") === "de"
    val cases: Seq[(SnapshotStore.Layout, org.apache.spark.sql.Column)] = Seq(
      (Range, idPred),
      (Z, col("doc_id").between(1, 60) && col("n_chars").between(47, 110)),
      (Cat("lang"), dePred),
      (Keyed(None, Some((8, "doc_id"))), idPred),
      (Keyed(Some("lang"), None), dePred),
      (Keyed(Some("lang"), Some((8, "doc_id"))), dePred))
    for ((layout, pred) <- cases) {
      val root = Files.createTempDirectory("graft_layout_").toString + "/store"
      Seq(first, second, small).foreach(SnapshotStore.append(spark, root, _, layout))
      def check(op: String, before: Long, after: Long): Unit = {
        val label = s"$layout after $op"
        assert(after == before + 1, s"$label must commit")
        assert(SnapshotStore.layoutOf(spark, root, after) == layout, s"$label: layout")
        assert(rows(SnapshotStore.readSnapshot(spark, root, after)) ==
          rows(SnapshotStore.readSnapshot(spark, root, before)), s"$label: rows")
        val want = rows(SnapshotStore.readSnapshot(spark, root, after).filter(pred))
        val got = spark.read.format("graft.sources.SnapshotTableSource")
          .option("root", root).option("snapshot", after.toString).load()
          .filter(pred)
        assert(rows(got) == want, s"$label: DSv2 $pred")
        val nFiles = SnapshotStore.metaFiles(spark, root, after)
          .filter(col("kind") === "data").count()
        assert(SnapshotTableSource.lastPlannedFiles.get(root) < nFiles,
          s"$label: $pred must prune the $nFiles files")
        layout match {
          case Z => assert(rows(SnapshotStore.readRange2D(spark, root, after,
            1L, 60L, 47L, 110L)) == want, s"$label: readRange2D")
          case Cat(_) => assert(rows(SnapshotStore.readCat(spark, root, after, "de")) ==
            want, s"$label: readCat")
          case _ => ()
        }
      }
      val k0 = SnapshotStore.currentSnapshot(spark, root)
      assert(SnapshotStore.layoutOf(spark, root, k0) == layout)
      val minRows = SnapshotStore.manifest(spark, root, k0)
        .filter(col("commit_id") === k0).agg(max(col("n_rows"))).head().getLong(0) + 1L
      check("binPack", k0, SnapshotStore.binPack(spark, root, minRows, minRows))
      val k1 = SnapshotStore.deleteKeys(spark, root,
        base.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
      check("foldDeletes", k1, SnapshotStore.foldDeletes(spark, root))
      check("compact", k1 + 1, SnapshotStore.compact(spark, root))
    }
  }

  test("readRange2D and readCat apply equality and position deletes (they read deleted rows before)") {
    import spark.implicits._
    val langs = Seq("de", "en", "fr", "zh")
    val df = (1 to 400).map(i => (i.toLong, langs(i % 4), (i * 7 % 500).toLong))
      .toDF("doc_id", "lang", "n_chars")
    val keys = (100L to 200L).toDF("doc_id")
    val zroot = Files.createTempDirectory("graft_zdel_").toString + "/store"
    SnapshotStore.appendZ(spark, zroot, df)
    val zPred = col("doc_id").between(50, 300) && col("n_chars").between(0, 500)
    for ((commit, n) <- Seq[(() => Long, Long)](
        (() => SnapshotStore.deleteKeys(spark, zroot, keys), 150L),
        (() => SnapshotStore.deleteWhere(spark, zroot, col("doc_id") === 250L), 149L))) {
      val k = commit()
      val got = rows(SnapshotStore.readRange2D(spark, zroot, k, 50L, 300L, 0L, 500L))
      assert(got.size == n && got == rows(SnapshotStore.readSnapshot(spark, zroot, k)
        .filter(zPred)), s"readRange2D at snapshot $k")
    }
    val croot = Files.createTempDirectory("graft_catdel_").toString + "/store"
    SnapshotStore.appendClustered(spark, croot, df, "lang")
    val k = SnapshotStore.deleteKeys(spark, croot, (1L to 100L).toDF("doc_id"))
    val got = rows(SnapshotStore.readCat(spark, croot, k, "de"))
    assert(got.size == 75 && got == rows(SnapshotStore.readSnapshot(spark, croot, k)
      .filter(col("lang") === "de")))
  }

  test("one file predicate: FileFilter.hits over bounded, null, sentinel and missing stats on every dimension") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import SnapshotStore.FileFilter
    val longCols = Set("min_id", "max_id", "min_chars", "max_chars")
    def row(cells: (String, Any)*): org.apache.spark.sql.Row =
      new GenericRowWithSchema(cells.map(_._2).toArray, StructType(cells.map { case (c, _) =>
        StructField(c, if (longCols(c)) LongType else StringType) }))
    def data(cells: (String, Any)*) = row(("kind" -> "data") +: cells: _*)
    val (lo, hi) = (Long.MinValue, Long.MaxValue)
    val fullA = "\uff21"
    val emoji = new String(Character.toChars(0x1F600))
    val id = FileFilter(id = Some((10L, 20L)))
    val chars = FileFilter(chars = Some((10L, 20L)))
    val cat = FileFilter(cat = Some(("de", "de")))
    val part = FileFilter(partVals = Some(Set("de", "fr")))
    val keys = FileFilter(keys = Some(Array(5L, 15L, 40L)))
    val noKeys = FileFilter(keys = Some(Array.empty[Long]))
    val cases: Seq[(String, FileFilter, org.apache.spark.sql.Row, Boolean)] = Seq(
      ("id bounded, overlapping", id, data("min_id" -> 18L, "max_id" -> 30L), true),
      ("id bounded, disjoint", id, data("min_id" -> 21L, "max_id" -> 30L), false),
      ("id null", id, data("min_id" -> null, "max_id" -> null), true),
      ("id sentinel", id, data("min_id" -> lo, "max_id" -> hi), true),
      ("id column missing", id, data(), true),
      ("chars bounded, overlapping", chars, data("min_chars" -> 1L, "max_chars" -> 10L), true),
      ("chars bounded, disjoint", chars, data("min_chars" -> 1L, "max_chars" -> 9L), false),
      ("chars null", chars, data("min_chars" -> null, "max_chars" -> null), true),
      ("chars sentinel", chars, data("min_chars" -> lo, "max_chars" -> hi), true),
      ("chars column missing", chars, data("min_id" -> 1L, "max_id" -> 2L), true),
      ("cat bounded, containing", cat, data("min_cat" -> "de", "max_cat" -> "en"), true),
      ("cat bounded, disjoint", cat, data("min_cat" -> "en", "max_cat" -> "fr"), false),
      ("cat in UTF-8 byte order", FileFilter(cat = Some((emoji, emoji))),
        data("min_cat" -> fullA, "max_cat" -> emoji), true),
      ("cat null", cat, data("min_cat" -> null, "max_cat" -> null), true),
      ("cat column missing", cat, data(), true),
      ("part value listed", part, data("part_val" -> "fr"), true),
      ("part value not listed", part, data("part_val" -> "en"), false),
      ("part value null", part, data("part_val" -> null), true),
      ("part column missing", part, data(), true),
      ("keys, one inside", keys, data("min_id" -> 12L, "max_id" -> 20L), true),
      ("keys, none inside", keys, data("min_id" -> 16L, "max_id" -> 39L), false),
      ("keys, bound equals a key", keys, data("min_id" -> 40L, "max_id" -> 50L), true),
      ("keys null", keys, data("min_id" -> null, "max_id" -> null), true),
      ("keys sentinel", noKeys, data("min_id" -> lo, "max_id" -> hi), true),
      ("keys empty, bounded", noKeys, data("min_id" -> 1L, "max_id" -> 2L), false),
      ("keys column missing", keys, data(), true),
      ("every dimension at once", FileFilter(Some((10L, 20L)), Some((10L, 20L)),
        Some(("de", "de")), Some(Set("de")), Some(Array(15L))),
        data("min_id" -> 12L, "max_id" -> 20L, "min_chars" -> 1L, "max_chars" -> 10L,
          "min_cat" -> "de", "max_cat" -> "de", "part_val" -> "de"), true),
      ("unconstrained, data", FileFilter(), data("min_id" -> 1L, "max_id" -> 2L), true),
      ("no kind column reads as data", id, row("min_id" -> 12L, "max_id" -> 14L), true),
      ("equality-delete row", FileFilter(), row("kind" -> "delete", "min_id" -> 1L,
        "max_id" -> 2L), false),
      ("position-delete row", id, row("kind" -> "posdelete", "min_id" -> lo,
        "max_id" -> hi), false))
    val wrong = cases.filter { case (_, f, r, want) => f.hits(r) != want }.map(_._1)
    assert(wrong.isEmpty, s"FileFilter.hits disagrees on: ${wrong.mkString(", ")}")
  }

  test("one pruned read: library, readSnapshot and DSv2 SQL agree on every pruning layout after MOR deletes; DSv2 plans the library's hits") {
    import SnapshotStore.{Cat, FileFilter, Keyed, Range, Z}
    val base = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val dePred = "lang = 'de'"
    val de = FileFilter(cat = Some(("de", "de")))
    val cases: Seq[(SnapshotStore.Layout, String, FileFilter,
        (String, Long) => org.apache.spark.sql.DataFrame)] = Seq(
      (Range, "doc_id BETWEEN 1 AND 60", FileFilter(id = Some((1L, 60L))),
        (root, k) => SnapshotStore.readRange(spark, root, k, 1L, 60L)),
      (Z, "doc_id BETWEEN 1 AND 60 AND n_chars BETWEEN 47 AND 110",
        FileFilter(id = Some((1L, 60L)), chars = Some((47L, 110L))),
        (root, k) => SnapshotStore.readRange2D(spark, root, k, 1L, 60L, 47L, 110L)),
      (Cat("lang"), dePred, de,
        (root, k) => SnapshotStore.readCat(spark, root, k, "de")),
      (Keyed(Some("lang"), None), dePred, FileFilter(partVals = Some(Set("de"))),
        (root, k) => SnapshotStore.readWhere(spark, root, k,
          FileFilter(partVals = Some(Set("de"))), expr(dePred))))
    for ((layout, pred, filter, library) <- cases) {
      val root = Files.createTempDirectory("graft_pruned_").toString + "/store"
      Seq(base.filter(pmod(col("doc_id"), lit(2)) === 0),
        base.filter(pmod(col("doc_id"), lit(2)) === 1))
        .foreach(SnapshotStore.append(spark, root, _, layout))
      SnapshotStore.deleteKeys(spark, root,
        base.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
      val k = SnapshotStore.deleteWhere(spark, root, pmod(col("doc_id"), lit(11)) === 0)
      val want = rows(SnapshotStore.readSnapshot(spark, root, k).filter(expr(pred)))
      assert(want.nonEmpty, s"$layout: $pred must select rows")
      assert(rows(library(root, k)) == want, s"$layout: library pruned read")
      val v = s"graft_pruned_${layout.toString.filter(_.isLetter).toLowerCase}"
      spark.read.format("graft.sources.SnapshotTableSource")
        .option("root", root).load().createOrReplaceTempView(v)
      assert(rows(spark.sql(s"SELECT * FROM $v WHERE $pred")) == want, s"$layout: DSv2 SQL")
      val (_, mrows) = SnapshotStore.manifestRowsOf(spark, root, k)
      val nData = mrows.count(_.getAs[String]("kind") == "data")
      val planned = SnapshotTableSource.lastPlannedFiles.get(root)
      assert(planned == mrows.count(filter.hits) && planned < nData,
        s"$layout: DSv2 planned $planned files, the library hits " +
          s"${mrows.count(filter.hits)} of $nData")
    }
  }
}
