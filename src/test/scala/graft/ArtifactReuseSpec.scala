package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SimIndex, StandingIndex}

/** Cross-session artifact reuse (VERDICT r11 item 1): a standing
  * artifact whose stored corpus signature matches the current corpus is
  * REUSED — no rebuild — while any corpus change (and any partial build,
  * which by the meta-last discipline has no valid signature) forces the
  * rebuild the old rebuild-always scheme guaranteed.
  *
  * "New session" is replayed via the `ensureValidated` hooks (the exact
  * step a fresh session's first lookup runs, minus the per-session
  * latch), against a PRIVATE tmp corpus this spec owns, so it can
  * regenerate the fixture the way the driver would — the
  * EngineResilienceSpec lesson applied at artifact granularity.
  */
class ArtifactReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  /** Newest mtime of any regular file under root (0 if absent) — the
    * rebuild witness: an untouched artifact keeps its newest mtime.
    */
  private def newestMtime(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.getLastModifiedTime(_).toMillis).foldLeft(0L)(math.max)
  }

  /** A private copy of the sf0.001 documents corpus this spec may
    * regenerate.
    */
  private def mkCorpus(): String = {
    val d = Files.createTempDirectory("graft_reuse_").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$d/documents.parquet"))
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      Paths.get(s"$d/embeddings.parquet"))
    d
  }

  /** Replace the corpus with a one-doc-edited regen (doc 1 gains a
    * suffix) — the smallest change a content signature must catch.
    */
  private def poisonCorpus(dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text",
        when(col("doc_id") === 1L, concat(col("text"), lit(" POISON")))
          .otherwise(col("text")))
      .collect()
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val regen = spark.createDataFrame(
      new java.util.ArrayList(docs.toSeq.asJava), schema)
    Files.delete(Paths.get(s"$dir/documents.parquet"))
    regen.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
  }

  test("positional index: matching signature reuses; edited corpus rebuilds") {
    val dir = mkCorpus()
    val root = StandingIndex.indexRoot(dir)
    StandingIndex.ensureValidated(spark, dir) // session 1: builds
    val built = newestMtime(root)
    assert(built > 0L)
    val lookupBefore = StandingIndex.bm25Lookup(spark, root)
      .collect().map(_.toString).toSeq
    Thread.sleep(1100)
    StandingIndex.ensureValidated(spark, dir) // session 2: must reuse
    assert(newestMtime(root) == built,
      "fresh artifact was rebuilt instead of reused")
    // the reused artifact answers identically
    assert(StandingIndex.bm25Lookup(spark, root)
      .collect().map(_.toString).toSeq == lookupBefore)
    poisonCorpus(dir)
    Thread.sleep(1100)
    StandingIndex.ensureValidated(spark, dir) // session 3: must rebuild
    assert(newestMtime(root) > built,
      "edited corpus did not trigger a rebuild")
    // and the rebuilt artifact is self-consistent: stored manifest ==
    // manifest recomputed from the regenerated raw corpus
    val stored = StandingIndex.manifestOf(
      StandingIndex.readPostings(spark, root))
    val fromRaw = StandingIndex.manifestOf(StandingIndex.postingsOf(
      Engine.table(spark, dir, "documents")
        .withColumn("tok", expr(graft.operators.LlmOps.toksS))))
    assert(Canonical.hash(stored) == Canonical.hash(fromRaw))
  }

  test("positional index: a new session revalidates a fresh index with no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.Bridge
    val dir = mkCorpus()
    val root = StandingIndex.indexRoot(dir)
    StandingIndex.ensureValidated(spark, dir) // session 1: builds
    val built = newestMtime(root)
    assert(built > 0L)
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      Bridge.drainListenerBus(spark)
      val before = started.get
      body
      Bridge.drainListenerBus(spark)
      started.get - before
    }
    def newSession(): SparkSession = {
      val s2 = spark.newSession(); Engine.install(s2); s2
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(1100)
      val jobs = jobsOf(StandingIndex.ensure(newSession(), dir)) // session 2
      assert(jobs == 0, s"revalidating an unchanged corpus ran $jobs Spark jobs")
      assert(newestMtime(root) == built, "fresh artifact was rebuilt instead of reused")
      poisonCorpus(dir)
      Thread.sleep(1100)
      val rescan = jobsOf(StandingIndex.ensure(newSession(), dir)) // session 3
      assert(rescan > 0, "an edited corpus must be rescanned")
      assert(newestMtime(root) > built, "edited corpus did not trigger a rebuild")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("shard store: matching signature reuses; edited corpus rewrites") {
    import graft.sources.TrainingShards
    val dir = mkCorpus()
    val out = TrainingShards.shardOutDir(dir)
    TrainingShards.ensureShardsValidated(spark, dir) // session 1: writes
    val built = newestMtime(out)
    assert(built > 0L)
    val rowsBefore = TrainingShards.readBack(spark, out).count()
    Thread.sleep(1100)
    TrainingShards.ensureShardsValidated(spark, dir) // session 2: reuses
    assert(newestMtime(out) == built,
      "fresh shard store was rewritten instead of reused")
    poisonCorpus(dir)
    Thread.sleep(1100)
    TrainingShards.ensureShardsValidated(spark, dir) // session 3: rewrites
    assert(newestMtime(out) > built,
      "edited corpus did not trigger a shard rewrite")
    assert(TrainingShards.readBack(spark, out).count() == rowsBefore)
    // rewritten store carries the poisoned text (content, not just mtime)
    assert(TrainingShards.readBack(spark, out)
      .filter(col("text").endsWith(" POISON")).count() == 1L)
  }

  test("clustered store: matching signature reuses; edited corpus re-clusters") {
    import graft.sources.ClusteredStore
    val dir = mkCorpus()
    val root = ClusteredStore.clsRoot(dir)
    ClusteredStore.ensureClusteredValidated(spark, dir) // session 1: builds
    val built = newestMtime(root)
    assert(built > 0L)
    Thread.sleep(1100)
    ClusteredStore.ensureClusteredValidated(spark, dir) // session 2: reuses
    assert(newestMtime(root) == built,
      "fresh clustered store was rebuilt instead of reused")
    poisonCorpus(dir)
    Thread.sleep(1100)
    ClusteredStore.ensureClusteredValidated(spark, dir) // session 3: rebuilds
    assert(newestMtime(root) > built,
      "edited corpus did not trigger a re-cluster")
    // zone stats still describe the rewritten files exactly
    val stored = spark.read.parquet(s"$root/zones")
      .collect().map(_.toString).sorted.toSeq
    val recomputed = spark.read.parquet(s"$root/data")
      .groupBy(col("zid"))
      .agg(min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        count(lit(1)).as("n_docs"))
      .collect().map(_.toString).sorted.toSeq
    assert(stored == recomputed && stored.nonEmpty)
  }

  test("incremental artifact: reuse follows the same signature") {
    val dir = mkCorpus()
    val incRoot = StandingIndex.ensureIncremental(spark, dir)
    val built = newestMtime(incRoot)
    assert(built > 0L)
    Thread.sleep(1100)
    // replay a new session's validation directly (the latch would
    // short-circuit in this one)
    val sig = StandingIndex.inputSig(spark, dir, Seq("documents"))
    assert(StandingIndex.metaFresh(spark, incRoot, sig),
      "incremental artifact must carry a fresh meta row")
    poisonCorpus(dir)
    assert(!StandingIndex.metaFresh(spark, incRoot,
      StandingIndex.inputSig(spark, dir, Seq("documents"))),
      "signature must flip when the corpus changes")
  }

  test("ivf quantizer artifact: reuse on match; edited embeddings rebuild") {
    import graft.operators.LlmOps
    val dir = mkCorpus()
    val root = LlmOps.ensureIvfArtifact(spark, dir) // session 1: builds
    val built = newestMtime(root)
    assert(built > 0L)
    val cents = spark.read.parquet(s"$root/centroids")
      .collect().map(_.toString).sorted.toSeq
    assert(cents.nonEmpty)
    Thread.sleep(1100)
    LlmOps.ensureIvfArtifact(spark, dir) // session 2: must reuse
    assert(newestMtime(root) == built,
      "fresh quantizer was retrained instead of reused")
    // poison ONE float of ONE embedding — the content signature (over
    // vec_id + the full vector) must flip and retrain
    val e = spark.read.parquet(s"$dir/embeddings.parquet").collect()
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val edited = e.map { r =>
      if (r.getLong(0) == 0L) {
        val v = r.getSeq[Float](1).toArray
        v(0) = v(0) + 1.0f
        org.apache.spark.sql.Row(r.getLong(0), v.toSeq, r.get(2))
      } else r
    }
    val regen = spark.createDataFrame(
      new java.util.ArrayList(edited.toSeq.asJava), schema)
    Files.delete(Paths.get(s"$dir/embeddings.parquet"))
    regen.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    Thread.sleep(1100)
    LlmOps.ensureIvfArtifact(spark, dir) // session 3: must retrain
    assert(newestMtime(root) > built,
      "edited embeddings did not trigger a quantizer retrain")
  }

  test("pq artifacts (plain + residual): reuse on match; edited embeddings retrain") {
    import graft.operators.LlmOps
    import graft.sources.StandingIndex
    val dir = mkCorpus()
    val pqRoot = LlmOps.ensurePqArtifact(spark, dir)
    val pqrRoot = LlmOps.ensurePqrArtifact(spark, dir)
    val (bPq, bPqr) = (newestMtime(pqRoot), newestMtime(pqrRoot))
    assert(bPq > 0L && bPqr > 0L)
    // stored index shapes: PqM x PqK codebook rows; PqM codes per vector
    val nCb = spark.read.parquet(s"$pqRoot/codebooks").count()
    assert(nCb == LlmOps.PqM.toLong * LlmOps.PqK)
    val codes = spark.read.parquet(s"$pqRoot/codes")
    val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(codes.count() == nVec * LlmOps.PqM)
    Thread.sleep(1100)
    LlmOps.ensurePqArtifact(spark, dir) // session 2: must reuse
    LlmOps.ensurePqrArtifact(spark, dir)
    assert(newestMtime(pqRoot) == bPq && newestMtime(pqrRoot) == bPqr,
      "fresh pq artifact was retrained instead of reused")
    // the same one-float embedding poison the ivf test uses must flip
    // BOTH pq signatures (they key on the embeddings table)
    val sigBefore = StandingIndex.inputSig(spark, dir, Seq("embeddings"))
    val e = spark.read.parquet(s"$dir/embeddings.parquet").collect()
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val edited = e.map { r =>
      if (r.getLong(0) == 0L) {
        val v = r.getSeq[Float](1).toArray
        v(0) = v(0) + 1.0f
        org.apache.spark.sql.Row(r.getLong(0), v.toSeq, r.get(2))
      } else r
    }
    val regen = spark.createDataFrame(
      new java.util.ArrayList(edited.toSeq.asJava), schema)
    Files.delete(Paths.get(s"$dir/embeddings.parquet"))
    regen.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    assert(StandingIndex.inputSig(spark, dir, Seq("embeddings")) != sigBefore)
    Thread.sleep(1100)
    LlmOps.ensurePqArtifact(spark, dir) // session 3: must retrain
    LlmOps.ensurePqrArtifact(spark, dir)
    assert(newestMtime(pqRoot) > bPq && newestMtime(pqrRoot) > bPqr,
      "edited embeddings did not retrain the pq artifacts")
  }

  test("planner stats artifact: reuse on match; edited profiled table rebuilds") {
    import graft.operators.JoinPlanner
    // private corpus with every table the ANALYZE pass profiles
    val dir = Files.createTempDirectory("graft_jpstats_").toString
    Seq("customer", "nation", "events", "orders", "lineitem", "part",
      "supplier").foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$dir/$t.parquet"))
    }
    val root = JoinPlanner.statsRoot(dir)
    JoinPlanner.ensureStatsValidated(spark, dir) // session 1: ANALYZE + persist
    val built = newestMtime(root)
    assert(built > 0L)
    val stored = spark.read.parquet(s"$root/stats")
      .collect().map(_.toString).sorted.toSeq
    assert(stored.nonEmpty)
    Thread.sleep(1100)
    JoinPlanner.ensureStatsValidated(spark, dir) // session 2: must reuse
    assert(newestMtime(root) == built,
      "fresh stats artifact was re-ANALYZEd instead of reused")
    // poison one orders row — the all-columns table signature flips
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val schema = o.schema
    val edited = o.withColumn("o_orderpriority",
      when(col("o_orderkey") === o.select(min(col("o_orderkey"))).head().get(0),
        lit("POISONED-PRIORITY-MUCH-LONGER")).otherwise(col("o_orderpriority")))
      .collect()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$dir/orders.parquet"))
    spark.createDataFrame(
      new java.util.ArrayList(edited.toSeq.asJava), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Thread.sleep(1100)
    JoinPlanner.ensureStatsValidated(spark, dir) // session 3: must rebuild
    assert(newestMtime(root) > built,
      "edited profiled table did not trigger a re-ANALYZE")
    // rebuilt stats differ exactly where the poison landed (orders
    // bytes grew), everything else byte-identical
    val rebuilt = spark.read.parquet(s"$root/stats")
      .collect().map(_.toString).sorted.toSeq
    assert(rebuilt != stored)
    assert(rebuilt.filterNot(_.contains("orders")) ==
      stored.filterNot(_.contains("orders")))
  }

  test("sim index: reuse on match; missing meta (partial build) rebuilds") {
    val dir = mkCorpus()
    val root = SimIndex.indexRoot(dir)
    SimIndex.ensureValidated(spark, dir)
    val built = newestMtime(root)
    assert(built > 0L)
    Thread.sleep(1100)
    SimIndex.ensureValidated(spark, dir)
    assert(newestMtime(root) == built,
      "fresh sim artifact was rebuilt instead of reused")
    // a build that died before its meta-last write leaves no valid
    // signature — the next session must rebuild, not trust the partial
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$root/meta"))
    Thread.sleep(1100)
    SimIndex.ensureValidated(spark, dir)
    assert(newestMtime(root) > built,
      "metaless (partial) artifact must rebuild")
  }

  /** A family written on the primitive: the once-per-session latch
    * around a [[StandingIndex.refresh]] of `sig` salted by `layout`.
    */
  private def ensureFamily(s: SparkSession, root: String, sig: => (Long, Long),
      layout: Long)(build: => Unit): String =
    StandingIndex.ensureArtifact(s, root)(
      StandingIndex.refresh(s, root, StandingIndex.withLayout(sig, layout))(build))

  test("ensureArtifact: same data under a bumped layout rebuilds") {
    val dir = mkCorpus()
    val root = Files.createTempDirectory("graft_layout_").toString
    var builds = 0
    def ensure(s: SparkSession, layout: Long): Unit =
      ensureFamily(s, root, StandingIndex.inputSig(s, dir, Seq("documents")), layout) {
        builds += 1
      }
    def newSession(): SparkSession = {
      val s2 = spark.newSession(); Engine.install(s2); s2
    }
    ensure(spark, 1L)
    assert(builds == 1)
    ensure(newSession(), 1L) // same data, same layout: reused
    assert(builds == 1, "a fresh artifact was rebuilt")
    ensure(newSession(), 2L) // same data, bumped layout
    assert(builds == 2, "a layout bump did not rebuild")
    assert(StandingIndex.metaFresh(spark, root,
      StandingIndex.withLayout(StandingIndex.inputSig(spark, dir, Seq("documents")), 2L)))
  }

  test("ensureArtifact: a build that throws leaves no meta row and no latch") {
    val root = Files.createTempDirectory("graft_torn_").toString
    val sig = (3L, 7L)
    val err = intercept[IllegalStateException] {
      ensureFamily(spark, root, sig, 1L) {
        spark.range(3).write.mode("overwrite").parquet(s"$root/data")
        throw new IllegalStateException("build died partway")
      }
    }
    assert(err.getMessage == "build died partway")
    assert(StandingIndex.readMeta(spark, root).isEmpty,
      "a torn build must leave no meta row")
    var builds = 0
    ensureFamily(spark, root, sig, 1L) { builds += 1 }
    assert(builds == 1, "the same session must retry a torn build")
    assert(StandingIndex.metaFresh(spark, root, StandingIndex.withLayout(sig, 1L)))
  }

  test("ensureArtifact: the signature is evaluated once per session") {
    val root = Files.createTempDirectory("graft_latch_").toString
    var evals = 0
    def sig: (Long, Long) = { evals += 1; (5L, 11L) }
    ensureFamily(spark, root, sig, 0L)(())
    ensureFamily(spark, root, sig, 0L)(())
    assert(evals == 1, "a latched call must not evaluate the signature")
    ensureFamily(spark.newSession(), root, sig, 0L)(())
    assert(evals == 2, "a new session must revalidate")
  }

  test("composed snapshot store (q251): reused across sessions; edited corpus rebuilds") {
    import graft.sources.SnapshotStore
    val dir = mkCorpus()
    val root = SnapshotStore.ensureComposed(spark, dir)
    val built = newestMtime(root)
    assert(built > 0L)
    Thread.sleep(1100)
    val s2 = spark.newSession()
    Engine.install(s2)
    assert(SnapshotStore.ensureComposed(s2, dir) == root)
    assert(newestMtime(root) == built,
      "fresh composed store was rebuilt instead of reused")
    poisonCorpus(dir)
    Thread.sleep(1100)
    val s3 = spark.newSession()
    Engine.install(s3)
    SnapshotStore.ensureComposed(s3, dir)
    assert(newestMtime(root) > built,
      "edited corpus did not trigger a rebuild")
    assert(SnapshotStore.composedSpecOf(s3, root, 2L)
      .contains(("lang", 8, "doc_id")))
  }
}
