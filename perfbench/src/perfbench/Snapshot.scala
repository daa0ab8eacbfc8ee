package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.SnapshotStore

/** A seeded op stream on a fresh snapshot store, one client. Writes are
  * `append`, `mergeInto`, `deleteKeys` and `compact`; reads are
  * `readSnapshot`, `readRange`, `readDiff` and time travel. Every read's
  * row count is checked against an in-benchmark model of the stream.
  */
final class SnapshotWorkload(ctx: Ctx) extends Workload {
  private val a = ctx.args
  private val rng = new Random(a.seed)

  /** Op kinds cycle in a fixed order so every run measures the same mix;
    * the seed draws keys, rows and read parameters. Every 10th op is a
    * compaction.
    */
  private val Cycle = Vector("append", "read_snapshot", "merge", "read_range",
    "delete", "time_travel", "append", "read_diff")
  private val CompactEvery = 10
  private val AppendRows = 10000
  private val MergeRows = 2000
  private val DeleteRows = 500

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("cat", StringType),
    StructField("score", DoubleType),
    StructField("body", StringType)))
  private val cats = Vector("news", "sport", "économie", "culture", "科学", "música", "tech")

  // ---- the model: live keys now, and per snapshot its live-row count
  // and the rows it appended (0 for every other commit kind)
  private val live = new java.util.BitSet()
  private var nextId = 0L
  private val liveAt = mutable.HashMap.empty[Long, Long]
  private val appendedAt = mutable.HashMap.empty[Long, Long]
  private var current = 0L
  private var root: String = _
  private var writtenBytes = 0L
  /** Every write's input; the first is the base load. */
  private val inputs = mutable.ArrayBuffer.empty[DataFrame]

  private def row(id: Long): Row = {
    val body = Seq.fill(4 + rng.nextInt(6))(rng.alphanumeric.take(6).mkString).mkString(" ")
    Row(id, cats(rng.nextInt(cats.length)), rng.nextDouble() * 100, body)
  }

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def freshIds(n: Int): Seq[Long] = Seq.fill(n) { nextId += 1 + rng.nextInt(2); nextId }

  private def liveSample(n: Int): Seq[Long] = {
    val card = live.cardinality()
    val picked = mutable.LinkedHashSet.empty[Long]
    val want = math.min(n, card)
    while (picked.size < want) {
      var i = live.nextSetBit(rng.nextInt(nextId.toInt + 1))
      if (i < 0) i = live.nextSetBit(0)
      picked += i.toLong
    }
    picked.toSeq
  }

  private def commit(k: Long, appended: Long): Unit = {
    require(k == current + 1, s"commit produced snapshot $k after $current")
    current = k
    liveAt(k) = live.cardinality().toLong
    appendedAt(k) = appended
  }

  private def storeFiles(): Map[Path, Long] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.size(p)).toMap
    finally s.close()
  }

  private def doAppend(spark: SparkSession, ids: Seq[Long]): Long = {
    val df = frame(spark, ids.map(row))
    inputs += df
    ids.foreach(i => live.set(i.toInt))
    SnapshotStore.append(spark, root, df)
  }

  def setup(spark: SparkSession, round: Int): Unit = {
    // base load: a fresh store root holding one append
    root = ctx.dir(s"store/r$round").toString
    live.clear(); nextId = 0L; current = 0L
    liveAt.clear(); appendedAt.clear(); inputs.clear()
    val ids = freshIds(AppendRows)
    commit(doAppend(spark, ids), ids.length)
    val n = SnapshotStore.readSnapshot(spark, root, current).count()
    if (n != live.cardinality()) ctx.problems += s"base load reads $n rows, model ${live.cardinality()}"
  }

  /** One op of the stream: (kind, input maker, timed call, check). */
  private def op(spark: SparkSession, i: Int, trace: Tracer): Op = {
    val kind = if (i % CompactEvery == 0) "compact" else Cycle((i - 1) % Cycle.length)
    val opId = trace.nextOp()
    // inputs and expected answers are made before the clock starts
    var expect = -1L
    var after: Long => Unit = _ => ()
    val call: Long => Any = kind match {
      case "append" =>
        val ids = freshIds(AppendRows)
        val df = frame(spark, ids.map(row))
        inputs += df
        after = k => { ids.foreach(x => live.set(x.toInt)); commit(k, ids.length) }
        p => trace.span("SnapshotStore.append", "sources", opId, p)(_ =>
          SnapshotStore.append(spark, root, df))
      case "merge" =>
        val upd = liveSample(MergeRows * 3 / 4)
        val ins = freshIds(MergeRows / 4)
        val df = frame(spark, (upd ++ ins).map(row))
        inputs += df
        after = k => { ins.foreach(x => live.set(x.toInt)); commit(k, 0) }
        p => trace.span("SnapshotStore.mergeInto", "sources", opId, p)(_ =>
          SnapshotStore.mergeInto(spark, root, df))
      case "delete" =>
        val keys = liveSample(DeleteRows)
        val df = spark.createDataFrame(keys.map(Row(_)).asJava,
          StructType(Seq(StructField("doc_id", LongType, nullable = false))))
        inputs += df
        after = k => { keys.foreach(x => live.clear(x.toInt)); commit(k, 0) }
        p => trace.span("SnapshotStore.deleteKeys", "sources", opId, p)(_ =>
          SnapshotStore.deleteKeys(spark, root, df))
      case "compact" =>
        after = k => commit(k, 0)
        p => trace.span("SnapshotStore.compact", "sources", opId, p)(_ =>
          SnapshotStore.compact(spark, root))
      case "read_snapshot" =>
        expect = live.cardinality().toLong
        read(spark, trace, opId, "readSnapshot", SnapshotStore.readSnapshot(spark, root, current))
      case "read_range" =>
        val span = math.max(1L, nextId / 10)
        val lo = (rng.nextDouble() * (nextId - span)).toLong
        val hi = lo + span
        expect = live.get(lo.toInt, hi.toInt + 1).cardinality().toLong
        read(spark, trace, opId, "readRange", SnapshotStore.readRange(spark, root, current, lo, hi))
      case "time_travel" =>
        val k = 1L + rng.nextInt(math.max(1, (current - 1).toInt))
        expect = liveAt(k)
        read(spark, trace, opId, "readSnapshot(old)", SnapshotStore.readSnapshot(spark, root, k))
      case "read_diff" =>
        // rows one append added, as of that append: exactly its rows
        val appends = appendedAt.filter(_._2 > 0).keys.toVector.sorted
        val k = appends(rng.nextInt(appends.length))
        expect = appendedAt(k)
        read(spark, trace, opId, "readDiff", SnapshotStore.readDiff(spark, root, k - 1, k))
    }
    val before = if (expect < 0) storeFiles() else Map.empty[Path, Long]
    val t0 = System.nanoTime()
    val res = try Right(trace.withOpGroup(spark, opId) {
      trace.span(kind, "client", opId, 0L)(call)
    }) catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    val ok = res match {
      case Left(e) =>
        ctx.problems += s"op $i $kind threw: $e"
        false
      case Right(v) if expect >= 0 =>
        val got = v.asInstanceOf[Long]
        if (got != expect) ctx.problems += s"op $i $kind read $got rows, model $expect"
        got == expect
      case Right(v) =>
        after(v.asInstanceOf[Long])
        writtenBytes += storeFiles().collect {
          case (p, b) if before.get(p).forall(_ != b) => b
        }.sum
        true
    }
    Op(if (expect >= 0) s"read:$kind" else s"write:$kind", t0, t1, ok)
  }

  /** A read: the source call that returns the DataFrame, then its count. */
  private def read(spark: SparkSession, trace: Tracer, opId: Long, name: String,
      build: => DataFrame): Long => Any = p => {
    val df = trace.span(s"SnapshotStore.$name", "sources", opId, p)(_ => build)
    trace.span("count", "action", opId, p)(_ => df.count())
  }

  def measure(spark: SparkSession, deadlineNs: Long): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    var i = 1
    while (System.nanoTime() < deadlineNs) {
      ops += op(spark, i, ctx.tracer)
      ctx.opDone(spark)
      i += 1
    }
    ops.toSeq
  }

  def after(spark: SparkSession, ops: Seq[Op]): (Map[String, Double], Map[String, Double]) = {
    // the write inputs once more, as plain parquet: the amplification base
    def plainBytes(name: String, dfs: Seq[DataFrame]): Long =
      if (dfs.isEmpty) 0L
      else {
        val d = ctx.dir(s"plain_inputs/$name")
        dfs.reduce(_ unionByName (_, allowMissingColumns = true))
          .write.mode("overwrite").parquet(d.toString)
        Stats.du(d, _.toString.endsWith(".parquet"))._1
      }
    val baseBytes = plainBytes("base", inputs.take(1).toSeq)
    val timedBytes = plainBytes("timed", inputs.drop(1).toSeq)
    val inputBytes = baseBytes + timedBytes
    val (storeBytes, _) = Stats.du(java.nio.file.Paths.get(root))
    val (_, dataFiles) = Stats.du(java.nio.file.Paths.get(root, "data"), _.toString.endsWith(".parquet"))
    val (_, manifestFiles) = Stats.du(java.nio.file.Paths.get(root, "manifests"), _.toString.endsWith(".parquet"))
    val writes = ops.filter(_.kind.startsWith("write:"))
    val reads = ops.filter(_.kind.startsWith("read:"))
    val report = mutable.LinkedHashMap[String, Double](
      "write_p50_ms" -> Stats.medianOrZero(writes.map(_.ms)),
      "read_p50_ms" -> Stats.medianOrZero(reads.map(_.ms)),
      "write_amp" -> writtenBytes.toDouble / timedBytes,
      "space_amp" -> storeBytes.toDouble / inputBytes,
      "snapshots" -> current.toDouble,
      "live_rows" -> live.cardinality().toDouble)
    ops.groupBy(_.kind).foreach { case (k, os) => report(s"${k}_p50_ms") = Stats.median(os.map(_.ms)) }
    if (a.trace) {
      val spans = ctx.tracer.all
      def per(name: String) = Stats.medianOrZero(spans.filter(_.name == name).map(_.ms))
      report("sources.append_ms") = per("SnapshotStore.append")
      report("sources.merge_ms") = per("SnapshotStore.mergeInto")
      report("sources.delete_ms") = per("SnapshotStore.deleteKeys")
      report("sources.compact_ms") = per("SnapshotStore.compact")
      report("sources.read_build_ms") = Stats.medianOrZero(spans.filter(s =>
        s.layer == "sources" && s.name.startsWith("SnapshotStore.read")).map(_.ms))
      report("sources.read_exec_ms") = per("count")
    }
    val layer = Map(
      "sources.artifact_mb" -> storeBytes / Stats.MB,
      "sources.data_files" -> dataFiles.toDouble,
      "sources.manifest_files" -> manifestFiles.toDouble)
    (report.toMap, layer)
  }
}
