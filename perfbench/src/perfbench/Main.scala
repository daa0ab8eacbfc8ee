package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.Engine

/** Command line of one benchmark run (see run.py, which builds the
  * program and launches this main).
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    out: Path, scratch: Path, data: String, nproc: Int)

/** One timed operation of the measured phase. */
final case class Op(kind: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What every workload shares: its arguments, the tracer, and the
  * storage sampler the traced run calls after each op.
  */
final class Ctx(val args: Args) {
  val tracer = new Tracer(args.trace)
  val master = s"local[${args.nproc}]"
  /** Correctness problems found outside an op (failed checks of inputs
    * or expected answers); any entry makes the run incorrect.
    */
  val problems = mutable.ArrayBuffer.empty[String]
  @volatile var cachePeakBytes = 0L

  def opDone(spark: SparkSession): Unit = if (args.trace) {
    val b = Main.cachedBytes(spark)._1
    synchronized { if (b > cachePeakBytes) cachePeakBytes = b }
  }

  def dir(name: String): Path = {
    val d = args.scratch.resolve(name)
    Files.createDirectories(d)
    d
  }
}

/** A workload: inputs made from the seed, a set-up that is repeated and
  * timed, a measured phase, and checks after it.
  */
trait Workload {
  /** Make the seeded inputs (not part of any timing). */
  def prepare(): Unit = ()
  /** Warm-up and base load on a fresh session; `round` counts from 1. */
  def setup(spark: SparkSession, round: Int): Unit
  /** Work that must precede timing but is not set-up (expected answers). */
  def beforeMeasure(spark: SparkSession): Unit = ()
  /** Run ops until `deadlineNs`. */
  def measure(spark: SparkSession, deadlineNs: Long): Seq[Op]
  /** Workload figures taken after timing: (report entries, per-layer
    * entries). Both maps are always filled with every key.
    */
  def after(spark: SparkSession, ops: Seq[Op]): (Map[String, Double], Map[String, Double])
}

object Main {
  val SetupRounds = 5

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("out")), Paths.get(need("scratch")),
      need("data"), need("nproc").toInt)
  }

  /** (memory + disk bytes, number) of the cached RDD blocks. */
  def cachedBytes(spark: SparkSession): (Long, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (infos.map(i => i.memSize + i.diskSize).sum, infos.length)
  }

  def heapRetainedBytes(): Long = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.out)
    val ctx = new Ctx(a)
    val wl: Workload = a.workload match {
      case "rumor_requests" => new RumorWorkload(ctx)
      case "batch_sf01" => new BatchWorkload(ctx)
      case "snapshot_rw" => new SnapshotWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val tStart = System.nanoTime()
    wl.prepare()
    val tPrepared = System.nanoTime()

    // set-up: session creation, warm-up and base load, repeated on fresh
    // sessions; the last round's session is the measured one
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 1 to SetupRounds) {
      val t0 = System.nanoTime()
      spark = Engine.session(ctx.master, "perfbench")
      val t1 = System.nanoTime()
      wl.setup(spark, r)
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      if (r < SetupRounds) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val tSetUp = System.nanoTime()
    wl.beforeMeasure(spark)
    val tReady = System.nanoTime()

    val exec = new ExecListener
    val plans = new PlanListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(plans)
      PerfbenchBus.drain(spark.sparkContext)
      plans.recording = true
    }
    // epoch-ms listener times onto the nanoTime axis of the spans
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val t0 = System.nanoTime()
    val ops = wl.measure(spark, t0 + a.seconds * 1000000000L)
    val wallNs = System.nanoTime() - t0
    if (a.trace) {
      PerfbenchBus.drain(spark.sparkContext)
      plans.recording = false
    }
    val (cached, cachedRdds) = cachedBytes(spark)
    val heap = heapRetainedBytes()
    val tAfter = System.nanoTime()
    val (report, layerExtra) = wl.after(spark, ops)
    val tDone = System.nanoTime()

    val n = ops.length
    val failed = ops.count(!_.ok)
    val lat = ops.map(_.ms)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setupS.toSeq), "s"),
      "ops_per_s" -> (n / (wallNs / 1e9), "1/s"),
      "latency_p50_ms" -> (Stats.percentile(lat, 50), "ms"),
      "latency_p90_ms" -> (Stats.percentile(lat, 90), "ms"),
      "heap_retained_mb" -> (heap / Stats.MB, "MB"))

    val rep = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> a.nproc, "master" -> ctx.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / Stats.MB,
      "ops" -> n, "failed" -> failed, "failed_frac" -> failed.toDouble / n,
      "wall_s" -> wallNs / 1e9, "setup_samples_s" -> setupS.toSeq,
      "session_samples_s" -> sessionS.toSeq,
      "phase_s" -> mutable.LinkedHashMap("prepare" -> (tPrepared - tStart) / 1e9,
        "setup" -> (tSetUp - tPrepared) / 1e9, "before_measure" -> (tReady - tSetUp) / 1e9,
        "measure" -> wallNs / 1e9, "after" -> (tDone - tAfter) / 1e9),
      "cached_mb" -> cached / Stats.MB, "cached_rdds" -> cachedRdds,
      "op_latencies" -> ops.map(o => Seq(o.kind, (o.startNs - t0) / 1e9, o.ms)),
      "problems" -> ctx.problems.toSeq)
    rep ++= report

    val metrics: collection.Map[String, (Double, String)] =
      if (!a.trace) e2e
      else {
        val spans = ctx.tracer.all
        val layers = new Layers(spans, exec, epochOffsetNs, n)
        Files.writeString(a.out.resolve("spans.jsonl"), layers.spansJsonl)
        val table = layers.table(plans)
        Files.writeString(a.out.resolve("layers.txt"), table)
        System.err.print(table)
        val m = mutable.LinkedHashMap[String, (Double, String)]()
        def per(v: Double) = v / n
        m("engine.session_s") = (Stats.median(sessionS.toSeq), "s")
        m("operators.build_ms") = (per(layers.totalMs("operators")), "ms")
        m("operators.build_jobs") = (per(layers.jobsUnder("operators").toDouble), "count")
        m("plans.analysis_ms") = (per(plans.analysisMs.toDouble), "ms")
        m("plans.optimizer_ms") = (per(plans.optimizerMs.toDouble), "ms")
        m("plans.planning_ms") = (per(plans.planningMs.toDouble), "ms")
        m("plans.graft_rules_ms") = (per(plans.graftRuleNs / 1e6), "ms")
        m("plans.graft_rules_effective_frac") = (
          if (plans.graftInvocations == 0) 0.0
          else plans.graftEffective.toDouble / plans.graftInvocations, "ratio")
        m("exec.jobs") = (per(exec.jobs.length.toDouble), "count")
        m("exec.stages") = (per(exec.stages.toDouble), "count")
        m("exec.tasks") = (per(exec.tasks.toDouble), "count")
        m("exec.task_ms") = (per(exec.taskMs.toDouble), "ms")
        m("exec.task_cpu_ms") = (per(exec.taskCpuNs / 1e6), "ms")
        m("exec.gc_ms") = (per(exec.gcMs.toDouble), "ms")
        m("exec.busy_frac") = (exec.taskMs / (wallNs / 1e6 * a.nproc), "ratio")
        m("exec.driver_only_ms") = (per(wallNs / 1e6 - layers.jobUnionMs(t0, t0 + wallNs)), "ms")
        m("exec.shuffle_write_mb") = (per(exec.shuffleWriteBytes / Stats.MB), "MB")
        m("exec.shuffle_read_mb") = (per(exec.shuffleReadBytes / Stats.MB), "MB")
        m("exec.spill_mb") = (per(exec.spillBytes / Stats.MB), "MB")
        m("exec.input_mb") = (per(exec.inputBytes / Stats.MB), "MB")
        m("exec.output_mb") = (per(exec.outputBytes / Stats.MB), "MB")
        m("cache.mem_mb_peak") = (math.max(ctx.cachePeakBytes, cached) / Stats.MB, "MB")
        m("cache.rdds") = (cachedRdds.toDouble, "count")
        Layers.extraUnits.foreach { case (k, unit) => m(k) = (layerExtra(k), unit) }
        rep("layers") = layers.summary(plans)
        m
      }
    rep("end_to_end") = e2e.map { case (k, (v, _)) => k -> v }
    Files.writeString(a.out.resolve("report.json"), Json.render(rep) + "\n")

    val correct = failed == 0 && ctx.problems.isEmpty
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> n, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })
    Files.writeString(a.out.resolve("result.json"), Json.render(result) + "\n")
    spark.stop()
  }
}
