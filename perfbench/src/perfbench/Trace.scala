package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` groups the spans of one benchmark
  * operation; `parent` is the id of the enclosing span (0 for a root).
  */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Benchmark-side tracing: spans around each call into a layer, kept in
  * memory and written out when the run ends. When disabled every call
  * runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val opIds = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextOp(): Long = opIds.incrementAndGet()

  /** Run `body` as a span; the body receives the span's id so that its
    * own calls can name it as their parent.
    */
  def span[T](name: String, layer: String, op: Long, parent: Long)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, layer, op, parent, t0, System.nanoTime()))
    }

  /** Tag the Spark jobs this thread launches with the op, so listener
    * events can be attributed to it.
    */
  def withOpGroup[T](spark: SparkSession, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(Tracer.groupOf(op), s"perfbench op $op")
      try body finally sc.clearJobGroup()
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val GroupPrefix = "perfbench-op-"
  def groupOf(op: Long): String = GroupPrefix + op
  def opOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)
}

/** Job, stage and task figures of the jobs launched under a perfbench op
  * group. The listener bus delivers events on one thread; readers call
  * [[org.apache.spark.PerfbenchBus.drain]] first.
  */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, op: Long, startMs: Long, var endMs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.opOf(group).foreach { op =>
      jobs += Job(e.jobId, op, e.time, -1L)
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageOp.contains(e.stageInfo.stageId)) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageOp.contains(e.stageId) && e.taskInfo != null) {
      tasks += 1
      taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Catalyst phase and rule times of every query execution that ends
  * while recording is on, read from `QueryExecution.tracker`.
  */
final class PlanListener extends QueryExecutionListener {
  @volatile var recording = false
  var queries = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var graftRuleNs = 0L
  var graftInvocations = 0L
  var graftEffective = 0L

  private def record(qe: QueryExecution): Unit = if (recording) synchronized {
    val t = qe.tracker
    def phase(p: String): Long = t.phases.get(p).map(_.durationMs).getOrElse(0L)
    queries += 1
    analysisMs += phase(QueryPlanningTracker.ANALYSIS)
    optimizerMs += phase(QueryPlanningTracker.OPTIMIZATION)
    planningMs += phase(QueryPlanningTracker.PLANNING)
    t.rules.foreach { case (rule, s) =>
      if (rule.startsWith("graft.")) {
        graftRuleNs += s.totalTimeNs
        graftInvocations += s.numInvocations
        graftEffective += s.numEffectiveInvocations
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
