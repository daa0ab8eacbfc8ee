package perfbench

import scala.collection.mutable

/** The traced run's per-layer view: the benchmark's spans plus one
  * `exec` span per Spark job (from the listener, attributed to its op
  * through the job group and parented on the innermost span of that op
  * that covers the job's start). A layer's self time is the time its
  * spans cover minus the part their child spans cover.
  */
final class Layers(bench: Seq[Span], exec: ExecListener, epochOffsetNs: Long, ops: Int) {

  private val jobSpans: Seq[Span] = {
    val byOp = bench.groupBy(_.op)
    exec.jobs.toSeq.filter(_.endMs >= 0).map { j =>
      val s = j.startMs * 1000000L - epochOffsetNs
      val e = math.max(s, j.endMs * 1000000L - epochOffsetNs)
      val parent = byOp.getOrElse(j.op, Nil)
        .filter(p => p.startNs <= s && s <= p.endNs)
        .sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(0L)
      Span(-j.id.toLong - 1, s"job ${j.id}", "exec", j.op, parent, s, e)
    }
  }

  val spans: Seq[Span] = (bench ++ jobSpans).sortBy(_.startNs)
  private val children = spans.groupBy(_.parent)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    covered
  }

  private def selfNs(s: Span): Long =
    (s.endNs - s.startNs) -
      unionNs(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)

  def totalMs(layer: String): Double =
    spans.filter(_.layer == layer).map(_.ms).sum

  /** Jobs whose parent span belongs to `layer`. */
  def jobsUnder(layer: String): Int = {
    val ids = spans.filter(_.layer == layer).map(_.id).toSet
    jobSpans.count(j => ids(j.parent))
  }

  /** Wall time within [lo, hi] during which at least one job ran. */
  def jobUnionMs(lo: Long, hi: Long): Double =
    unionNs(jobSpans.map(j => (j.startNs, j.endNs)), lo, hi) / 1e6

  def spansJsonl: String = spans.map { s =>
    Json.render(mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
      "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }.mkString("", "\n", "\n")

  private def rows: Seq[(String, Int, Double, Double)] =
    spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      (layer, ss.length, ss.map(_.ms).sum, ss.map(selfNs).sum / 1e6)
    }.sortBy(-_._4)

  def summary(plans: PlanListener): Map[String, Any] =
    rows.map { case (layer, n, total, self) =>
      layer -> Map("spans" -> n, "total_ms" -> total, "self_ms" -> self,
        "self_ms_per_op" -> self / ops)
    }.toMap + ("plans" -> Map("queries" -> plans.queries,
      "total_ms" -> (plans.analysisMs + plans.optimizerMs + plans.planningMs).toDouble))

  def table(plans: PlanListener): String = {
    val sb = new StringBuilder
    sb.append(f"${"layer"}%-12s ${"spans"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"self/op"}%10s\n")
    rows.foreach { case (layer, n, total, self) =>
      sb.append(f"$layer%-12s $n%7d $total%12.1f $self%12.1f ${self / ops}%10.2f\n")
    }
    val p = plans.analysisMs + plans.optimizerMs + plans.planningMs
    sb.append(f"${"plans"}%-12s ${plans.queries}%7d ${p.toDouble}%12.1f ${"(in driver)"}%12s\n")
    sb.toString
  }
}

object Layers {
  /** Per-layer metrics each workload fills (0 where a layer holds none). */
  val extraUnits: Seq[(String, String)] = Seq(
    "sources.artifact_mb" -> "MB",
    "sources.data_files" -> "count",
    "sources.manifest_files" -> "count")
}
