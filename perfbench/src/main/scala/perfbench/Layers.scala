package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics every traced run reports, in one fixed list:
  * a workload that does not exercise a layer reports 0 for it, which is
  * itself the prediction ("no change here") for an optimisation of that
  * layer. Layers are graft's packages plus the Spark engine below them.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "functions.dedup.minhash_s" -> "s",
    "functions.dedup.verify_s" -> "s",
    "functions.dedup.candidate_pairs" -> "count",
    "functions.dedup.verified_pairs" -> "count",
    "functions.dedup.verify_yield" -> "ratio",
    "functions.textanalysis.gate_s" -> "s",
    "functions.retrieval.bm25_task_s" -> "s",
    "functions.retrieval.index_read_mb" -> "MB",
    "functions.retrieval.append_s" -> "s",
    "functions.retrieval.deltas" -> "count",
    "functions.ivf.topk_task_s" -> "s",
    "functions.ivf.cells_read_mb" -> "MB",
    "plans.topk.rows_in" -> "count",
    "plans.topk.rows_out" -> "count",
    "operators.cc.generations" -> "count",
    "operators.cc_s" -> "s",
    "operators.versioned.commit_s" -> "s",
    "pipeline.agg_jobs" -> "count",
    "pipeline.agg_queue_ms" -> "ms",
    "pipeline.agg_task_s" -> "s",
    "pipeline.agg_result_kb" -> "KB",
    "streaming.batch_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.plan_ms" -> "ms",
    "streaming.batch_rows" -> "count",
    "streaming.backlog_ticks" -> "count",
    "streaming.gen_late_ms" -> "ms",
    "streaming.index_deltas" -> "count",
    "sources.scan_mb" -> "MB",
    "sources.write_s" -> "s",
    "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s",
    "engine.shuffle_write_mb" -> "MB",
    "engine.spill_mb" -> "MB",
    "engine.sched_delay_s" -> "s",
    "engine.tasks" -> "count",
    "self_s.bench" -> "s",
    "self_s.sources" -> "s",
    "self_s.functions" -> "s",
    "self_s.operators" -> "s",
    "self_s.pipeline" -> "s",
    "self_s.streaming" -> "s",
    "self_s.engine" -> "s",
    "trace.overhead_pct" -> "%")

  private val MB = 1024.0 * 1024.0

  def spansNamed(t: Tracer, name: String): Seq[Span] =
    t.spans.asScala.toSeq.filter(_.name == name)

  def wallS(s: Span): Double = (s.end - s.start) / 1000.0

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  def meanOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Engine totals over the given work, divided by `ops`. */
  def engine(ws: Seq[Work], ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "engine.task_cpu_s" -> ws.map(_.cpuNs).sum / 1e9 / n,
      "engine.gc_s" -> ws.map(_.gcMs).sum / 1000.0 / n,
      "engine.shuffle_write_mb" -> ws.map(_.shuffleWrite).sum / MB / n,
      "engine.spill_mb" -> ws.map(_.spill).sum / MB / n,
      "engine.sched_delay_s" -> ws.map(_.schedMs).sum / 1000.0 / n,
      "engine.tasks" -> ws.map(_.tasks).sum / n,
      "sources.scan_mb" -> ws.map(_.inputBytes).sum / MB / n)
  }

  /** Self time per layer (seconds per traced operation). */
  def selfTimes(t: Tracer, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    t.selfTimes().map { case (layer, s) => s"self_s.$layer" -> s / n }
  }

  /** Fills `o.layer` with every metric in [[Names]], 0 where absent. */
  def fill(o: Outcome, vals: Map[String, Double]): Unit = {
    val unknown = vals.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    Names.foreach { case (n, u) => o.layer(n) = Metric(vals.getOrElse(n, 0.0), u) }
  }

  def mb(bytes: Long): Double = bytes / MB
}
