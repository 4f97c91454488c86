package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval at a layer boundary, recorded by the benchmark
  * around its own calls into graft. Times are epoch milliseconds, the
  * clock Spark's listener events use, so job and task intervals can be
  * set against spans.
  */
final class Span(val id: Long, val name: String, val layer: String, val parent: Long,
                 val req: Long, val start: Long) {
  @volatile var end: Long = -1L
}

/** Work Spark did for one attribution key (a span's job group, a
  * pipeline's job group or a streaming batch), summed from listener
  * events.
  */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var resultBytes = 0L
  var firstLaunch = Long.MaxValue
  var topkRowsIn = 0L
  var topkRowsOut = 0L
  var heads = 0L
  val jobIntervals = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
}

/** Spans plus attribution of Spark's own accounting to them, from
  * outside graft: a SparkListener (tasks, CPU, GC, shuffle, spill,
  * rows), a QueryExecutionListener (SQL metrics of executed plans) and
  * a StreamingQueryListener (micro-batches). Built only for a traced
  * run; an untraced run has no listener and sets no job group.
  *
  * A span records only while its thread is active ([[active]]), so a
  * traced run can interleave traced and untraced operations and
  * measure the tracing overhead as the difference between them.
  */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicLong
  private val cur = new ThreadLocal[Span]
  private val activeTl = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  val spans = new ConcurrentLinkedQueue[Span]
  private val work = new ConcurrentHashMap[String, Work]
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val jobKey = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  /** SQL-metric accumulator id → key, from the stages that updated it:
    * the link from an executed plan back to the span that ran it.
    */
  private val accKey = new ConcurrentHashMap[Long, String]
  /** Job groups graft sets itself (pipeline actions) → owning span. */
  private val groupSpan = new ConcurrentHashMap[String, java.lang.Long]
  /** Spans of the traced streaming batches, one per progress event. */
  val batchSpans = new ConcurrentLinkedQueue[Span]
  @volatile var streamActive: Long => Boolean = _ => false

  def active: Boolean = activeTl.get
  def setActive(on: Boolean): Unit = activeTl.set(on)

  private def workFor(key: String): Work = work.computeIfAbsent(key, _ => new Work)

  /** Runs `body` inside a span; a no-op wrapper when this thread is not
    * active. Sets the thread's job group to the span, so the jobs the
    * call submits are attributed to it.
    */
  def span[A](name: String, layer: String, req: Long = -1L)(body: => A): A =
    if (!active) body
    else {
      val parent = cur.get
      val s = new Span(nextId.incrementAndGet(), name, layer,
        if (parent == null) 0L else parent.id,
        if (req >= 0 || parent == null) req else parent.req, System.currentTimeMillis())
      val sc = spark.sparkContext
      cur.set(s)
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.currentTimeMillis()
        spans.add(s)
        cur.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(s"pb-${parent.id}", parent.name, interruptOnCancel = false)
      }
    }

  /** Attributes jobs run under a job group graft chose itself (e.g. a
    * pipeline action's) to the current span.
    */
  def bindGroup(group: String): Unit = {
    val s = cur.get
    if (s != null) groupSpan.put(group, s.id)
  }

  private def keyOf(props: java.util.Properties): String =
    if (props == null) null
    else {
      val g = props.getProperty("spark.jobGroup.id")
      val b = props.getProperty("streaming.sql.batchId")
      if (b != null) s"batch-$b"
      else if (g == null) null
      else if (g.startsWith("pb-")) g
      else if (groupSpan.containsKey(g)) s"pb-${groupSpan.get(g)}"
      else null
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val k = keyOf(e.properties)
      if (k != null) {
        jobKey.put(e.jobId, k)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(sid => stageKey.put(sid, k))
        val w = workFor(k)
        w.synchronized(w.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val k = jobKey.remove(e.jobId)
      val st = jobStart.remove(e.jobId)
      if (k != null && st != null) {
        val w = workFor(k)
        w.synchronized(w.jobIntervals += ((st.longValue, e.time)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = stageKey.get(e.stageInfo.stageId)
      if (k != null) e.stageInfo.accumulables.keys.foreach(id => accKey.put(id, k))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = stageKey.get(e.stageId)
      val m = e.taskMetrics
      if (k != null && m != null) {
        val w = workFor(k)
        val info = e.taskInfo
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          w.resultBytes += m.resultSize
          w.firstLaunch = math.min(w.firstLaunch, info.launchTime)
        }
      }
    }
  }

  private object planWalk extends AdaptiveSparkPlanHelper

  /** Rows a plan node emits: its own `numOutputRows` metric, or, for a
    * node that keeps none (AQE reads, exchanges, codegen wrappers), the
    * rows its single child emits.
    */
  private def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.metrics.get("shuffleRecordsWritten").map(_.value))
      .orElse(if (p.children.size == 1) rowsOut(p.children.head) else None)

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val k = planWalk.flatMap(plan)(_.metrics.values.map(_.id)).iterator
        .map(id => accKey.get(id)).find(_ != null).orNull
      if (k != null) {
        val tops = planWalk.collect(plan) { case p if p.nodeName.contains("TopK") => p }
        // graft's top-k execs keep no row metric of their own yet, so
        // their output is read off the nearest ancestor that counts rows
        // (the exchange or projection right above them)
        val parents = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()
        planWalk.foreach(plan)(p => p.children.foreach(c => parents.put(c, p)))
        def rowsAbove(p: SparkPlan): Long = Option(parents.get(p)) match {
          case None => 0L
          case Some(a) => a.metrics.get("numOutputRows")
            .orElse(a.metrics.get("shuffleRecordsWritten")).map(_.value)
            .getOrElse(rowsAbove(a))
        }
        val w = workFor(k)
        w.synchronized {
          if (funcName == "head") w.heads += 1
          tops.foreach { t =>
            w.topkRowsIn += t.children.flatMap(rowsOut).sum
            w.topkRowsOut += t.metrics.get("numOutputRows").map(_.value)
              .getOrElse(rowsAbove(t))
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      if (streamActive(start)) {
        val s = new Span(nextId.incrementAndGet(), s"batch-${p.batchId}", "streaming", 0L,
          p.batchId, start)
        s.end = start + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batchSpans.add(s)
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
  }

  def uninstall(): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    spark.streams.removeListener(sql)
  }

  /** Work attributed to every recorded span. */
  def spanWork: Seq[Work] = spans.asScala.toSeq.map(s => workOf(s.id))

  /** Work attributed to a span id. */
  def workOf(spanId: Long): Work = work.getOrDefault(s"pb-$spanId", new Work)
  /** Work attributed to a streaming batch. */
  def workOfBatch(batchId: Long): Work = work.getOrDefault(s"batch-$batchId", new Work)

  /** Self time per layer over all recorded spans, in seconds: a span's
    * duration minus the part covered by its child spans and by its own
    * Spark jobs; the jobs' covered part is the `engine` layer's self
    * time.
    */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq ++ batchSpans.asScala.toSeq
    val children = all.groupBy(_.parent)
    val acc = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      val jobs = (if (s.layer == "streaming") workOfBatch(s.req) else workOf(s.id))
        .jobIntervals.toSeq
      val kidCover = Trace.covered(kids, s.start, s.end)
      val allCover = Trace.covered(kids ++ jobs, s.start, s.end)
      acc(s.layer) += (s.end - s.start - allCover) / 1000.0
      acc("engine") += (allCover - kidCover) / 1000.0
    }
    acc.toMap
  }

  /** Per span name: count and mean wall, jobs, tasks and task time. */
  def summary(): Map[String, Map[String, Double]] =
    (spans.asScala.toSeq ++ batchSpans.asScala.toSeq).groupBy(_.name.takeWhile(_ != '-'))
      .map { case (name, ss) =>
        val ws = ss.map(s => if (s.layer == "streaming") workOfBatch(s.req) else workOf(s.id))
        val n = ss.size.toDouble
        name -> Map("n" -> n, "wall_s" -> ss.map(s => s.end - s.start).sum / 1000.0 / n,
          "jobs" -> ws.map(_.jobs).sum / n, "tasks" -> ws.map(_.tasks).sum / n,
          "task_s" -> ws.map(_.runMs).sum / 1000.0 / n)
      }

  /** Writes every span as one JSON line. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (spans.asScala ++ batchSpans.asScala).toSeq.sortBy(_.start).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "req" -> s.req, "start_ms" -> s.start, "end_ms" -> s.end)))
    } finally w.close()
  }
}

object Trace {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
