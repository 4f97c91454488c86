package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.Dedup
import graft.streaming.Streams

/** The streaming-ingest side of `curate_ingest`: an open-loop generator
  * sends documents into a `Streams.Channel` in timestamped ticks at a
  * fixed rate, and `Streams.curateIngest` reads and appends its exact
  * and span hash indexes on every micro-batch — micro-batch overhead,
  * per-batch index reads and writes and delta growth.
  *
  * [[setUp]] builds both indexes from a bootstrap corpus, starts the
  * query and pushes warm-up ticks through it; [[generate]] sends ticks
  * until [[stop]]; [[finish]] drains the stream and reports lag,
  * capacity, checks and the streaming layer's metrics.
  */
final class StreamIngest(c: Ctx, corpus: Gen.Corpus) {
  import StreamIngest._
  private val spark = c.spark
  import spark.implicits._

  private val exactPath = s"${c.work}/exact"
  private val spanPath = s"${c.work}/span"
  // the generator runs until [[stop]]; MaxTicks bounds the documents
  // generated in advance
  private val sendAt = new Array[Long](MaxTicks)
  @volatile private var ticks = 0
  @volatile private var stopped = false
  private var start = 0L
  private var boot: IndexedSeq[Gen.Doc] = _
  private var sent: IndexedSeq[Gen.Doc] = _
  private var tickDocs: IndexedSeq[IndexedSeq[(Long, String)]] = _
  private var ch: Streams.Channel[(Long, String)] = _
  private var q: StreamingQuery = _

  /** Generates the bootstrap corpus and every tick's documents (the
    * generation timed separately, for the set-up median), builds the
    * indexes, starts the query and runs the warm-up ticks through it.
    * Returns (generation seconds, index build + warm-up seconds).
    */
  def setUp(): (Double, Double) = {
    val t0 = System.nanoTime()
    boot = corpus.docs(BootDocs, BootIdBase, stream = 3)
    sent = corpus.docs((WarmTicks + MaxTicks) * DocsPerTick, SentIdBase, stream = 4, pool = boot)
    tickDocs = sent.map(d => (d.id, d.text)).grouped(DocsPerTick).toIndexedSeq
    boot.map(d => (d.id, d.text)).toDF("doc_id", "text").repartition(c.cores)
      .write.mode("overwrite").parquet(s"${c.work}/boot")
    val genS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val bootDf = spark.read.parquet(s"${c.work}/boot")
    Dedup.writeHashIndex(bootDf.select(unhex(md5(col("text").cast("binary"))).as("h")),
      exactPath)
    Dedup.writeSpanIndex(bootDf, "doc_id", "text", SpanK, spanPath)
    ch = Streams.Channel[(Long, String)](spark)
    q = Streams.curateIngest(ch.toDS.toDF("doc_id", "text"), exactPath, spanPath,
      s"${c.work}/out", s"${c.work}/stats", s"${c.work}/ckpt", spanK = SpanK)
    (0 until WarmTicks).foreach(i => ch.send(tickDocs(i): _*))
    q.processAllAvailable()
    (genS, (System.nanoTime() - t1) / 1e9)
  }

  /** In a traced run, ticks due in the second and third quarter of the
    * window are traced, so untraced quarters on both sides give the
    * overhead baseline.
    */
  def tracedAt(ms: Long): Boolean = c.traced && {
    val qi = (ms - start) / math.max(1L, c.seconds * 1000L / 4)
    qi == 1 || qi == 2
  }

  /** Open loop: tick i is due at start + i * TickMs whatever the
    * stream's progress, and its lag runs from that due time.
    */
  def generate(): Thread = {
    start = System.currentTimeMillis() + 20
    c.tracer.foreach(_.streamActive = tracedAt)
    val gen = new Thread(() => {
      var i = 0
      while (!stopped && i < MaxTicks) {
        val wait = start + i.toLong * TickMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stopped) {
          ch.send(tickDocs(WarmTicks + i): _*)
          sendAt(i) = System.currentTimeMillis()
          i += 1
          ticks = i
        }
      }
    }, "perfbench-generator")
    gen.start()
    gen
  }

  /** Ends the generator; the stream keeps running until [[finish]]. */
  def stop(gen: Thread): Unit = { stopped = true; gen.join() }

  /** Drains and stops the stream, then reports. */
  def finish(o: Outcome): Map[String, Double] = {
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    q.stop()
    c.tracer.foreach(_.streamActive = _ => false)
    // MemoryStream offsets count send() calls from 0, so tick i sits at
    // offset WarmTicks + i; a batch's end offset is its last tick's
    def endOffset(p: StreamingQueryProgress): Long =
      "-?\\d+".r.findFirstIn(Option(p.sources.head.endOffset).getOrElse("-1")).get.toLong
    def dur(p: StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    val batches = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val measured = batches.filter(endOffset(_) >= WarmTicks)
    def due(i: Int) = start + i.toLong * TickMs
    val lags = (0 until ticks).flatMap { i =>
      batches.find(p => endOffset(p) >= WarmTicks + i)
        .map(p => (startMs(p) + dur(p, "triggerExecution") - due(i)).toDouble -> i)
    }
    o.attempted += ticks
    o.failed += ticks - lags.size
    val untraced = lags.filterNot { case (_, i) => tracedAt(due(i)) }.map(_._1)
    val (tp, tv) = Stats.tail(untraced)
    o.named("ingest_lag_p50_ms") = Metric(Stats.median(untraced), "ms")
    o.named(f"ingest_lag_p$tp%.0f_ms") = Metric(tv, "ms")
    o.named("ingest_capacity_docs_per_s") = Metric(measured.map(_.numInputRows).sum.toDouble /
      (measured.map(dur(_, "triggerExecution")).sum / 1000.0), "1/s")
    o.info("ingest_lag_samples") = untraced.size
    o.info("ingest_batches") = measured.size
    checks(o, sent.take((WarmTicks + ticks) * DocsPerTick))

    val exactV = graft.operators.Versioned.resolve(spark, exactPath).get
    val backlog = measured.map { p =>
      val sentBy = sendAt.count(s => s > 0 && s <= startMs(p)) + WarmTicks
      val before = batches.filter(_.batchId < p.batchId).map(endOffset).foldLeft(-1L)(math.max)
      (sentBy - 1 - before).toDouble
    }
    val tracedLags = lags.filter { case (_, i) => tracedAt(due(i)) }.map(_._1)
    if (tracedLags.nonEmpty && untraced.nonEmpty)
      o.info("ingest_lag_trace_overhead_pct") =
        (Stats.median(tracedLags) / Stats.median(untraced) - 1) * 100
    import Layers.medianOr0
    Map(
      "streaming.batch_ms" -> medianOr0(measured.map(dur(_, "triggerExecution").toDouble)),
      "streaming.add_batch_ms" -> medianOr0(measured.map(dur(_, "addBatch").toDouble)),
      "streaming.plan_ms" -> medianOr0(measured.map(dur(_, "queryPlanning").toDouble)),
      "streaming.batch_rows" -> medianOr0(measured.map(_.numInputRows.toDouble)),
      "streaming.backlog_ticks" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "streaming.gen_late_ms" -> (0 until ticks).map(i => (sendAt(i) - due(i)).toDouble).max,
      "streaming.index_deltas" ->
        graft.operators.Versioned.listDeltas(spark, exactV).size.toDouble)
  }

  /** Every sent doc was scored once, no doc id was emitted twice, no
    * text was kept twice, and no text already in the bootstrap index
    * was kept at all.
    */
  private def checks(o: Outcome, sent: IndexedSeq[Gen.Doc]): Unit = {
    val scored = spark.read.parquet(s"${c.work}/stats").agg(sum("scored")).head().getLong(0)
    o.check("ingest.scored_equals_sent", scored == sent.size,
      s"stats scored $scored rows, generator sent ${sent.size}")
    val kept = spark.read.parquet(s"${c.work}/out").select("doc_id").as[Long].collect()
    o.check("ingest.no_id_emitted_twice", kept.length == kept.distinct.length,
      s"${kept.length - kept.distinct.length} repeated ids among ${kept.length} kept")
    val text = sent.map(d => d.id -> d.text).toMap
    val keptTexts = kept.toSeq.map(text)
    o.check("ingest.no_exact_copy_kept_twice", keptTexts.size == keptTexts.distinct.size,
      s"${keptTexts.size - keptTexts.distinct.size} texts kept more than once")
    val bootTexts = boot.map(_.text).toSet
    val stale = keptTexts.count(bootTexts.contains)
    o.check("ingest.no_indexed_text_kept", stale == 0,
      s"$stale kept docs repeat a text already in the bootstrap index")
    o.info("ingest_kept") = kept.length
    o.info("ingest_input") = Map("boot_docs" -> BootDocs, "tick_ms" -> TickMs,
      "docs_per_tick" -> DocsPerTick, "ticks" -> ticks, "warm_ticks" -> WarmTicks,
      "exact_copies" -> sent.count(_.kind == 1), "near_copies" -> sent.count(_.kind == 2))
  }

  /** Streaming batches seen by the tracer, for the engine totals. */
  def tracedBatches(t: Tracer): Seq[Work] =
    t.batchSpans.asScala.toSeq.map(s => t.workOfBatch(s.req))
}

object StreamIngest {
  val BootDocs = 1500
  val TickMs = 200
  val DocsPerTick = 10
  val WarmTicks = 5
  val MaxTicks = 600
  val SpanK = 8
  val BootIdBase = 2000000000L
  val SentIdBase = 3000000000L
}
