package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run reports. `e2e` holds the end-to-end metrics
  * BENCHMARK.json lists, `named` the workload's own end-to-end figures
  * under descriptive names, `layer` the per-layer metrics of a traced
  * run.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val e2e = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.LinkedHashMap[String, Metric]()
  val layer = mutable.LinkedHashMap[String, Metric]()
  val info = mutable.LinkedHashMap[String, Any]()

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }
}

/** Shared run context handed to every workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
                     work: String, cores: Int, tracer: Option[Tracer]) {
  /** Wraps `body` in a span when tracing; a plain call otherwise. */
  def span[A](name: String, layer: String, req: Long = -1L)(body: => A): A =
    tracer match {
      case Some(t) => t.span(name, layer, req)(body)
      case None => body
    }
  def setActive(on: Boolean): Unit = tracer.foreach(_.setActive(on))

  private val t0 = System.nanoTime()
  val marks = mutable.LinkedHashMap[String, Double]()
  /** Records when a phase of the run ended, in seconds since the start. */
  def mark(phase: String): Unit = marks.synchronized {
    marks(phase) = (System.nanoTime() - t0) / 1e9
  }
}

/** Detects host stalls (CPU steal, swapping, long GC pauses): a thread
  * that sleeps 20 ms and records how late it wakes.
  */
final class StallWatch extends Thread("perfbench-stallwatch") {
  setDaemon(true)
  @volatile var maxLateMs = 0L
  @volatile private var running = true
  override def run(): Unit = while (running) {
    val t0 = System.nanoTime()
    Thread.sleep(20)
    val late = (System.nanoTime() - t0) / 1000000 - 20
    if (late > maxLateMs) maxLateMs = late
  }
  def finish(): Long = { running = false; join(); maxLateMs }
}

object Main {
  /** Loads the classes a run needs — session start, one funnel pass, a
    * lexical index and a typed aggregate over tiny inputs — so that a
    * JVM started with `-XX:ArchiveClassesAtExit` archives them for the
    * measured runs.
    */
  def archiveClasses(work: String): Unit = {
    val spark = graft.Sessions.local(2, "perfbench-archive")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val c = Ctx(spark, 0L, 1, traced = false, work, 2, None)
    new Gen.Corpus(Gen.CorpusSpec(200), 0L).docs(200, 1L, stream = 1).map(d => (d.id, d.text))
      .toDF("doc_id", "text").write.parquet(s"$work/docs")
    CurateIngest.pass(c, s"$work/docs", s"$work/kept")
    val v = graft.functions.Retrieval.writeLexicalIndex(spark.read.parquet(s"$work/docs"),
      "doc_id", "text", s"$work/lex", idBuckets = 2)
    graft.functions.Retrieval.bm25TopKIndexed(spark, v,
      Seq((0L, "the kalo")).toDF("doc_id", "text"), "doc_id", "text").collect()
    graft.pipeline.Aggregate.count(
      graft.pipeline.Pipeline.fromParquet(spark, s"$work/docs").initStage).get
    spark.stop()
    System.exit(0)
  }

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "curate_ingest" -> CurateIngest.run,
    "serve_mixed" -> ServeMixed.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("archive-classes") match {
      case Some(work) => archiveClasses(work)
      case None => runWorkload(opts)
    }
  }

  private def runWorkload(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = opts("work")
    val out = opts("out")
    val hostCores =
      opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    // serve requests are small latency-bound jobs that one caller thread
    // plans in turn: Spark gets half the cores there, so the caller, GC
    // and JIT threads do not wait behind task threads for a core
    val cores = if (workload == "serve_mixed") math.max(1, hostCores / 2) else hostCores

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val watch = new StallWatch
    watch.start()
    val ctx = Ctx(spark, seed, seconds, traced, work, cores, tracer)
    val o =
      try run(ctx)
      finally tracer.foreach(_.uninstall())
    ctx.mark("done")
    o.info("phase_end_s") = ctx.marks
    val stallMs = watch.finish()
    // setup_s: the workload reports its own set-up parts; the JVM and
    // session start is common to all
    val setup = sessionS + o.info.getOrElse("setup_parts_s", 0.0).asInstanceOf[Double]
    o.e2e("setup_s") = Metric(setup, "s")
    o.e2e("peak_rss_mb") = Metric(Stats.peakRssMb(), "MB")
    o.named("setup_s") = o.e2e("setup_s")
    o.named("peak_rss_mb") = o.e2e("peak_rss_mb")
    o.named("failed_frac") = Metric(o.failed.toDouble / math.max(1L, o.attempted), "ratio")
    o.info("session_s") = sessionS
    o.info("max_stall_ms") = stallMs
    o.info("spark_conf") = spark.sparkContext.getConf.getAll
      .filterNot(_._1.startsWith("spark.app")).filterNot(_._1.contains("host"))
      .sortBy(_._1).toMap
    tracer.foreach { t =>
      t.writeSpans(out.stripSuffix(".json") + ".spans.jsonl")
      o.info("span_summary") = t.summary()
    }
    val correct = o.checks.forall(_._2)
    val text = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "end_to_end" -> o.e2e, "named" -> o.named, "per_layer" -> o.layer,
      "checks" -> o.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "info" -> o.info))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
    spark.stop()
    // graft's pipeline pool keeps idle non-daemon threads alive for a
    // while; the run is over, so do not wait for them
    System.exit(0)
  }
}
