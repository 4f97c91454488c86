package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ivf, Retrieval, Similarity}
import graft.pipeline.{Aggregate, AsyncAggregate, Pipeline}

/** `serve_mixed`: a closed loop of one caller against a lexical and an
  * IVF index built once per run, each with one appended delta. The
  * caller issues the kinds in a fixed turn ([[Round]]) — BM25 top-k,
  * IVF top-k, typed-pipeline aggregates — so every run serves the same
  * mix, and every request carries fresh seeded inputs. The top-k
  * operators, index reads over deltas and the typed wrapper's per-action
  * overhead do the work; minhash, verify, CC and streaming do none.
  */
object ServeMixed {
  val LexDocs = 3000
  val Vecs = 6000
  val Dim = 32
  val Cells = 16
  val Events = 20000
  val QueriesPerReq = 8
  val TopK = 10
  val NProbe = 4
  val LexAppend = 200
  val VecAppend = 500
  val PrepReps = 3
  val RecallFloor = 0.8
  /** Query and appended ids start here, apart from the base corpora. */
  val QueryIdBase = 1000000000000L
  val AppendIdBase = 1000000000L

  val Kinds: Seq[String] = Seq("bm25", "ann", "agg")
  /** One turn of the caller. Aggregates are the cheapest and noisiest
    * kind, so they come twice; over two turns they go through their
    * four terminals once.
    */
  val Round: Seq[String] = Seq("bm25", "agg", "ann", "agg")
  val WarmRounds = 2

  final case class Op(kind: String, ms: Double, traced: Boolean, req: Long)
  final case class AggCall(kind: String, minAmount: Double, terminal: Int, result: Any)

  private final class Inputs(c: Ctx) {
    val corpus = new Gen.Corpus(Gen.CorpusSpec(LexDocs), c.seed)
    val emb = new Gen.Embeddings(Dim, Cells, c.seed)
    def vecs(n: Int, firstId: Long, r: SplittableRandom): IndexedSeq[(Long, Array[Float])] =
      IndexedSeq.tabulate(n)(i => (firstId + i, emb.vec(r)))
  }

  def run(c: Ctx): Outcome = {
    val o = new Outcome
    val spark = c.spark
    import spark.implicits._
    val in = new Inputs(c)
    val lexIn = s"${c.work}/lex_docs"
    val vecIn = s"${c.work}/vecs"
    val evIn = s"${c.work}/events"
    var baseDocs: IndexedSeq[Gen.Doc] = null
    var baseVecs: IndexedSeq[(Long, Array[Float])] = null
    val prepS = (0 until PrepReps).map { i =>
      val t0 = System.nanoTime()
      baseDocs = in.corpus.docs(LexDocs, 1L, stream = 1)
      baseVecs = in.vecs(Vecs, 1L, Gen.rng(c.seed, 2))
      Par.both(
        baseDocs.map(d => (d.id, d.text)).toDF("doc_id", "text")
          .repartition(c.cores).write.mode("overwrite").parquet(s"${lexIn}_$i"),
        Par.both(
          baseVecs.toDF("vec_id", "embedding").repartition(c.cores)
            .write.mode("overwrite").parquet(s"${vecIn}_$i"),
          Gen.events(Events, c.seed).toDF().repartition(c.cores)
            .write.mode("overwrite").parquet(s"${evIn}_$i")))
      (System.nanoTime() - t0) / 1e9
    }
    c.mark("prep")
    val lexPath = s"${c.work}/lex_index"
    val ivfPath = s"${c.work}/ivf_index"
    val events = s"${evIn}_0"
    // each index is built and then grown by one append, so every read
    // unions a base with a delta; the two indexes share nothing and are
    // set up side by side
    val appendedDocs = in.corpus.docs(LexAppend, AppendIdBase, stream = 100)
    val appendedVecs = in.vecs(VecAppend, AppendIdBase, Gen.rng(c.seed, 100))
    def timedMs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
    val t0 = System.nanoTime()
    val ((lexV, lexBuildMs, lexAppendMs), (ivfBuildMs, ivfAppendMs)) = Par.both({
      var v = ""
      // by-id buckets sized to the local cores, as for shuffle partitions
      val b = timedMs { v = Retrieval.writeLexicalIndex(spark.read.parquet(s"${lexIn}_0"),
        "doc_id", "text", lexPath, idBuckets = c.cores) }
      c.setActive(c.traced)
      val a = try timedMs(c.span("functions.retrieval.append", "functions") {
        Retrieval.appendLexicalIndex(appendedDocs.map(d => (d.id, d.text))
          .toDF("doc_id", "text"), "doc_id", "text", lexPath)
      }) finally c.setActive(false)
      (v, b, a)
    }, {
      val vecDf = spark.read.parquet(s"${vecIn}_0")
      val b = timedMs(Ivf.writeIndex(vecDf, ivfPath,
        Ivf.trainCentroids(vecDf, "vec_id", "embedding", Cells)))
      c.setActive(c.traced)
      val a = try timedMs(c.span("functions.ivf.append", "functions") {
        Ivf.appendToIndex(appendedVecs.toDF("vec_id", "embedding"), ivfPath)
      }) finally c.setActive(false)
      (b, a)
    })
    val buildS = (System.nanoTime() - t0) / 1e9
    c.mark("build")
    o.info("input") = Map("lex_docs" -> LexDocs, "vectors" -> Vecs, "dim" -> Dim,
      "cells" -> Cells, "events" -> Events, "queries_per_request" -> QueriesPerReq,
      "lex_append_docs" -> LexAppend, "vec_append_vectors" -> VecAppend)

    // request ids name each request's inputs: stream s, j-th request;
    // every thread draws from its own stream, so inputs do not depend on
    // how the threads interleave
    def reqId(stream: Int, j: Int): Long = stream * 1000000L + j
    val aggCalls = new ConcurrentLinkedQueue[AggCall]
    def bm25Queries(req: Long): DataFrame = {
      val r = Gen.rng(c.seed, 1000 + req)
      (0 until QueriesPerReq).map(j => (QueryIdBase + req * QueriesPerReq + j, in.corpus.query(r)))
        .toDF("doc_id", "text")
    }
    def annQueries(req: Long): DataFrame =
      in.vecs(QueriesPerReq, QueryIdBase + req * QueriesPerReq, Gen.rng(c.seed, 1000 + req))
        .toDF("vec_id", "embedding")
    def bm25(req: Long): Int = c.span("functions.retrieval.bm25", "functions") {
      Retrieval.bm25TopKIndexed(spark, lexV, bm25Queries(req), "doc_id", "text", TopK)
        .collect().length
    }
    def ann(req: Long): Int = c.span("functions.ivf.topk", "functions") {
      Ivf.ivfTopKIndexed(spark, ivfPath, annQueries(req), TopK, NProbe).collect().length
    }
    def agg(req: Long): Any = c.span("pipeline.agg", "pipeline") {
      val r = Gen.rng(c.seed, 1000 + req)
      val kind = Gen.EventKinds(r.nextInt(Gen.EventKinds.length))
      val minAmount = r.nextInt(300).toDouble
      val terminal = (req % 4).toInt
      val p = Pipeline.fromParquet(spark, events)
      c.tracer.foreach(_.bindGroup(p.ctx.jobGroup))
      val rows = p.initStage
        .map(row => (row.getAs[String]("kind"), row.getAs[Double]("amount"),
          row.getAs[String]("props")))
        .filter(t => t._1 == kind && t._2 >= minAmount)
      val v = rows.mapWithErrorMapper(t => Gen.parseV(t._3), _ => -1L)
      val res: Any = terminal match {
        case 0 => Aggregate.sum(v).get
        case 1 => Aggregate.count(v).get
        case 2 => AsyncAggregate.max(v).get().get
        case _ => AsyncAggregate.avg(rows.map(_._2)).get().get
      }
      aggCalls.add(AggCall(kind, minAmount, terminal, res))
      res
    }
    val kinds: Map[String, Long => Any] = Map("bm25" -> bm25, "ann" -> ann, "agg" -> agg)

    // warm-up, in the window's order: the first call of each kind is
    // the cold run whose time sets its memo floor
    val t1 = System.nanoTime()
    val warm = Kinds.map(_ -> mutable.ArrayBuffer[Double]()).toMap
    for (_ <- 0 until WarmRounds; k <- Round)
      warm(k) += timedMs(kinds(k)(reqId(Kinds.indexOf(k), warm(k).size)))
    val cold = warm.map { case (k, xs) => k -> xs.head }
    aggCalls.clear()
    val warmPhaseS = (System.nanoTime() - t1) / 1e9
    c.mark("warm")
    o.info("setup_parts_s") = Stats.median(prepS) + buildS + warmPhaseS
    o.info("setup_breakdown_s") = Map("prep_median" -> Stats.median(prepS),
      "build_phase" -> buildS, "lex_build" -> lexBuildMs / 1000, "lex_append" -> lexAppendMs / 1000,
      "ivf_build" -> ivfBuildMs / 1000, "ivf_append" -> ivfAppendMs / 1000,
      "warm_phase" -> warmPhaseS)
    o.info("warm_ms") = warm

    // one caller issues the kinds in turn, so no request queues behind
    // another and each latency is the request's own. The window ends
    // on a whole turn, so every run with the same number of turns has
    // the same number of samples of each kind
    val ops = mutable.ArrayBuffer[Op]()
    var failures = 0L
    var memoFlags = 0L
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val r = Gen.rng(c.seed, 500)
    val issued = mutable.Map[String, Int]().withDefaultValue(0)
    while (System.nanoTime() < deadline) for (kind <- Round) {
      val req = reqId(10 + Kinds.indexOf(kind), issued(kind))
      issued(kind) += 1
      val traced = c.traced && r.nextBoolean()
      c.setActive(traced)
      val t = System.nanoTime()
      val res = Try(c.span(s"serve.$kind", "bench", req)(kinds(kind)(req)))
      val ms = (System.nanoTime() - t) / 1e6
      c.setActive(false)
      res match {
        case Success(_) =>
          ops += Op(kind, ms, traced, req)
          if (ms < cold(kind) / 50) memoFlags += 1
        case Failure(e) =>
          failures += 1
          System.err.println(s"[perfbench] $kind request $req failed: $e")
      }
    }
    c.mark("window")

    val all = ops.toSeq
    o.attempted += all.size + failures
    o.failed += failures + memoFlags
    val base = all.filterNot(_.traced)
    val byKind = Kinds.map(k => k -> base.filter(_.kind == k).map(_.ms)).filter(_._2.nonEmpty)
    val medians = byKind.map(kv => Stats.median(kv._2))
    // requests per second of a caller that issues one of each kind,
    // each at its median latency; the latency index is the geometric
    // mean of the kinds' medians, which no kind's sample count can tilt
    o.e2e("throughput_per_s") = Metric(medians.size * 1000.0 / medians.sum, "1/s")
    o.e2e("latency_p50_ms") = Metric(Stats.geomean(medians), "ms")
    o.named("reads_per_s") = o.e2e("throughput_per_s")
    o.named("read_p50_geomean_ms") = o.e2e("latency_p50_ms")
    o.named("index_build_s") = Metric((lexBuildMs + ivfBuildMs) / 1000, "s")
    byKind.foreach { case (k, xs) =>
      val (p, v) = Stats.tail(xs)
      o.named(s"${k}_p50_ms") = Metric(Stats.median(xs), "ms")
      o.named(f"${k}_p$p%.0f_ms") = Metric(v, "ms")
      o.info(s"${k}_samples") = xs.size
      o.info(s"${k}_ms") = xs
    }
    o.named("append_lex_ms") = Metric(lexAppendMs, "ms")
    o.named("append_ivf_ms") = Metric(ivfAppendMs, "ms")
    o.info("memo_flags") = memoFlags
    o.info("reads") = all.size

    checks(c, o, in, lexV, ivfPath, events, baseDocs ++ appendedDocs, baseVecs ++ appendedVecs,
      aggCalls.asScala.toSeq)
    c.mark("checks")
    c.tracer.foreach(t => layerMetrics(t, o, all))
    o
  }

  private def layerMetrics(t: Tracer, o: Outcome, all: Seq[Op]): Unit = {
    import Layers._
    def perCall(name: String)(f: (Span, Work) => Double): Double =
      meanOr0(spansNamed(t, name).map(s => f(s, t.workOf(s.id))))
    val tops = spansNamed(t, "functions.retrieval.bm25") ++ spansNamed(t, "functions.ivf.topk")
    val appendSpans = spansNamed(t, "functions.retrieval.append") ++
      spansNamed(t, "functions.ivf.append")
    val traced = all.filter(_.traced)
    val n = traced.size
    Layers.fill(o, Map(
      "functions.retrieval.bm25_task_s" ->
        perCall("functions.retrieval.bm25")((_, w) => w.runMs / 1000.0),
      "functions.retrieval.index_read_mb" ->
        perCall("functions.retrieval.bm25")((_, w) => mb(w.inputBytes)),
      "functions.retrieval.append_s" -> medianOr0(spansNamed(t, "functions.retrieval.append")
        .map(wallS)),
      "functions.retrieval.deltas" -> o.info.getOrElse("lex_deltas", 0).toString.toDouble,
      "functions.ivf.topk_task_s" -> perCall("functions.ivf.topk")((_, w) => w.runMs / 1000.0),
      "functions.ivf.cells_read_mb" -> perCall("functions.ivf.topk")((_, w) => mb(w.inputBytes)),
      "plans.topk.rows_in" -> meanOr0(tops.map(s => t.workOf(s.id).topkRowsIn.toDouble)),
      "plans.topk.rows_out" -> meanOr0(tops.map(s => t.workOf(s.id).topkRowsOut.toDouble)),
      // time an append spends outside its Spark jobs: version
      // resolve, delta listing and the atomic delta commit
      "operators.versioned.commit_s" -> medianOr0(appendSpans.map { s =>
        (s.end - s.start - Trace.covered(t.workOf(s.id).jobIntervals.toSeq, s.start, s.end)) /
          1000.0
      }),
      "pipeline.agg_jobs" -> perCall("pipeline.agg")((_, w) => w.jobs.toDouble),
      "pipeline.agg_queue_ms" -> perCall("pipeline.agg") { (s, w) =>
        if (w.firstLaunch == Long.MaxValue) 0.0 else (w.firstLaunch - s.start).toDouble
      },
      "pipeline.agg_task_s" -> perCall("pipeline.agg")((_, w) => w.runMs / 1000.0),
      "pipeline.agg_result_kb" -> perCall("pipeline.agg")((_, w) => w.resultBytes / 1024.0),
      "trace.overhead_pct" -> overheadPct(all)) ++
      engine(t.spanWork, n) ++ selfTimes(t, n))
  }

  /** Geometric mean over kinds of traced over untraced median latency,
    * as a percentage above 1; 0 when no kind has both.
    */
  private def overheadPct(all: Seq[Op]): Double = {
    val ratios = Kinds.flatMap { k =>
      val (tr, un) = all.filter(_.kind == k).partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms)))
    }
    if (ratios.isEmpty) 0.0 else (Stats.geomean(ratios) - 1) * 100
  }

  /** Untimed output checks after the window: indexed BM25 equals a
    * from-scratch BM25 over base plus appended docs; IVF recall@k
    * against brute force stays above [[RecallFloor]]; every sampled
    * typed aggregate equals the column-API result.
    */
  private def checks(c: Ctx, o: Outcome, in: Inputs, lexV: String, ivfPath: String,
                     events: String, docs: Iterable[Gen.Doc],
                     vecs: Iterable[(Long, Array[Float])], calls: Seq[AggCall]): Unit = {
    val spark = c.spark
    import spark.implicits._
    val deltas = graft.operators.Versioned.listDeltas(spark, lexV).size
    o.info("lex_deltas") = deltas
    val corpus = docs.map(d => (d.id, d.text)).toSeq.toDF("doc_id", "text")
    def bm25Check(): Unit = {
      def rows(df: DataFrame) =
        df.select("query_id", "rank", "doc_id", "score").as[(Long, Int, Long, Double)]
          .collect().toSet
      val r = Gen.rng(c.seed, 77)
      val q = (0 until QueriesPerReq).map(j => (QueryIdBase * 2 + j, in.corpus.query(r)))
        .toDF("doc_id", "text")
      val got = rows(Retrieval.bm25TopKIndexed(spark, lexV, q, "doc_id", "text", TopK))
      val want = rows(Retrieval.bm25TopK(corpus, q, "doc_id", "text", TopK))
      o.check("serve.bm25_indexed_equals_scan", got == want,
        s"${got.size} indexed rows vs ${want.size} from a scan over $deltas deltas; " +
          s"differ on ${(got -- want).take(3)} / ${(want -- got).take(3)}")
    }
    def annCheck(): Unit = {
      def pairs(df: DataFrame) = df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().toSet
      val q = in.vecs(QueriesPerReq, QueryIdBase * 2, Gen.rng(c.seed, 78))
        .toDF("vec_id", "embedding")
      val got = pairs(Ivf.ivfTopKIndexed(spark, ivfPath, q, TopK, NProbe))
      val want = pairs(Similarity.bruteForceTopK(vecs.toSeq.toDF("vec_id", "embedding"), q, TopK))
      val recall = (got intersect want).size.toDouble / math.max(1, want.size)
      o.check("serve.ann_recall", recall >= RecallFloor,
        f"IVF recall@$TopK $recall%.3f against brute force (floor $RecallFloor)")
      o.info.synchronized(o.info("ann_recall") = recall)
    }
    def aggCheck(): Unit = {
      val ev = spark.read.parquet(events)
      val v = when(col("props").rlike("^\\{\"v\":-?[0-9]+\\}$"),
        regexp_extract(col("props"), "^\\{\"v\":(-?[0-9]+)\\}$", 1).cast("long"))
        .otherwise(lit(-1L))
      calls.take(3).foreach { a =>
        val f = ev.filter(col("kind") === a.kind && col("amount") >= a.minAmount)
        val want: Any = a.terminal match {
          case 0 => f.agg(sum(v)).head().getLong(0)
          case 1 => f.count()
          case 2 => f.agg(max(v)).head().getLong(0)
          case _ => f.agg(avg("amount")).head().getDouble(0)
        }
        val ok = (a.result, want) match {
          case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
          case (x, y) => x == y
        }
        o.check(s"serve.typed_agg_equals_column_api.${a.terminal}", ok,
          s"kind=${a.kind} min=${a.minAmount}: typed ${a.result} vs column API $want")
      }
    }
    // the three checks share nothing, so they run side by side
    Par.both(bm25Check(), Par.both(annCheck(), aggCheck()))
    o.check("serve.typed_aggs_sampled", calls.nonEmpty, s"${calls.size} typed aggregates ran")
  }
}
