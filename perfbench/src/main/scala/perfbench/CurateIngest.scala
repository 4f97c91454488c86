package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Dedup, TextAnalysis}
import graft.operators.ConnectedComponents

/** `curate_ingest`: the batch dedup funnel over one generated corpus —
  * quality/language gate, exact keep-first dedup, minhash LSH
  * candidates, n-gram Jaccard verify, connected components over the
  * verified pairs, and a parquet write of the kept docs — beside the
  * online funnel, an open-loop stream into `Streams.curateIngest` (see
  * [[StreamIngest]]). Pair generation, the kernels, CC, shuffle and
  * micro-batch index reads and appends do the work; top-k and the typed
  * pipeline wrapper do none.
  */
object CurateIngest {
  val Docs = 8000
  val MinWords = 10
  val Threshold = 0.7
  val WarmDocs = 600
  val PrepReps = 3

  /** One pass's counts; `pairs` are its minhash candidate pairs,
    * collected in place of a count, for the reference check.
    */
  final case class Pass(wallMs: Double, gated: Long, exactKept: Long, candidates: Long,
                        verified: Long, kept: Long, pairs: Array[(Long, Long)])

  /** One funnel pass. Each stage is materialised inside its own span,
    * so a traced run attributes its jobs to the stage's layer.
    */
  def pass(c: Ctx, corpus: String, outPath: String): Pass = {
    val spark = c.spark
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(corpus)
    val (gated, nGated) = c.span("functions.textanalysis.gate", "functions") {
      val g = docs.filter(TextAnalysis.nWords(col("text")) >= MinWords &&
          TextAnalysis.langIdScored(col("text")) =!= "unk")
        .select("doc_id", "text").persist(StorageLevel.MEMORY_ONLY)
      (g, g.count())
    }
    val (kept1, nExact) = c.span("functions.dedup.exact", "functions") {
      val keep = Dedup.exact(gated, "text", "doc_id").select(col("keep_id").as("doc_id"))
      val k = gated.join(keep, "doc_id").persist(StorageLevel.MEMORY_ONLY)
      (k, k.count())
    }
    val (cands, pairs) = c.span("functions.dedup.minhash", "functions") {
      val cd = Dedup.minhashCandidates(kept1, "doc_id", "text")
        .select("id_a", "id_b").persist(StorageLevel.MEMORY_ONLY)
      (cd, cd.collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    val (ver, nVer) = c.span("functions.dedup.verify", "functions") {
      val v = Dedup.ngramJaccard(kept1, cands, "doc_id", "text")
        .filter(col("jaccard") >= Threshold).select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_ONLY)
      (v, v.count())
    }
    val comps = c.span("operators.cc", "operators") {
      ConnectedComponents.labelPropagation(kept1.select(col("doc_id").as("id")), ver)
    }
    val nKept = c.span("sources.write", "sources") {
      kept1.join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("comp").isNull || col("comp") === col("doc_id"))
        .select("doc_id", "text")
        .write.mode("overwrite").parquet(outPath)
      spark.read.parquet(outPath).count()
    }
    val wall = (System.nanoTime() - t0) / 1e6
    Seq(gated, kept1, cands, ver, comps).foreach(_.unpersist(blocking = true))
    graft.plans.CacheHandles.releaseAllBlocking()
    Pass(wall, nGated, nExact, pairs.length.toLong, nVer, nKept, pairs)
  }

  def run(c: Ctx): Outcome = {
    val o = new Outcome
    val spark = c.spark
    import spark.implicits._
    val spec = Gen.CorpusSpec(Docs)
    // set-up: generate and write the corpus PrepReps times (identical
    // bytes each time) and keep the median, then one cold pass over a
    // smaller corpus from the same generator: it loads and compiles
    // every plan the timed passes run
    var truth: IndexedSeq[Gen.Doc] = null
    val prepS = (0 until PrepReps).map { i =>
      val t0 = System.nanoTime()
      truth = new Gen.Corpus(spec, c.seed).docs(Docs, 1L, stream = 1)
      truth.map(d => (d.id, d.text)).toDF("doc_id", "text")
        .repartition(c.cores).write.mode("overwrite").parquet(s"${c.work}/corpus_$i")
      (System.nanoTime() - t0) / 1e9
    }
    val corpus = s"${c.work}/corpus_0"
    c.mark("prep")
    new Gen.Corpus(spec, c.seed).docs(WarmDocs, 1L, stream = 2).map(d => (d.id, d.text))
      .toDF("doc_id", "text").repartition(c.cores).write.parquet(s"${c.work}/warm")
    // the stream's indexes, query and warm-up ticks set up beside the
    // cold pass
    val ingest = new StreamIngest(c, new Gen.Corpus(spec, c.seed))
    val tc = System.nanoTime()
    val (cold, (ingestGenS, ingestSetS)) =
      Par.both(pass(c, s"${c.work}/warm", s"${c.work}/kept_warm"), ingest.setUp())
    val coldPhaseS = (System.nanoTime() - tc) / 1e9
    c.mark("cold")
    o.info("setup_parts_s") = Stats.median(prepS) + coldPhaseS
    o.info("setup_breakdown_s") = Map("prep_median" -> Stats.median(prepS),
      "cold_pass" -> cold.wallMs / 1000, "ingest_gen" -> ingestGenS,
      "ingest_build_and_warm" -> ingestSetS, "cold_phase" -> coldPhaseS)
    o.info("input") = Map("docs" -> Docs, "warm_docs" -> WarmDocs,
      "exact_copies" -> truth.count(_.kind == 1), "near_copies" -> truth.count(_.kind == 2),
      "junk" -> truth.count(_.kind == 3), "words" -> truth.map(_.text.count(_ == ' ') + 1).sum)

    // timed passes; a traced run traces every other pass so the
    // untraced ones give the overhead baseline. Every pass must match
    // the first one, and none may beat the memo floor set by the cold
    // pass.
    val floorMs = cold.wallMs / 20
    val shuffle = new ShuffleTotal
    spark.sparkContext.addSparkListener(shuffle)
    val passes = scala.collection.mutable.ArrayBuffer[(Pass, Boolean)]()
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    val gen = ingest.generate()
    // a traced run needs one traced and one untraced pass
    val minPasses = if (c.traced) 2 else 1
    var i = 0
    while (System.nanoTime() < deadline || passes.size < minPasses) {
      val traced = c.traced && i % 2 == 1
      c.setActive(traced)
      val p = try c.span("curate.pass", "bench", i.toLong)(pass(c, corpus, s"${c.work}/kept"))
        finally c.setActive(false)
      o.attempted += 1
      val first = passes.headOption.map(_._1).getOrElse(p)
      if (p.kept != first.kept || p.verified != first.verified || p.wallMs < floorMs) {
        o.failed += 1
        System.err.println(s"[perfbench] pass $i differs from the first pass or beats " +
          s"the memo floor: $p vs $first (floor $floorMs ms)")
      }
      passes += ((p, traced))
      i += 1
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(shuffle)
    ingest.stop(gen)
    c.mark("window")
    // the stream drains while the kept set is checked
    val (streamLayer, (refChecks, recall)) = Par.both(
      { val l = ingest.finish(o); c.mark("drain"); l },
      { val r = checkAgainstReference(c, corpus, s"${c.work}/kept", passes.last._1.pairs, truth)
        c.mark("reference"); r })
    refChecks.foreach { case (n, ok, d) => o.check(n, ok, d) }
    o.info("near_copy_recall") = recall

    c.mark("checks")
    val walls = passes.filterNot(_._2).map(_._1.wallMs).toSeq
    val p50 = Stats.median(walls)
    val (tp, tv) = Stats.tail(walls)
    val last = passes.last._1
    o.e2e("throughput_per_s") = Metric(Docs / (p50 / 1000.0), "1/s")
    o.e2e("latency_p50_ms") = Metric(p50, "ms")
    o.named("curate_docs_per_s") = o.e2e("throughput_per_s")
    o.named("curate_pass_p50_ms") = o.e2e("latency_p50_ms")
    o.info("curate_pass_samples") = walls.size
    o.named(f"curate_pass_p$tp%.0f_ms") = Metric(tv, "ms")
    o.named("curate_shuffle_kb_per_doc") =
      Metric(shuffle.bytes.get / 1024.0 / Docs / passes.size, "KB")
    o.info("funnel") = Map("gated" -> last.gated, "exact_kept" -> last.exactKept,
      "candidate_pairs" -> last.candidates, "verified_pairs" -> last.verified,
      "kept" -> last.kept)
    c.tracer.foreach(t => layerMetrics(t, o, passes.toSeq, last,
      streamLayer, ingest.tracedBatches(t)))
    o
  }

  private def layerMetrics(t: Tracer, o: Outcome, passes: Seq[(Pass, Boolean)],
                           last: Pass, streamLayer: Map[String, Double],
                           batches: Seq[Work]): Unit = {
    import Layers._
    val traced = passes.filter(_._2).map(_._1)
    // engine and self time per traced operation: passes and
    // micro-batches alike
    val n = traced.size + batches.size
    def med(name: String) = medianOr0(spansNamed(t, name).map(wallS))
    val cc = spansNamed(t, "operators.cc")
    val untracedP50 = Stats.median(passes.filterNot(_._2).map(_._1.wallMs))
    Layers.fill(o, Map(
      "functions.dedup.minhash_s" -> med("functions.dedup.minhash"),
      "functions.dedup.verify_s" -> med("functions.dedup.verify"),
      "functions.dedup.candidate_pairs" -> last.candidates.toDouble,
      "functions.dedup.verified_pairs" -> last.verified.toDouble,
      "functions.dedup.verify_yield" -> last.verified.toDouble / math.max(1L, last.candidates),
      "functions.textanalysis.gate_s" -> med("functions.textanalysis.gate"),
      // one label-sum `head` per generation plus the initial one
      "operators.cc.generations" -> medianOr0(cc.map(s => (t.workOf(s.id).heads - 1).toDouble)),
      "operators.cc_s" -> med("operators.cc"),
      "sources.write_s" -> med("sources.write"),
      "trace.overhead_pct" -> (if (traced.isEmpty) 0.0
        else (Stats.median(traced.map(_.wallMs)) / untracedP50 - 1) * 100)) ++
      streamLayer ++ engine(t.spanWork ++ batches, n) ++ selfTimes(t, n))
  }

  /** Plain-Spark reference for the kept set, on the same input: the
    * gate as split/arrays_overlap, exact dedup as groupBy(md5), Jaccard
    * as array_intersect/array_union over string shingles of graft's
    * own candidate pairs, and components by union-find in this JVM.
    * Planted near copies at the lowest edit rate must also land in
    * their source's component (minhash recall).
    */
  private def checkAgainstReference(c: Ctx, corpus: String, keptPath: String,
                                    pairs: Array[(Long, Long)], truth: IndexedSeq[Gen.Doc])
      : (Seq[(String, Boolean, String)], Double) = {
    val spark = c.spark
    import spark.implicits._
    val docs = spark.read.parquet(corpus)
    val toks = filter(split(col("text"), " "), x => length(x) > 0)
    val gated = docs
      .filter(size(toks) >= MinWords &&
        arrays_overlap(split(col("text"), " "),
          typedLit(TextAnalysis.stopwords.flatMap(_._2))))
    val exactKept = gated.groupBy(md5(col("text").cast("binary")))
      .agg(min("doc_id").as("doc_id"))
      .join(gated, "doc_id").persist(StorageLevel.MEMORY_ONLY)
    val cands = pairs.toSeq.toDF("id_a", "id_b")
    val sh = exactKept.select(col("doc_id"), array_distinct(
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3))))).as("sh"))
    val edges = cands
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))) >= Threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ids = exactKept.select("doc_id").as[Long].collect()
    exactKept.unpersist()
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val refKept = ids.filter(id => find(id) == id).toSet
    val got = spark.read.parquet(keptPath).select("doc_id").as[Long].collect().toSet
    val keptCheck = ("curate.kept_equals_reference", got == refKept,
      s"graft kept ${got.size}, reference ${refKept.size}, " +
        s"only graft ${(got -- refKept).take(5)}, only reference ${(refKept -- got).take(5)}")
    val idSet = ids.toSet
    val low = truth.filter(d => d.kind == 2 && d.rate == Gen.NearRates.head &&
      idSet.contains(d.id) && idSet.contains(d.src))
    val found = low.count(d => find(d.id) == find(d.src))
    val recall = found.toDouble / math.max(1, low.size)
    (Seq(keptCheck, ("curate.near_copy_recall", low.nonEmpty && recall >= 0.9,
      s"$found of ${low.size} planted near copies at edit rate ${Gen.NearRates.head} " +
        s"joined their source (floor 0.9)")), recall)
  }
}

/** Shuffle bytes the batch funnel writes while attached — one counter
  * per finished task, cheap enough to leave on during untraced passes.
  * The stream's micro-batch jobs are left out.
  */
final class ShuffleTotal extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  val bytes = new java.util.concurrent.atomic.AtomicLong
  private val streamStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null && e.properties.getProperty("streaming.sql.batchId") != null)
      e.stageIds.foreach(streamStages.add)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && !streamStages.contains(e.stageId))
      bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
}
