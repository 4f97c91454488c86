package perfbench

import java.util.SplittableRandom

/** Seeded input generator shared by both workloads. Everything is
  * a pure function of the seed: the same seed gives byte-identical
  * inputs. Inputs are built in this JVM and written as parquet before
  * any timed region starts.
  */
object Gen {

  /** Planted-truth record for one generated document. `kind`: 0 an
    * original, 1 an exact copy of `src`, 2 a near copy of `src` with
    * `rate` of its words replaced, 3 junk that the quality or language
    * gate must drop.
    */
  final case class Doc(id: Long, text: String, kind: Int, src: Long, rate: Double)

  val Stopwords: Array[String] = Array("the", "and", "of", "to", "is", "in")
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su",
    "do", "fa", "gu", "hi", "jo", "ke", "bu", "mo", "ni", "po")
  val NearRates: Array[Double] = Array(0.02, 0.05, 0.1, 0.3)

  /** Word i of the vocabulary: at least two syllables, so no generated
    * word is one of graft's language-ID stopwords (all are 2-3 letters).
    */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    sb.append(Syllables(n % 20)); n /= 20
    sb.append(Syllables(n % 20)); n /= 20
    while (n > 0) { sb.append(Syllables(n % 20)); n /= 20 }
    sb.toString
  }

  /** Zipf(s) vocabulary sampled by inverse CDF. A real corpus's long
    * tail is what sets minhash bucket sizes and candidate volume; a
    * closed few-dozen-word vocabulary would make every doc share
    * shingles with every other.
    */
  final class Vocab(size: Int, s: Double) {
    val words: Array[String] = Array.tabulate(size)(word)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0
      var hi = size - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      words(lo)
    }
  }

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  /** Corpus shape: planted shares of exact copies, near copies (at the
    * edit rates in [[NearRates]]), junk and boilerplate-prefixed docs.
    */
  final case class CorpusSpec(n: Int, vocab: Int = 30000, zipf: Double = 1.05,
                              minWords: Int = 30, maxWords: Int = 90,
                              exactShare: Double = 0.08, nearShare: Double = 0.08,
                              junkShare: Double = 0.04, boilerShare: Double = 0.10,
                              boilerSpans: Int = 16, boilerWords: Int = 12)

  final class Corpus(val spec: CorpusSpec, seed: Long) {
    val vocab = new Vocab(spec.vocab, spec.zipf)
    val boiler: Array[String] = {
      val r = rng(seed, 7)
      Array.fill(spec.boilerSpans)(
        Array.fill(spec.boilerWords)(vocab.words(r.nextInt(spec.vocab))).mkString(" "))
    }

    /** One original document's text: Zipf words with English stopwords
      * sprinkled in (so the language gate passes), a boilerplate prefix
      * for `boilerShare` of docs.
      */
    def original(r: SplittableRandom): String = {
      val n = spec.minWords + r.nextInt(spec.maxWords - spec.minWords + 1)
      val body = Array.fill(n) {
        if (r.nextDouble() < 0.12) Stopwords(r.nextInt(Stopwords.length)) else vocab.sample(r)
      }
      val text = body.mkString(" ")
      if (r.nextDouble() < spec.boilerShare) boiler(r.nextInt(boiler.length)) + " " + text
      else text
    }

    def junk(r: SplittableRandom): String =
      if (r.nextBoolean()) Array.fill(3 + r.nextInt(6))(vocab.sample(r)).mkString(" ")
      else Array.fill(spec.minWords)(vocab.sample(r)).mkString(" ") // no stopword: lang "unk"

    def nearCopy(text: String, rate: Double, r: SplittableRandom): String =
      text.split(" ").map(w => if (r.nextDouble() < rate) vocab.sample(r) else w).mkString(" ")

    /** `n` documents with ids `firstId` onwards; copies only ever copy
      * an earlier document of the same call or one of `pool`.
      */
    def docs(n: Int, firstId: Long, stream: Long, pool: IndexedSeq[Doc] = IndexedSeq.empty)
        : IndexedSeq[Doc] = {
      val r = rng(seed, stream)
      val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
      val originals = new scala.collection.mutable.ArrayBuffer[Doc]()
      originals ++= pool.filter(_.kind == 0)
      var i = 0
      while (i < n) {
        val id = firstId + i
        val u = r.nextDouble()
        val d =
          if (originals.nonEmpty && u < spec.exactShare) {
            val s = originals(r.nextInt(originals.size))
            Doc(id, s.text, 1, s.id, 0.0)
          } else if (originals.nonEmpty && u < spec.exactShare + spec.nearShare) {
            val s = originals(r.nextInt(originals.size))
            val rate = NearRates(r.nextInt(NearRates.length))
            Doc(id, nearCopy(s.text, rate, r), 2, s.id, rate)
          } else if (u < spec.exactShare + spec.nearShare + spec.junkShare) {
            Doc(id, junk(r), 3, -1L, 0.0)
          } else {
            val d0 = Doc(id, original(r), 0, -1L, 0.0)
            originals += d0
            d0
          }
        out += d
        i += 1
      }
      out.toIndexedSeq
    }

    /** A BM25 query: 2-5 words drawn from the same Zipf vocabulary. */
    def query(r: SplittableRandom): String =
      Array.fill(2 + r.nextInt(4))(vocab.sample(r)).mkString(" ")
  }

  /** Clustered unit-scale embeddings: `centers` Gaussian centres plus
    * per-vector noise, so IVF cells hold real neighbourhoods.
    */
  final class Embeddings(dim: Int, centers: Int, seed: Long) {
    private val cs: Array[Array[Double]] = {
      val r = rng(seed, 11)
      Array.fill(centers)(Array.fill(dim)(gauss(r)))
    }
    def vec(r: SplittableRandom): Array[Float] = {
      val c = cs(r.nextInt(centers))
      Array.tabulate(dim)(j => (c(j) + 0.35 * gauss(r)).toFloat)
    }
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; the generator must not depend on java.util.Random state
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Events table row for the typed pipelines. `props` is `{"v":<n>}`,
    * except for a planted share of malformed rows that the pipeline's
    * error mapper must absorb.
    */
  final case class Event(event_id: Long, user_id: Long, kind: String, amount: Double,
                         props: String)

  val EventKinds: Array[String] = Array("view", "click", "cart", "buy", "share")

  def events(n: Int, seed: Long, badShare: Double = 0.03): IndexedSeq[Event] = {
    val r = rng(seed, 13)
    IndexedSeq.tabulate(n) { i =>
      val v = r.nextInt(1000)
      val props =
        if (r.nextDouble() < badShare) {
          if (r.nextBoolean()) s"""{"v":$v""" else s"""{"v":x$v}"""
        } else s"""{"v":$v}"""
      Event(i.toLong, r.nextInt(2000).toLong, EventKinds(r.nextInt(EventKinds.length)),
        math.round(r.nextDouble() * 50000) / 100.0, props)
    }
  }

  /** The typed pipeline's parser; throws on a malformed `props`. */
  def parseV(props: String): Long = {
    if (!props.startsWith("{\"v\":") || !props.endsWith("}"))
      throw new IllegalArgumentException(s"malformed props: $props")
    java.lang.Long.parseLong(props.substring(5, props.length - 1))
  }
}
