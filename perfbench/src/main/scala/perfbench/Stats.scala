package perfbench

/** A reported number with its unit. */
final case class Metric(value: Double, unit: String)

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The highest percentile with at least 10 samples beyond it, as
    * (percentile, value). Below 20 samples that percentile would not
    * reach the median, so the maximum is returned, as percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (100.0, xs.max)
    else {
      // percentile p leaves n * (1 - p) samples beyond it
      val p = math.floor((1.0 - 10.0 / n) * 1000) / 1000
      (p * 100, quantile(xs, p))
    }
  }

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Two blocks run side by side on two threads. */
object Par {
  def both[A, B](a: => A, b: => B): (A, B) = {
    var ra: Option[scala.util.Try[A]] = None
    val t = new Thread(() => ra = Some(scala.util.Try(a)), "perfbench-par")
    t.start()
    val rb = scala.util.Try(b)
    t.join()
    (ra.get.get, rb.get)
  }
}

/** Minimal JSON rendering for result files; no parser is needed. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Metric => obj(Seq("value" -> m.value, "unit" -> m.unit))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
