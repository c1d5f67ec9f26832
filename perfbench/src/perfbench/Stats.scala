package perfbench

/** Latency samples of one kind, in milliseconds. */
final class Samples {
  private val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
  def +=(ms: Double): Unit = xs += ms
  def clear(): Unit = xs.clear()
  def size: Int = xs.size
  def values: Seq[Double] = xs.toSeq
  def p50: Double = Stats.median(xs.toSeq)
  /** Interquartile mean: the mean of the middle half of the samples (all
    * of them below four). Steadier than the median on a handful of
    * samples drawn from several operation kinds. */
  def iqm: Double = {
    val s = xs.sorted
    val cut = s.size / 4
    val mid = s.slice(cut, s.size - cut)
    if (mid.isEmpty) Double.NaN else mid.sum / mid.size
  }
  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample; with fewer than eleven samples, the largest. */
  def tail: Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(if (s.size > 10) s.size - 11 else s.size - 1)
  }
  /** The percentile [[tail]] stands at. */
  def tailPercentile: Double =
    if (xs.size <= 10) 100.0 else 100.0 * (xs.size - 10) / xs.size
}

object Stats {
  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Peak resident set size of this JVM, from /proc (Linux). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
