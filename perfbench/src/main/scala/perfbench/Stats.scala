package perfbench

import scala.collection.mutable.ArrayBuffer

/** Latency samples of one op class with honest failure accounting: a
  * failed or wrong op is recorded as a sample at +infinity (it misses every
  * latency limit), it is never retried, and no sample is ever dropped from
  * a percentile.
  */
final class OpLog {
  private val samples = ArrayBuffer.empty[Double]
  private var failures = 0

  def ok(seconds: Double): Unit = samples += seconds

  def fail(): Unit = { failures += 1; samples += Double.PositiveInfinity }

  /** An op whose output check fired after it was timed: its sample turns
    * into a failure in place.
    */
  def markFailed(index: Int): Unit =
    if (!samples(index).isInfinite) {
      samples(index) = Double.PositiveInfinity
      failures += 1
    }

  def attempted: Int = samples.size
  def failed: Int = failures
  def values: IndexedSeq[Double] = samples.toIndexedSeq
}

object Stats {

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Whether `n` samples carry percentile `p` (0 < p < 1): at least
    * [[MinBeyond]] samples lie above it.
    */
  def qualifies(n: Int, p: Double): Boolean =
    n > 0 && math.floor(n * (1.0 - p) + 1e-9) >= MinBeyond

  /** Linear interpolation between closest ranks (Hyndman–Fan type 7, the
    * numpy default). Infinite samples (failures) propagate: a percentile
    * that lands on or next to a failure reads +infinity.
    */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val xs = values.sorted.toIndexedSeq
    val h = (xs.size - 1) * p
    val lo = math.floor(h).toInt
    val frac = h - lo
    if (frac == 0.0 || lo + 1 >= xs.size) xs(lo)
    else if (xs(lo + 1).isInfinite) Double.PositiveInfinity
    else xs(lo) + frac * (xs(lo + 1) - xs(lo))
  }

  def median(values: Seq[Double]): Double = percentile(values, 0.5)

  /** The highest percentile above the median that `n` samples carry, if
    * any (see [[qualifies]]).
    */
  def highestQualified(n: Int): Option[Double] =
    Some(1.0 - MinBeyond.toDouble / n).filter(p => p > 0.5 && qualifies(n, p))
}
