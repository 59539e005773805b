package graftbench

/** Order statistics for latency samples. */
object Stats {
  /** Linear-interpolated quantile `p` in [0, 1] of `xs` (the
    * "inclusive" rule of Python's `statistics.quantiles`). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = p * (s.length - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of quantile `p`: a Beta-weighted average of
    * every order statistic. With the few samples a run holds, a single
    * order statistic jumps between probe paths of different cost; this
    * estimate of the same quantile moves smoothly. */
  def hdQuantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n == 1) return s.head
    val a = (n + 1) * p
    val b = (n + 1) * (1 - p)
    val grid = 20000
    val logPdf = Array.tabulate(grid) { j =>
      val x = (j + 0.5) / grid
      (a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
    }
    val top = logPdf.max
    val pdf = logPdf.map(l => math.exp(l - top))
    val total = pdf.sum
    (0 until n).map { i =>
      var w = 0.0
      var j = i * grid / n
      while (j < (i + 1) * grid / n) { w += pdf(j); j += 1 }
      w / total * s(i)
    }.sum
  }

  /** The tail percentiles a report may quote, highest first. */
  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of [[Ladder]] that leaves at least `beyond`
    * of `n` samples above it, or None when not even the median does. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Ladder.find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)
}

/** Outcome accounting for one kind of timed operation. An operation
  * that throws or whose answer fails its check adds to `failed` and
  * adds no latency sample: a failure can never become a number in a
  * latency statistic. */
final class Ledger {
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0

  /** Times `call` (which must force its whole result), then checks the
    * result outside the timed interval. Returns the latency in ms when
    * the call succeeded and its answer checked out. */
  def run[A](call: => A)(check: A => Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Some(call) catch { case e: Exception =>
      System.err.println(s"[perfbench] call failed: $e"); None }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = res.exists(r => try check(r) catch { case e: Exception =>
      System.err.println(s"[perfbench] check failed: $e"); false })
    if (ok) { samples += ms; Some(ms) } else { failed += 1; None }
  }

  def latencies: Seq[Double] = samples.toSeq
}
