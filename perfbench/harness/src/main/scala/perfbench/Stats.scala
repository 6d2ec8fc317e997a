package perfbench

/** Summary statistics and the seeded op order: the benchmark's own logic,
  * kept free of Spark so the self-tests can pin it exactly. */
object Stats {

  /** A reported percentile must have at least this many samples beyond it;
    * with fewer, its value is set by a handful of outliers. */
  val MinBeyond = 10

  /** Samples ranked strictly above the q-quantile of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(n * q - 1e-9).toInt

  /** Whether `n` samples carry the q-quantile under the [[MinBeyond]] rule. */
  def supports(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** Highest percentile (in whole percents) that `n` samples carry, or 0. */
  def highestSupported(n: Int): Int =
    (99 to 1 by -1).find(p => supports(n, p / 100.0)).getOrElse(0)

  /** Linear-interpolated quantile (numpy's default rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Op order of one pass: a permutation drawn from (seed, pass), so a
    * seed names the same sequence of passes on every run. Unpermuted mixes
    * (builds, which consume earlier builds) keep their listed order. */
  def order[T](ops: Seq[T], seed: Long, pass: Int, permute: Boolean): Seq[T] =
    if (!permute) ops
    else new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}
