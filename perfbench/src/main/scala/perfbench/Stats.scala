package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** A tail latency: `value` is the sample at percentile `pct`, the
    * highest percentile that still has at least [[TailBeyond]] samples
    * above it, out of `n` samples. */
  final case class Tail(value: Double, pct: Double, n: Int)

  val TailBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: with the
    * samples sorted ascending, the value at 1-based rank n − 10, which is
    * percentile 100·(n − 10)/n. Needs n ≥ 11; fewer samples have no such
    * percentile. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.size
    if (n <= TailBeyond) None
    else {
      val rank = n - TailBeyond
      Some(Tail(xs.sorted.apply(rank - 1), 100.0 * rank / n, n))
    }
  }
}
