package perfbench

/** Order statistics for timing samples. */
object Stats {

  /** 1-based nearest rank of quantile `q` among `n` samples. */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `q` quantile. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** Nearest-rank quantile of an ascending array. */
  def quantile(sorted: Array[Long], q: Double): Long = {
    require(sorted.nonEmpty, "no samples")
    sorted(rank(sorted.length, q) - 1)
  }

  /** A tail quantile is reported only when at least ten samples lie
    * beyond it; otherwise the run has too few samples to claim it. */
  def tail(sorted: Array[Long], q: Double): Either[String, Long] =
    if (beyond(sorted.length, q) >= 10) Right(quantile(sorted, q))
    else Left(f"p${q * 100}%.1f needs 10 samples beyond it, have ${beyond(sorted.length, q)} of ${sorted.length}")

  /** The `q` tail of each run of `size` consecutive samples (a partial
    * last run is dropped); `size` must leave ten samples beyond `q`. */
  def groupTails(samples: Array[Long], size: Int, q: Double): Seq[Long] = {
    require(beyond(size, q) >= 10, s"groups of $size leave fewer than ten samples beyond $q")
    samples.grouped(size).filter(_.length == size).map { g =>
      java.util.Arrays.sort(g); quantile(g, q)
    }.toSeq
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
