package perfbench

/** Small numeric and hashing helpers shared by the workloads. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); with fewer than 20 samples that rule lands at
    * or below the median, so the tail is then the maximum (p100). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.length
    if (n < 20) (100, xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (p, quantile(xs, p / 100.0))
    }
  }

  /** Order-independent 64-bit hash of a row set: the sum of per-row
    * MurmurHash3 values over the row's fields (NUL-separated). */
  def setHash(rows: Iterable[Seq[Any]]): Long =
    rows.foldLeft(0L) { (acc, r) =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0000"))
      val h2 = scala.util.hashing.MurmurHash3.stringHash(r.reverse.mkString("\u0001"))
      acc + ((h1.toLong << 32) ^ (h2.toLong & 0xffffffffL))
    }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
