package finbench

object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least 10 samples above it, and
    * its value. Below 20 samples that percentile would sit under the
    * median (and below 11 it does not exist), so the maximum (percentile
    * 100) is reported instead.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.length
    val s = xs.sorted
    if (n < 20) return (100, s.last)
    val pct = math.floor(100.0 * (n - 10) / n).toInt
    // nearest rank: the value at rank ceil(p·n) leaves n − rank ≥ 10 above it
    val rank = math.max(1, math.ceil(pct / 100.0 * n).toInt)
    (pct, s(math.min(rank, n) - 1))
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
