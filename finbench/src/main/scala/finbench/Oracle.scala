package finbench

/** Plain-Scala recomputation of `operators.Indicators.withIndicators` over
  * one symbol's true series (bars sorted by date, corrupt bars removed),
  * written from the indicator definitions and independent of Spark: each
  * windowed mean re-sums its frame oldest to newest, frames are truncated
  * at the start of the series, the Bollinger deviation is the sample
  * standard deviation (undefined below two rows) and RSI's `rs` is 100 when
  * the average loss is 0.
  */
object Oracle {

  /** Output column order of [[compute]], as in `Indicators.indicatorCols`. */
  val cols: Seq[String] = Seq(
    "sma_5", "sma_20", "sma_50", "sma_200",
    "macd", "signal_line", "macd_histogram",
    "bb_middle", "bb_upper", "bb_lower",
    "rsi", "obv", "day_change_pct", "week_change_pct", "month_change_pct")

  private def mean(xs: Array[Double], i: Int, n: Int): Double = {
    val from = math.max(0, i - n + 1)
    var s = 0.0
    var k = from
    while (k <= i) { s += xs(k); k += 1 }
    s / (i - from + 1)
  }

  private def sampleStd(xs: Array[Double], i: Int, n: Int): Option[Double] = {
    val from = math.max(0, i - n + 1)
    val m = i - from + 1
    if (m < 2) None
    else {
      val mu = (from to i).map(xs(_)).sum / m
      Some(math.sqrt((from to i).map(k => (xs(k) - mu) * (xs(k) - mu)).sum / (m - 1)))
    }
  }

  /** One row of indicator values (None = SQL null) per bar. */
  def compute(bars: Array[Bar]): Array[Array[Option[Double]]] = {
    val n = bars.length
    val close = bars.map(_.close)
    val vol = bars.map(_.volume.toDouble)
    val macd = Array.tabulate(n)(i => mean(close, i, 12) - mean(close, i, 26))
    val change = Array.tabulate(n)(i => if (i == 0) None else Some(close(i) - close(i - 1)))
    val gain = change.map { case Some(c) if c > 0 => c; case _ => 0.0 }
    val loss = change.map { case Some(c) if c < 0 => -c; case _ => 0.0 }
    var obv = 0.0
    Array.tabulate(n) { i =>
      obv += (change(i) match {
        case Some(c) if c > 0 => vol(i)
        case Some(c) if c < 0 => -vol(i)
        case _ => 0.0
      })
      val sma20 = mean(close, i, 20)
      val std20 = sampleStd(close, i, 20)
      val signal = mean(macd, i, 9)
      val avgGain = mean(gain, i, 14)
      val avgLoss = mean(loss, i, 14)
      val rs = if (avgLoss != 0) avgGain / avgLoss else 100.0
      def pct(lag: Int): Option[Double] =
        if (i >= lag) Some((close(i) - close(i - lag)) / close(i - lag) * 100) else None
      Array(
        Some(mean(close, i, 5)), Some(sma20), Some(mean(close, i, 50)), Some(mean(close, i, 200)),
        Some(macd(i)), Some(signal), Some(macd(i) - signal),
        Some(sma20), std20.map(s => sma20 + s * 2), std20.map(s => sma20 - s * 2),
        Some(100 - 100 / (1 + rs)), Some(obv), pct(1),
        Some(pct(5).getOrElse(0.0)), Some(pct(20).getOrElse(0.0)))
    }
  }

  /** Relative tolerance for engine-vs-oracle comparisons (absolute below
    * magnitude 1): the engine sums in the same order but computes the
    * standard deviation with an online update, which differs in the last
    * bits.
    */
  val relTol = 1e-9

  def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) => math.abs(x - y) <= relTol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => false
  }
}
