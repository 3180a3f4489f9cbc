package finbench

import java.time.{DayOfWeek, LocalDate}
import java.util.SplittableRandom

/** One daily OHLCV bar as the crawler delivers it. `corrupt` bars miss
  * their `close` in the raw table (a null field); `Clean.dropNullRows` must
  * drop them, so they are not part of the true series. (A malformed string
  * would not do: under Spark 4's default ANSI mode `Clean.castNumeric`
  * throws on it instead of yielding null.)
  */
final case class Bar(symbol: String, date: LocalDate, open: Double, high: Double,
    low: Double, close: Double, volume: Long, corrupt: Boolean = false) {

  def dateStr: String = date.toString

  /** Raw-table row as landed from a CSV crawl: every field a string. */
  def rawFields: Seq[String] = Seq(symbol, dateStr, Gen.num(open), Gen.num(high),
    Gen.num(low), if (corrupt) null else Gen.num(close), volume.toString,
    s"$dateStr 21:00:00")

  /** Kafka-shaped JSON message (`MicroBatch.ohlcvMessageSchema`). */
  def json: String =
    s"""{"ticker":"$symbol","date":"$dateStr","open":${Gen.num(open)},"high":${Gen.num(high)},""" +
      s""""low":${Gen.num(low)},"close":${Gen.num(close)},"volume":$volume,"timestamp":"$dateStr 21:00:00"}"""
}

/** Seeded input generators. Every symbol's series draws from its own
  * generator, split from (seed, symbol index), so a series does not depend
  * on how many other symbols a workload asks for.
  */
object Gen {

  val firstDay: LocalDate = LocalDate.of(1996, 1, 2)

  def num(x: Double): String = java.lang.Double.toString(x)

  def symbol(i: Int): String = f"S$i%04d"

  /** `n` consecutive weekdays starting at `from` (the trading calendar). */
  def tradingDays(from: LocalDate, n: Int): Array[LocalDate] = {
    val out = new Array[LocalDate](n)
    var d = from
    var i = 0
    while (i < n) {
      if (d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY) {
        out(i) = d; i += 1
      }
      d = d.plusDays(1)
    }
    out
  }

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 1) * 0xBF58476D1CE4E5B9L)

  private def cents(x: Double): Double = math.rint(x * 100) / 100

  /** A geometric random walk of `days.length` bars for symbol `idx`,
    * prices rounded to cents. `corruptShare` of bars (never the first or
    * last) get an unparseable close in the raw table.
    */
  def series(seed: Long, idx: Int, days: Array[LocalDate], corruptShare: Double = 0.0): Array[Bar] = {
    val r = rng(seed, idx)
    val sym = symbol(idx)
    var p = 20.0 + r.nextDouble() * 180.0
    val vol = 0.01 + r.nextDouble() * 0.02
    Array.tabulate(days.length) { i =>
      val open = cents(p)
      p = math.max(1.0, p * math.exp(vol * gaussian(r)))
      val close = cents(p)
      val high = cents(math.max(open, close) * (1 + r.nextDouble() * vol))
      val low = cents(math.min(open, close) * (1 - r.nextDouble() * vol))
      val volume = 10000L + r.nextLong(5000000L)
      val corrupt = i > 0 && i < days.length - 1 && r.nextDouble() < corruptShare
      Bar(sym, days(i), open, high, low, close, volume, corrupt)
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian is
    // not on SplittableRandom)
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Heavy-tailed history lengths: `longShare` of the symbols get
    * `longDays` to 1.25×`longDays` bars, the rest 1 to 3 years. Lengths are
    * stratified over the quantile grid and only their assignment to
    * symbols is shuffled by the seed, so the total row count barely moves
    * between seeds while which symbols are long does.
    */
  def historyLengths(seed: Long, nSymbols: Int, longShare: Double, longDays: Int): Array[Int] = {
    val nLong = math.max(1, math.round(nSymbols * longShare).toInt)
    val nShort = nSymbols - nLong
    val lengths = Array.tabulate(nSymbols) { i =>
      if (i < nShort) 252 + ((i + 0.5) / nShort * 504).toInt
      else longDays + (((i - nShort) + 0.5) / nLong * longDays / 4).toInt
    }
    shuffle(rng(seed, -1), lengths)
  }

  def shuffle(r: SplittableRandom, a: Array[Int]): Array[Int] = {
    val out = a.clone()
    for (i <- out.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
    }
    out
  }

  /** Backfill universe: every series ends on the same last trading day. */
  def backfill(seed: Long, nSymbols: Int, longShare: Double, longDays: Int,
      corruptShare: Double): Array[Array[Bar]] = {
    val lengths = historyLengths(seed, nSymbols, longShare, longDays)
    val maxLen = lengths.max
    val days = tradingDays(firstDay, maxLen)
    Array.tabulate(nSymbols)(i =>
      series(seed, i, days.drop(maxLen - lengths(i)), corruptShare))
  }

  /** Zipf(s) sampler over ranks 0 until n, rank order shuffled by seed. */
  final class Zipf(seed: Long, n: Int, s: Double) {
    private val r = rng(seed, -2)
    private val perm = shuffle(r, Array.range(0, n))
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def next(): Int = {
      val u = r.nextDouble()
      var k = java.util.Arrays.binarySearch(cdf, u)
      if (k < 0) k = -k - 1
      perm(math.min(k, n - 1))
    }
  }

  /** Stream messages: tickers crawled in rounds of `daysPerVisit` days each,
    * with `redeliverShare` of the messages followed by a copy of one of the
    * last `perFile / 5` messages sent, as a consumer re-reading offsets it
    * had not committed does (at-least-once delivery). Returns files of
    * `perFile` lines.
    */
  final class MessageStream(seed: Long, nTickers: Int, daysPerVisit: Int,
      redeliverShare: Double, perFile: Int) {
    private val r = rng(seed, -3)
    private val days = tradingDays(firstDay, 4000)
    private val walks = Array.tabulate(nTickers)(i => series(seed, i, days))
    private val cursor = new Array[Int](nTickers)
    private var ticker = 0
    private var pending = Vector.empty[Bar]
    private val sent = scala.collection.mutable.ArrayBuffer.empty[Bar]

    private def refill(): Unit = {
      val t = ticker
      ticker = (ticker + 1) % nTickers
      val from = cursor(t)
      cursor(t) = from + daysPerVisit
      pending ++= walks(t).slice(from, from + daysPerVisit)
    }

    /** The next file's lines, and the bars it delivers for the first time. */
    def nextFile(): (Seq[String], Seq[Bar]) = {
      val lines = Vector.newBuilder[String]
      val fresh = Vector.newBuilder[Bar]
      var n = 0
      while (n < perFile) {
        val b = if (sent.nonEmpty && r.nextDouble() < redeliverShare)
          sent(sent.length - 1 - r.nextInt(math.min(sent.length, perFile / 5)))
        else {
          if (pending.isEmpty) refill()
          val h = pending.head
          pending = pending.tail
          sent += h
          fresh += h
          h
        }
        lines += b.json
        n += 1
      }
      (lines.result(), fresh.result())
    }
  }
}
