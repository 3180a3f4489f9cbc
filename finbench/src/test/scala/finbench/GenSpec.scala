package finbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** The raw table's rows as bytes, one tab-separated row per line. */
  private def rawBytes(bars: Iterable[Bar]): Array[Byte] =
    bars.iterator.map(_.rawFields.map(f => if (f == null) "\\N" else f).mkString("\t"))
      .mkString("\n").getBytes("UTF-8")

  private def backfillBytes(seed: Long) =
    sha(rawBytes(Gen.backfill(seed, Backfill.Symbols, Backfill.LongShare, Backfill.LongDays,
      Backfill.CorruptShare).toSeq.flatten))

  private def dailyBytes(seed: Long) = {
    val days = Gen.tradingDays(Gen.firstDay, DailyTable.BootDays + 10)
    sha(rawBytes((0 until 5).flatMap(i => Gen.series(seed, i, days, DailyTable.CorruptShare))))
  }

  private def streamBytes(seed: Long) = {
    val g = new Gen.MessageStream(seed, Ingest.Tickers, Ingest.DaysPerVisit, Ingest.RedeliverShare, Ingest.PerFile)
    sha((0 until 4).flatMap(_ => g.nextFile()._1).mkString("\n").getBytes("UTF-8"))
  }

  test("the same seed gives identical input bytes, another seed different bytes") {
    for (bytes <- Seq[Long => String](backfillBytes, dailyBytes, streamBytes)) {
      assert(bytes(7) == bytes(7))
      assert(bytes(7) != bytes(8))
    }
  }

  test("backfill history lengths are heavy-tailed and their total barely moves with the seed") {
    val a = Gen.historyLengths(1, 40, 0.03, 5040)
    val b = Gen.historyLengths(2, 40, 0.03, 5040)
    assert(a.count(_ >= 5040) == 1 && a.count(l => l >= 252 && l <= 756) == 39)
    assert(a.sorted.sameElements(b.sorted) && !a.sameElements(b))
  }

  test("stream redeliveries repeat earlier messages and first deliveries are distinct") {
    val g = new Gen.MessageStream(3, 4, 25, 0.05, 500)
    val files = (0 until 6).map(_ => g.nextFile())
    val lines = files.flatMap(_._1)
    val fresh = files.flatMap(_._2)
    assert(fresh.map(b => (b.symbol, b.date)).distinct.length == fresh.length)
    val redelivered = lines.length - fresh.length
    assert(redelivered > 0.03 * lines.length && redelivered < 0.07 * lines.length)
    assert(lines.toSet == fresh.map(_.json).toSet)
  }

  test("tail is the highest percentile with ten samples above it, or the maximum below 20 samples") {
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((50, 10.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((100, 19.0)))
    assert(Stats.tail((1 to 4).map(_.toDouble)) == ((100, 4.0)))
  }
}
