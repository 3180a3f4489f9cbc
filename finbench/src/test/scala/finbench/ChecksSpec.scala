package finbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.operators.{Clean, Indicators}

/** Every output check passes on right answers and catches one planted
  * wrong answer; the oracle agrees with the engine on generated data.
  */
class ChecksSpec extends AnyFunSuite {

  private val days = Gen.tradingDays(Gen.firstDay, 260)
  private val truth: Map[String, Array[Bar]] =
    (0 until 3).map(i => Gen.series(11, i, days)).map(s => s.head.symbol -> s).toMap

  /** Rows as a correct engine would write them: the oracle's values. */
  private def rowsOf(t: Map[String, Array[Bar]]): Seq[OutRow] = t.toSeq.flatMap { case (s, bars) =>
    val ind = Oracle.compute(bars)
    bars.indices.map(i => OutRow(s, bars(i).date, s"${s}_${bars(i).dateStr}", bars(i).close, ind(i).toIndexedSeq))
  }

  private def perturb(rows: Seq[OutRow], at: Int, col: String): Seq[OutRow] = {
    val c = Oracle.cols.indexOf(col)
    rows.updated(at, rows(at).copy(ind = rows(at).ind.updated(c, rows(at).ind(c).map(_ * (1 + 1e-6)))))
  }

  test("indicators: right answers pass, one perturbed value or a lost row fails") {
    val rows = rowsOf(truth)
    assert(Checks.indicators(truth, rows).isEmpty)
    assert(Checks.indicators(truth, perturb(rows, 250, "sma_200")).nonEmpty)
    assert(Checks.indicators(truth, perturb(rows, 17, "rsi")).nonEmpty)
    assert(Checks.indicators(truth, rows.tail).nonEmpty)
  }

  test("increments: equal to the backfill passes; a perturbed value, a duplicate key or a late row fails") {
    val all = rowsOf(truth)
    val inc = all.filter(_.date.isAfter(days(249)))
    val keys = inc.map(_.key).toSet
    val late = Seq(truth.values.head(10).copy(close = 1.23))
    assert(Checks.incrementsMatchBackfill(inc, all, keys, late, all).isEmpty)
    val bad = perturb(inc, 3, "signal_line")
    assert(Checks.incrementsMatchBackfill(bad, all, keys, late, all).nonEmpty)
    assert(Checks.incrementsMatchBackfill(inc :+ inc.head, all, keys, late, all :+ inc.head).nonEmpty)
    val lateRow = all.head.copy(key = s"${late.head.symbol}_${late.head.dateStr}", close = 1.23)
    assert(Checks.incrementsMatchBackfill(inc, all, keys, late, all :+ lateRow).nonEmpty)
    // OBV restarts at each increment by the engine's semantics: not compared
    assert(Checks.incrementsMatchBackfill(perturb(inc, 3, "obv"), all, keys, late, all).isEmpty)
  }

  test("serving answers: right ones pass, one wrong answer fails") {
    val bars = truth.values.head
    val (from, to) = (bars(100).date, bars(159).date)
    val hist = bars.slice(100, 160).toSeq.map(b => (b.date, b.close))
    assert(Checks.history(bars, from, to, hist).isEmpty)
    assert(Checks.history(bars, from, to, hist.updated(5, (hist(5)._1, hist(5)._2 + 0.01))).nonEmpty)
    assert(Checks.history(bars, from, to, hist.reverse).nonEmpty)

    val latest = truth.toSeq.map { case (s, b) => (s, b.last.date, b.last.close) }
    assert(Checks.latest(truth, latest).isEmpty)
    assert(Checks.latest(truth, latest.updated(0, latest.head.copy(_2 = days(258)))).nonEmpty)

    val date = days(200)
    val movers = Checks.dayChanges(truth, date).sortBy(-_._2)
    assert(Checks.topMovers(truth, date, movers).isEmpty)
    assert(Checks.topMovers(truth, date, movers.reverse).nonEmpty)
    assert(Checks.topMovers(truth, date, movers.updated(0, (movers.head._1, movers.head._2 + 1e-3))).nonEmpty)

    assert(Checks.symbols(truth, truth.keys.toSeq.sorted).isEmpty)
    assert(Checks.symbols(truth, truth.keys.toSeq.sorted.tail).nonEmpty)
  }

  test("stream output: one row per generated key passes; a duplicate es_id or a lost key fails") {
    val g = new Gen.MessageStream(5, 3, 25, 0.05, 500)
    val published = (0 until 2).flatMap(_ => g.nextFile()._2).map(b => (b.symbol, b.dateStr) -> b).toMap
    val rows = published.values.toSeq.map(b => (s"${b.symbol}_${b.dateStr}", b.symbol, b.dateStr, b.close))
    assert(Checks.streamOutput(published, rows).isEmpty)
    assert(Checks.streamOutput(published, rows :+ rows.head).nonEmpty)
    assert(Checks.streamOutput(published, rows.tail).nonEmpty)
    assert(Checks.streamOutput(published, rows.updated(0, rows.head.copy(_4 = 0.5))).nonEmpty)
  }

  test("the oracle agrees with Indicators.withIndicators through the benchmark's clean step") {
    val spark: SparkSession = GraftSession.local(2)
    val bars = Gen.backfill(21, 6, 0.2, 600, 0.01)
    val tr = new Tracer(spark)
    val out = Indicators.withIndicators(Pipeline.clean(tr, Pipeline.rawFrame(spark, bars.toSeq.flatten)),
        Pipeline.window)
      .withColumn("symbol_date_key", Clean.compositeKey(col("symbol"), col("trading_date")))
    val dir = java.nio.file.Files.createTempDirectory("finbench_oracle").toString + "/t"
    out.write.parquet(dir)
    val t = bars.map(b => b.head.symbol -> Pipeline.truthOf(b)).toMap
    assert(bars.exists(_.exists(_.corrupt)))
    assert(Checks.indicators(t, Pipeline.readOut(spark, dir)).isEmpty)
    Pipeline.rmrf(dir)
  }
}
