package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Indicators

/** Chunked overlap-and-trim must equal the single-partition window path
  * whenever every chunk holds >= maxFrame-1 rows (SURVEY §4 skew scheme).
  */
class ChunkedSpec extends SparkSpec {
  import spark.implicits._

  test("chunked indicators equal plain indicators on synthetic data") {
    // 2 symbols x 1000 rows, chunks of 250 rows (>= 199 warm-up requirement)
    val rows = for (s <- Seq("A", "B"); i <- 0 until 1000) yield {
      val close = 100.0 + 10 * math.sin(i / 10.0) + (if (s == "A") i % 7 else i % 11)
      (s, i, close, (i % 50) + 1L)
    }
    val df = rows.toDF("symbol", "idx", "close", "volume")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))

    val plainW = Window.partitionBy("symbol").orderBy("trading_date")
    val plain = Indicators.withIndicators(df, plainW)
      .select(col("symbol"), col("trading_date"), col("sma_5"), col("sma_200"),
        col("macd"), col("signal_line"), col("rsi"), col("obv"),
        col("bb_upper"), col("month_change_pct"))
      .orderBy("symbol", "trading_date").collect()

    val chunked = Indicators.chunkedIndicators(df, floor(col("idx") / 250),
        orderCols = Seq("trading_date"))
      .select(col("symbol"), col("trading_date"), col("sma_5"), col("sma_200"),
        col("macd"), col("signal_line"), col("rsi"), col("obv"),
        col("bb_upper"), col("month_change_pct"))
      .orderBy("symbol", "trading_date").collect()

    assert(plain.length == chunked.length)
    plain.zip(chunked).foreach { case (p, c) =>
      assert(p.getString(0) == c.getString(0) && p.getDate(1) == c.getDate(1))
      (2 until p.length).foreach { i =>
        val (a, b) = (p.isNullAt(i), c.isNullAt(i))
        assert(a == b, s"null mismatch col $i at ${p.get(1)}")
        if (!a) assert(math.abs(p.getDouble(i) - c.getDouble(i)) < 1e-9,
          s"col $i at ${p.get(1)}: ${p.getDouble(i)} vs ${c.getDouble(i)}")
      }
    }
  }

  test("chunked EMA equals the sequential recurrence via affine composition") {
    // UNBOUNDED recurrence: overlap-and-trim can't help; the affine-state
    // decomposition must be exact for ANY chunk size — including chunks
    // far smaller than any lookback, where a truncated fold would diverge
    val rows = for (s <- Seq("A", "B"); i <- 0 until 500) yield
      (s, i, 100.0 + 10 * math.sin(i / 10.0) + (if (s == "A") i % 7 else i % 11))
    val df = rows.toDF("symbol", "idx", "close")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))

    val plainW = Window.partitionBy("symbol").orderBy("trading_date")
    Seq(12, 26).foreach { n =>
      val alpha = 2.0 / (n + 1)
      val expect = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)
        .reduceLeft((acc, x) => x * alpha + acc * (1 - alpha))).toMap
      Seq(7, 50, 499).foreach { chunkRows =>
        val got = Indicators.chunkedTrueEma(df, n, floor(col("idx") / chunkRows),
            orderCols = Seq("trading_date"))
          .withColumn("_rn", row_number().over(
            Window.partitionBy("symbol").orderBy(col("trading_date").desc)))
          .filter(col("_rn") === 1)
          .select("symbol", "ema_chunked").as[(String, Double)].collect().toMap
        Seq("A", "B").foreach { s =>
          val (g, e) = (got(s), expect(s))
          assert(math.abs(g - e) <= 1e-9 * math.abs(e),
            s"n=$n chunk=$chunkRows sym=$s: $g vs $e")
        }
      }
      // and the whole series matches the exact aggregator path row-by-row
      val seq = df.withColumn("ema", Indicators.trueEmaExact(col("close"), n, plainW))
        .select("symbol", "trading_date", "ema")
        .orderBy("symbol", "trading_date").as[(String, java.sql.Date, Double)].collect()
      val chk = Indicators.chunkedTrueEma(df, n, floor(col("idx") / 50),
          orderCols = Seq("trading_date"))
        .select("symbol", "trading_date", "ema_chunked")
        .orderBy("symbol", "trading_date").as[(String, java.sql.Date, Double)].collect()
      seq.zip(chk).foreach { case ((s1, d1, a), (s2, d2, b)) =>
        assert(s1 == s2 && d1 == d2)
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)), s"$d1: $a vs $b")
      }
    }
  }

  test("chunked Wilder RSI equals the plain-window exact path") {
    val rows = for (s <- Seq("A", "B"); i <- 0 until 400) yield
      (s, i, 100.0 + 10 * math.sin(i / 9.0) + (if (s == "A") i % 5 else i % 8))
    val df = rows.toDF("symbol", "idx", "close")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))
    val plainW = Window.partitionBy("symbol").orderBy("trading_date")
    val plain = Indicators.withWilderRsiExact(df, plainW)
      .select("symbol", "trading_date", "rsi_wilder")
      .orderBy("symbol", "trading_date").as[(String, java.sql.Date, Double)].collect()
    // 13-row chunks (smaller than the n=14 period): every chunk's RSI
    // depends on cross-chunk state composition, not any warm-up — the
    // chunked Wilder path has none by design
    Seq(13, 100).foreach { chunkRows =>
      val chunked = Indicators.chunkedWilderRsi(df, floor(col("idx") / chunkRows),
          orderCols = Seq("trading_date"))
        .select("symbol", "trading_date", "rsi_wilder_chunked")
        .orderBy("symbol", "trading_date").as[(String, java.sql.Date, Double)].collect()
      assert(plain.length == chunked.length)
      plain.zip(chunked).foreach { case ((s1, d1, a), (s2, d2, b)) =>
        assert(s1 == s2 && d1 == d2)
        assert(math.abs(a - b) <= 1e-9, s"chunk=$chunkRows $d1: $a vs $b")
      }
    }
  }

  test("chunked OBV is exact even with small chunks (offset decomposition)") {
    val rows = (0 until 100).map(i => ("S", i, 100.0 + (i % 13), (i % 5) + 1L))
    val df = rows.toDF("symbol", "idx", "close", "volume")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))
    val plainW = Window.partitionBy("symbol").orderBy("trading_date")
    val plain = Indicators.withIndicators(df, plainW)
      .select("trading_date", "obv").orderBy("trading_date").as[(java.sql.Date, Double)].collect()
    // 10-row chunks with a matching maxFrame: OBV's offset decomposition
    // is chunk-size-free, and shrinking maxFrame keeps the (now enforced)
    // warm-up precondition satisfied — the default 200 would rightly
    // raise on 10-row chunks, which the guard test below pins
    val chunked = Indicators.chunkedIndicators(df, floor(col("idx") / 10),
        orderCols = Seq("trading_date"), maxFrame = 10)
      .select("trading_date", "obv").orderBy("trading_date").as[(java.sql.Date, Double)].collect()
    assert(plain.toSeq == chunked.toSeq)
  }

  test("chunkedIndicators raises loudly when a chunk is narrower than the warm-up") {
    val rows = (0 until 100).map(i => ("S", i, 100.0 + (i % 13), (i % 5) + 1L))
    val df = rows.toDF("symbol", "idx", "close", "volume")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))
    // 10-row chunks against the default maxFrame=200: every feeding chunk
    // violates the >= maxFrame-1 precondition — the result would silently
    // truncate every bounded lookback, so it must raise instead
    val e = intercept[Exception] {
      Indicators.chunkedIndicators(df, floor(col("idx") / 10),
        orderCols = Seq("trading_date")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("widen chunkExpr")),
      s"expected the precondition message, got: ${messages(e).mkString(" | ")}")
  }

  test("standalone chunkedObv equals the plain unbounded window bit-for-bit") {
    // the isolated prefix-sum decomposition (the stress pair's chunked
    // side): no warm-up cloning anywhere, exactness must hold at ANY
    // chunk width including 1-row chunks, and the result is BIT-identical
    // (integer signed-volume sums, association-free)
    val rows = for (s <- Seq("A", "B"); i <- 0 until 500) yield
      (s, i, 100.0 + 10 * math.sin(i / 7.0) + (if (s == "A") i % 5 else i % 9),
        (i % 37) + 1L)
    val df = rows.toDF("symbol", "idx", "close", "volume")
      .withColumn("trading_date", expr("date_add(date '2010-01-01', idx)"))
    val plainW = Window.partitionBy("symbol").orderBy("trading_date")
    val plain = Indicators.withObv(df, plainW)
      .select("symbol", "trading_date", "obv")
      .orderBy("symbol", "trading_date")
      .as[(String, java.sql.Date, Double)].collect().toSeq
    for (width <- Seq(1, 7, 50, 250)) {
      val chunked = Indicators.chunkedObv(df, floor(col("idx") / width),
          orderCols = Seq("trading_date"))
        .select("symbol", "trading_date", "obv")
        .orderBy("symbol", "trading_date")
        .as[(String, java.sql.Date, Double)].collect().toSeq
      assert(plain == chunked, s"chunk width $width diverged")
    }
    // and it matches the obv column of the full indicator pipeline
    val viaPipeline = Indicators.withIndicators(df, plainW)
      .select("symbol", "trading_date", "obv")
      .orderBy("symbol", "trading_date")
      .as[(String, java.sql.Date, Double)].collect().toSeq
    assert(plain == viaPipeline)
  }
}
