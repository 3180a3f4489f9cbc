package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Indicators

class IndicatorsSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny OHLCV frame: one symbol, strictly increasing days. */
  private def frame(closes: Seq[Double], vols: Seq[Long] = Nil): DataFrame = {
    val v = if (vols.nonEmpty) vols else closes.map(_ => 10L)
    closes.zip(v).zipWithIndex.map { case ((c, vol), i) =>
      ("S", f"2024-01-${i + 1}%02d", c, c, c, c, vol)
    }.toDF("symbol", "d", "close", "open", "high", "low", "volume")
      .withColumn("trading_date", to_date(col("d")))
  }

  private val w = Window.partitionBy("symbol").orderBy("trading_date")

  test("W1 SMA-5 matches hand computation incl warm-up frames") {
    val closes = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)
    val out = Indicators.withIndicators(frame(closes), w)
      .orderBy("trading_date").select("sma_5").as[Double].collect()
    val expect = closes.indices.map { i =>
      val lo = math.max(0, i - 4); closes.slice(lo, i + 1).sum / (i + 1 - lo)
    }
    out.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("W2 quirk: ema columns are SMA approximations (constant series -> constant)") {
    val out = Indicators.withIndicators(frame(Seq.fill(30)(42.0)), w)
      .orderBy("trading_date")
    val macd = out.select("macd").as[Double].collect()
    assert(macd.forall(_ == 0.0)) // sma12 == sma26 == 42
  }

  test("W8 quirk: all-gains series -> avg_loss=0 -> rs=100 -> rsi = 100-100/101") {
    val out = Indicators.withIndicators(frame((1 to 20).map(_.toDouble)), w)
      .orderBy("trading_date").select("rsi").as[Double].collect()
    val expected = 100.0 - 100.0 / 101.0
    out.foreach(r => assert(math.abs(r - expected) < 1e-12))
  }

  test("W8 RSI bounded 0..100 on mixed series") {
    val closes = Seq(10.0, 12.0, 9.0, 14.0, 7.0, 13.0, 13.0, 2.0, 20.0, 5.0)
    val out = Indicators.withIndicators(frame(closes), w)
      .select("rsi").as[Double].collect()
    out.foreach(r => assert(r >= 0.0 && r <= 100.0))
  }

  test("W9 OBV telescopes: obv(n) - obv(n-1) = signed volume") {
    val closes = Seq(10.0, 12.0, 11.0, 11.0, 15.0)
    val vols = Seq(5L, 7L, 3L, 4L, 6L)
    val out = Indicators.withIndicators(frame(closes, vols), w)
      .orderBy("trading_date").select("obv").as[Double].collect()
    // first row change=null -> sign 0; then +7, -3, 0 (flat), +6
    assert(out.toSeq == Seq(0.0, 7.0, 4.0, 4.0, 10.0))
  }

  test("W6 Bollinger: lower <= middle <= upper; null band on first row") {
    val closes = Seq(10.0, 20.0, 15.0, 30.0, 25.0, 18.0)
    val out = Indicators.withIndicators(frame(closes), w)
      .orderBy("trading_date")
      .select("bb_lower", "bb_middle", "bb_upper").collect()
    assert(out.head.isNullAt(0) && out.head.isNullAt(2)) // stddev of 1 row = null
    out.tail.foreach { r =>
      assert(r.getDouble(0) <= r.getDouble(1) && r.getDouble(1) <= r.getDouble(2))
    }
  }

  test("W10 quirk: week/month pct null->0, day stays null on first row") {
    val out = Indicators.withIndicators(frame(Seq(10.0, 11.0, 12.0)), w)
      .orderBy("trading_date")
      .select("day_change_pct", "week_change_pct", "month_change_pct").collect()
    assert(out.head.isNullAt(0))
    assert(out.head.getDouble(1) == 0.0 && out.head.getDouble(2) == 0.0)
    assert(math.abs(out(1).getDouble(0) - 10.0) < 1e-12)
  }

  test("trueEma matches the sequential recurrence") {
    val closes = Seq(10.0, 12.0, 11.0, 14.0, 13.0, 16.0, 15.0, 18.0)
    val out = frame(closes)
      .withColumn("ema", Indicators.trueEma(col("close"), 12, w))
      .orderBy("trading_date").select("ema").as[Double].collect()
    val alpha = 2.0 / 13
    val expect = closes.tail.scanLeft(closes.head)((acc, x) => x * alpha + acc * (1 - alpha))
    out.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("trueEmaExact (Aggregator UDAF) is BIT-identical to the recurrence loop") {
    val closes = Seq(10.0, 12.0, 11.0, 14.0, 13.0, 16.0, 15.0, 18.0)
    val out = frame(closes)
      .withColumn("ema", Indicators.trueEmaExact(col("close"), 12, w))
      .orderBy("trading_date").select("ema").as[Double].collect()
    val alpha = 2.0 / 13
    val expect = closes.tail.scanLeft(closes.head)((acc, x) => x * alpha + acc * (1 - alpha))
    // unbounded-preceding frame feeds reduce() in order: exact fold, == not ~
    out.zip(expect).foreach { case (g, e) => assert(g == e) }
  }

  test("aggregator EMA agrees with the bounded-fold EMA on real testdata") {
    val base = Tables.ohlcv(spark, sf0001)
    val wt = Window.partitionBy("symbol").orderBy(Queries.tieCols.map(col): _*)
    val both = base
      .withColumn("ema_fold", Indicators.trueEma(col("close"), 26, wt))
      .withColumn("ema_agg", Indicators.trueEmaExact(col("close"), 26, wt))
      .select("ema_fold", "ema_agg").as[(Double, Double)].collect()
    assert(both.length == 6000)
    // fold truncates at 512 rows: difference is below 1e-9 relative
    both.foreach { case (f, a) =>
      assert(math.abs(f - a) <= 1e-9 * math.max(1.0, math.abs(a)), s"$f vs $a")
    }
  }

  test("withWilderRsiExact agrees with the collect_list fold variant") {
    val base = Tables.ohlcv(spark, sf0001)
    val wt = Window.partitionBy("symbol").orderBy(Queries.tieCols.map(col): _*)
    val fold = Indicators.withWilderRsi(base, wt)
      .select("symbol", "trading_date", "l_orderkey", "l_linenumber", "rsi_wilder")
      .orderBy("symbol", "trading_date", "l_orderkey", "l_linenumber")
      .select("rsi_wilder").as[Double].collect()
    val agg = Indicators.withWilderRsiExact(base, wt)
      .select("symbol", "trading_date", "l_orderkey", "l_linenumber", "rsi_wilder")
      .orderBy("symbol", "trading_date", "l_orderkey", "l_linenumber")
      .select("rsi_wilder").as[Double].collect()
    assert(fold.length == agg.length && fold.nonEmpty)
    fold.zip(agg).foreach { case (f, a) =>
      assert(math.abs(f - a) <= 1e-9, s"$f vs $a")
    }
  }

  test("EmaAggregator merge composes affine maps correctly (direct algebra)") {
    // exercise merge() itself — a Spark groupBy with repartition(1) only
    // ever calls merge(zero, buf), which would pass even with the l/r
    // composition swapped. Fold each half separately, merge, and compare
    // against the full sequential recurrence, at every split point.
    val alpha = 2.0 / 13
    val agg = new graft.functions.EmaAggregator(alpha)
    val xs = (1 to 100).map(i => 100.0 + math.sin(i))
    val full = xs.foldLeft(agg.zero)(agg.reduce)
    val expect = xs.reduceLeft((acc, x) => x * alpha + acc * (1 - alpha))
    assert(math.abs(agg.finish(full) - expect) < 1e-12)
    Seq(1, 37, 50, 99).foreach { cut =>
      val (l, r) = xs.splitAt(cut)
      val lb = l.foldLeft(agg.zero)(agg.reduce)
      val rb = r.foldLeft(agg.zero)(agg.reduce)
      val merged = agg.finish(agg.merge(lb, rb))
      assert(math.abs(merged - expect) < 1e-9, s"cut=$cut: $merged vs $expect")
      // composition is NOT commutative — the swapped order must differ
      val swapped = agg.finish(agg.merge(rb, lb))
      assert(math.abs(swapped - expect) > 1e-9, s"cut=$cut: swap undetected")
    }
  }

  test("EmaAggregator windowOnly=true fails fast on a real two-buffer merge") {
    // the window path only ever calls merge(zero, buf) — that must stay
    // legal; merging two NON-EMPTY buffers (what a grouped aggregation
    // over multi-partition input does, in task-completion order) must
    // throw instead of silently returning an order-dependent EMA
    val agg = new graft.functions.EmaAggregator(2.0 / 13, windowOnly = true)
    val lb = Seq(1.0, 2.0).foldLeft(agg.zero)(agg.reduce)
    val rb = Seq(3.0).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(agg.zero, lb)) == agg.finish(lb))
    assert(agg.finish(agg.merge(lb, agg.zero)) == agg.finish(lb))
    intercept[IllegalStateException](agg.merge(lb, rb))
  }

  test("wilder_pair_state fused aggregate == lag + two ema_state composition, bit-for-bit") {
    import org.apache.spark.sql.graftnative.EmaFunctions
    val alpha = 1.0 / 14
    val rows = for (s <- Seq("A", "B"); i <- 0 until 120) yield
      (s, i, 100.0 + 7 * math.sin(i / 5.0) + (if (s == "A") i % 3 else -(i % 4)))
    val df = rows.toDF("symbol", "idx", "close")
    val w = Window.partitionBy("symbol").orderBy("idx")
    val wf = w.rowsBetween(Window.unboundedPreceding, 0)
    def gainOf(c: org.apache.spark.sql.Column) = when(c > 0, c).otherwise(lit(0.0))
    def lossOf(c: org.apache.spark.sql.Column) = when(c < 0, -c).otherwise(lit(0.0))
    val unfused = df
      .withColumn("_chg", col("close") - lag(col("close"), 1).over(w))
      .withColumn("_g", EmaFunctions.ema_state(gainOf(col("_chg")), alpha).over(wf))
      .withColumn("_l", EmaFunctions.ema_state(lossOf(col("_chg")), alpha).over(wf))
      .select(col("symbol"), col("idx"),
        col("_g.cSeeded"), col("_g.c"), col("_g.m"),
        col("_l.cSeeded"), col("_l.c"), col("_l.m"))
      .orderBy("symbol", "idx").collect().toSeq
    val fused = df
      .withColumn("_st",
        EmaFunctions.wilder_pair_state(col("close"), lit(null).cast("double"), alpha).over(wf))
      .select(col("symbol"), col("idx"),
        col("_st.g.cSeeded"), col("_st.g.c"), col("_st.g.m"),
        col("_st.l.cSeeded"), col("_st.l.c"), col("_st.l.m"))
      .orderBy("symbol", "idx").collect().toSeq
    assert(fused == unfused)
    // prevInit seeds the first row's previous value: states must equal
    // the unfused `close − coalesce(lag(close), prevInit)` composition
    // (the pre-fusion pass-B shape) bit-for-bit
    val seeded = df.filter(col("symbol") === "A")
      .withColumn("_st",
        EmaFunctions.wilder_pair_state(col("close"), lit(105.0), alpha).over(wf))
      .select(col("idx"), col("_st.g.cSeeded"), col("_st.l.cSeeded"))
      .orderBy("idx").collect().toSeq
    val coalesced = df.filter(col("symbol") === "A")
      .withColumn("_chg",
        col("close") - coalesce(lag(col("close"), 1).over(w), lit(105.0)))
      .withColumn("_g", EmaFunctions.ema_state(gainOf(col("_chg")), alpha).over(wf))
      .withColumn("_l", EmaFunctions.ema_state(lossOf(col("_chg")), alpha).over(wf))
      .select(col("idx"), col("_g.cSeeded"), col("_l.cSeeded"))
      .orderBy("idx").collect().toSeq
    assert(seeded == coalesced)
  }

  test("wilder_pair_state recovers from a null close exactly like the lag composition") {
    import org.apache.spark.sql.graftnative.EmaFunctions
    val alpha = 1.0 / 14
    // null at idx 5: its own change AND the next row's change are null in
    // the unfused `close - lag(close)` composition (both fold 0); the
    // fused aggregate's NaN-encoded prev must do the same instead of
    // poisoning the states (Spark evaluates NaN > 0 as TRUE)
    val rows: Seq[(Int, Option[Double])] = (0 until 40).map { i =>
      (i, if (i == 5) None else Some(100.0 + 3 * math.sin(i / 3.0) + i % 5))
    }
    val df = rows.toDF("idx", "close")
    val w = Window.orderBy("idx")
    val wf = w.rowsBetween(Window.unboundedPreceding, 0)
    def gainOf(c: org.apache.spark.sql.Column) = when(c > 0, c).otherwise(lit(0.0))
    def lossOf(c: org.apache.spark.sql.Column) = when(c < 0, -c).otherwise(lit(0.0))
    val unfused = df
      .withColumn("_chg", col("close") - lag(col("close"), 1).over(w))
      .withColumn("_g", EmaFunctions.ema_state(gainOf(col("_chg")), alpha).over(wf))
      .withColumn("_l", EmaFunctions.ema_state(lossOf(col("_chg")), alpha).over(wf))
      .select(col("idx"), col("_g.cSeeded"), col("_l.cSeeded"))
      .orderBy("idx").collect().toSeq
    val fused = df
      .withColumn("_st",
        EmaFunctions.wilder_pair_state(col("close"), lit(null).cast("double"), alpha).over(wf))
      .select(col("idx"), col("_st.g.cSeeded"), col("_st.l.cSeeded"))
      .orderBy("idx").collect().toSeq
    assert(fused == unfused)
    // and the states are live again after the gap (not NaN-poisoned)
    assert(fused.drop(7).forall(r => !r.getDouble(1).isNaN && !r.getDouble(2).isNaN))
  }

  test("wilder_pair_state fails fast on grouped (merge-order-dependent) use") {
    import org.apache.spark.sql.graftnative.EmaFunctions
    val df = (1 to 10000).map(i => (i, i * 1.0)).toDF("idx", "close")
      .repartition(4)
    val e = intercept[Exception] {
      df.agg(EmaFunctions.wilder_pair_state(col("close"),
        lit(null).cast("double"), 0.1)).collect()
    }
    assert(e.getMessage.contains("ordered-window-only") ||
      Option(e.getCause).exists(_.getMessage.contains("ordered-window-only")))
  }

  test("EmaAggregator reseeds after a NaN input exactly like the fold variant") {
    val alpha = 2.0 / 13
    val agg = new graft.functions.EmaAggregator(alpha)
    val xs = Seq(10.0, 12.0, Double.NaN, 14.0, 13.0)
    // fold semantics: NaN poisons its own row, next row reseeds
    val foldExpect = xs.tail.scanLeft(xs.head)((acc, x) =>
      if (acc.isNaN) x else x * alpha + acc * (1 - alpha))
    val got = xs.inits.toSeq.reverse.tail // prefixes of length 1..n
      .map(p => agg.finish(p.foldLeft(agg.zero)(agg.reduce)))
    assert(got(2).isNaN && foldExpect(2).isNaN)
    got.zip(foldExpect).filterNot(_._1.isNaN).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"$g vs $e")
    }
    assert(!got.last.isNaN, "aggregator must recover after NaN, not poison the tail")
  }

  test("trueEma and withWilderRsi are bit-equal to a plain-Scala fold: sliding and short frames, NaN and null inputs") {
    // the oracle's fold over each row's last `lookback` values: the first
    // value seeds, a NaN accumulator reseeds from the next value
    def fold(xs: Seq[Double], alpha: Double, lookback: Int): Seq[Double] =
      xs.indices.map { i =>
        xs.slice(math.max(0, i - lookback + 1), i + 1).foldLeft(Double.NaN) { (acc, x) =>
          if (acc.isNaN) x else x * alpha + acc * (1 - alpha)
        }
      }
    // one symbol of 40 rows: a NaN close at 12, a null close at 25
    val closes: Seq[Option[Double]] = (0 until 40).map { i =>
      if (i == 12) Some(Double.NaN) else if (i == 25) None
      else Some(100.0 + 9 * math.sin(i / 3.0) + (i % 7) / 3.0)
    }
    val df = closes.zipWithIndex.map { case (c, i) => ("S", i, c) }
      .toDF("symbol", "idx", "close")
    val wi = Window.partitionBy("symbol").orderBy("idx")
    // UnsafeRow canonicalizes NaN payloads, so NaNs compare as one value
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToLongBits)
    // the null rule: a null counts as NaN, and the next row reseeds
    val xs = closes.map(_.getOrElse(Double.NaN))
    // lookback 8 < 40 rows: frames slide; 512 > 40: every frame is short
    for (lookback <- Seq(8, 512); n <- Seq(12, 26)) {
      val got = df.withColumn("ema", Indicators.trueEma(col("close"), n, wi, lookback))
        .orderBy("idx").select("ema").as[Double].collect().toSeq
      val want = fold(xs, 2.0 / (n + 1), lookback)
      assert(bits(got) == bits(want), s"trueEma n=$n lookback=$lookback: $got vs $want")
      assert(got(25).isNaN && got(26) == closes(26).get, s"null rule, lookback=$lookback")
    }
    // Wilder: a null close folds 0 into gain and loss on its row and the
    // next; a NaN change is a gain (Spark orders NaN above every number)
    val chg = closes.indices.map { i =>
      if (i == 0) None else for (a <- closes(i); b <- closes(i - 1)) yield a - b
    }
    val gains = chg.map { case Some(c) if c.isNaN || c > 0 => c; case _ => 0.0 }
    val losses = chg.map { case Some(c) if !c.isNaN && c < 0 => -c; case _ => 0.0 }
    for (lookback <- Seq(8, 512)) {
      val got = Indicators.withWilderRsi(df, wi, lookback = lookback)
        .orderBy("idx").select("rsi_wilder").as[Double].collect().toSeq
      val want = fold(gains, 1.0 / 14, lookback).zip(fold(losses, 1.0 / 14, lookback)).map {
        case (g, l) => 100.0 - 100.0 / (1.0 + (if (l != 0.0) g / l else 100.0))
      }
      assert(bits(got) == bits(want), s"withWilderRsi lookback=$lookback: $got vs $want")
    }
  }

  test("indicator typed-null padding yields all 15 columns as double") {
    val out = Indicators.withIndicators(frame(Seq(1.0, 2.0)), w)
    Indicators.indicatorCols.foreach { c =>
      assert(out.columns.contains(c), s"missing $c")
      assert(out.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
    }
  }
}
