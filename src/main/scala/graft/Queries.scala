package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Clean

/** The driver-facing query inventory (SURVEY §2 query keys) with matching
  * DuckDB oracle SQL. Both sides of each pair are authored together and
  * must hash-match bitwise at sf0.01.
  *
  * == Float-determinism recipe ==
  * The oracle compare is an exact hash, so every query follows these rules:
  *  1. Order-dependent reductions (windowed / grouped SUM, AVG) over clean
  *     2-decimal source columns go through DECIMAL casts — decimal addition
  *     is exact and associative, so Spark's partial aggregation order and
  *     DuckDB's segment-tree order cannot diverge. The final value is one
  *     deterministic `CAST(decimal AS DOUBLE) / CAST(count AS DOUBLE)`.
  *  2. Per-row scalar double arithmetic uses the identical expression tree
  *     on both sides — IEEE 754 ops on identical inputs are bitwise equal.
  *  3. Reductions over *derived* doubles (e.g. the 9-row sum over MACD)
  *     first quantize to a dyadic grid: `floor(x·2^20)/2^20`. Power-of-two
  *     multiply/divide and floor are exact in IEEE 754, and sums of the
  *     quantized values stay below 2^53, making the sum exact and therefore
  *     associativity-independent.
  *  4. Counts are cast to BIGINT in DuckDB (its SUM(BIGINT) is HUGEINT).
  *  5. Every query ends in a total ORDER BY over unique keys.
  */
object Queries {

  case class Q(fn: (SparkSession, String) => DataFrame, sql: Option[String])

  // ---------------------------------------------------------------- shared
  private val PriceDec = Tables.PriceDec

  /** The canonical total order within a symbol on this testdata — reuse
    * this everywhere a deterministic window order is needed. Window order
    * must be TOTAL for deterministic frames. (l_orderkey, l_linenumber,
    * l_partkey, l_suppkey) is unique at sf0.01/sf0.1; the value-column
    * tail covers the one residual collision at sf0.001 (full rows are
    * distinct at every sf).
    */
  val tieCols: Seq[String] = Seq("trading_date", "l_orderkey", "l_linenumber",
    "l_partkey", "l_suppkey", "close", "volume", "open", "low")

  /** Total order by close first — for exact rank-based percentile
    * selection (winsorize). Same uniqueness argument as [[tieCols]].
    */
  private val tieColsByClose: Seq[String] = Seq("close", "trading_date",
    "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  private val CLOSE_ORD =
    "close, trading_date, l_orderkey, l_linenumber, l_partkey, l_suppkey"

  private def W = Window.partitionBy("symbol").orderBy(tieCols.map(col): _*)

  private def f(n: Int) = W.rowsBetween(-n, 0)

  private def closeDec = col("close").cast(PriceDec)

  /** Exact windowed average of `close` over an n-preceding ROWS frame. */
  private def wavg(n: Int): Column =
    sum(closeDec).over(f(n)).cast(DoubleType) /
      count(col("close")).over(f(n)).cast(DoubleType)

  /** Dyadic quantization — see recipe rule 3. */
  private def dyadic(c: Column): Column =
    floor(c * lit(1048576.0)).cast(DoubleType) / lit(1048576.0)

  private val keyCols = Seq("symbol", "trading_date", "l_orderkey",
    "l_linenumber", "l_partkey", "l_suppkey")
  private def keyed(df: DataFrame, extra: Column*): DataFrame =
    df.select(keyCols.map(col) ++ extra: _*)
      .orderBy(keyCols.map(col): _*)

  // SQL-side mirrors
  private val OV = "PARTITION BY symbol ORDER BY trading_date, l_orderkey, l_linenumber, l_partkey, l_suppkey, close, volume, open, low"
  private def frS(n: Int) = s"OVER ($OV ROWS BETWEEN $n PRECEDING AND CURRENT ROW)"
  private val UNB = s"OVER ($OV ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
  private val LAGOV = s"OVER ($OV)"
  private val KEYS = "symbol, trading_date, l_orderkey, l_linenumber, l_partkey, l_suppkey"
  private val ORD = "ORDER BY symbol, trading_date, l_orderkey, l_linenumber, l_partkey, l_suppkey"
  private def sqlWavg(n: Int) =
    s"CAST(SUM(CAST(close AS DECIMAL(12,2))) ${frS(n)} AS DOUBLE) / CAST(COUNT(close) ${frS(n)} AS DOUBLE)"
  private def withBase(body: String) = s"WITH base AS (${Tables.ohlcvSql}) $body"

  private def ohlcv(s: SparkSession, dir: String) = Tables.ohlcv(s, dir)

  // ------------------------------------------------------------ W1: SMA
  private val smaQ = Q(
    (s, dir) => keyed(ohlcv(s, dir),
      wavg(4).as("sma_5"), wavg(19).as("sma_20"),
      wavg(49).as("sma_50"), wavg(199).as("sma_200")),
    Some(withBase(
      s"""SELECT $KEYS, ${sqlWavg(4)} AS sma_5, ${sqlWavg(19)} AS sma_20,
         | ${sqlWavg(49)} AS sma_50, ${sqlWavg(199)} AS sma_200 FROM base $ORD""".stripMargin)))

  // ------------------------------------------------- W2: "EMA" (SMA approx)
  private val emaQ = Q(
    (s, dir) => keyed(ohlcv(s, dir),
      wavg(11).as("ema_12"), wavg(25).as("ema_26")),
    Some(withBase(
      s"SELECT $KEYS, ${sqlWavg(11)} AS ema_12, ${sqlWavg(25)} AS ema_26 FROM base $ORD")))

  // ------------------------------------- W3-W5: MACD / signal / histogram
  private val macdQ = Q(
    (s, dir) => {
      val e = ohlcv(s, dir)
        .withColumn("ema_12", wavg(11)).withColumn("ema_26", wavg(25))
        .withColumn("macd", col("ema_12") - col("ema_26"))
        .withColumn("macd_q", dyadic(col("macd")))
      val sig = e.withColumn("signal_line",
        sum(col("macd_q")).over(f(8)) / count(col("macd_q")).over(f(8)).cast(DoubleType))
      keyed(sig.withColumn("macd_histogram", col("macd") - col("signal_line")),
        col("macd"), col("signal_line"), col("macd_histogram"))
    },
    Some(withBase(
      s""", e AS (SELECT $KEYS, close, volume, open, low, ${sqlWavg(11)} AS ema_12, ${sqlWavg(25)} AS ema_26 FROM base),
         | m AS (SELECT *, ema_12 - ema_26 AS macd FROM e),
         | q AS (SELECT *, CAST(FLOOR(macd * 1048576.0) AS DOUBLE) / 1048576.0 AS macd_q FROM m),
         | sg AS (SELECT *, SUM(macd_q) ${frS(8)} / CAST(COUNT(macd_q) ${frS(8)} AS DOUBLE) AS signal_line FROM q)
         | SELECT $KEYS, macd, signal_line, macd - signal_line AS macd_histogram FROM sg $ORD""".stripMargin)))

  // ----------------------------------------------- W6: Bollinger bands
  private val bollingerQ = Q(
    (s, dir) => {
      // single select → one WindowExec for all three frame aggregates
      // (withColumn would interleave cast Projects and defeat
      // CollapseWindow; see anomaly_zscore / rolling_corr)
      val b = ohlcv(s, dir)
        .select(col("*"),
          count(col("close")).over(f(19)).cast(DoubleType).as("n"),
          sum(closeDec).over(f(19)).cast(DoubleType).as("s1"),
          sum(closeDec * closeDec).over(f(19)).cast(DoubleType).as("s2"))
        .withColumn("bb_middle", col("s1") / col("n"))
        .withColumn("bb_std",
          when(col("n") > 1,
            sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), lit(0.0))))
            .otherwise(lit(null).cast(DoubleType)))
      keyed(b, col("bb_middle"),
        (col("bb_middle") + col("bb_std") * 2).as("bb_upper"),
        (col("bb_middle") - col("bb_std") * 2).as("bb_lower"))
    },
    Some(withBase(
      s""", b1 AS (SELECT $KEYS,
         |  CAST(COUNT(close) ${frS(19)} AS DOUBLE) AS n,
         |  CAST(SUM(CAST(close AS DECIMAL(12,2))) ${frS(19)} AS DOUBLE) AS s1,
         |  CAST(SUM(CAST(close AS DECIMAL(12,2)) * CAST(close AS DECIMAL(12,2))) ${frS(19)} AS DOUBLE) AS s2
         |  FROM base),
         | b2 AS (SELECT *, s1 / n AS bb_middle,
         |  CASE WHEN n > 1 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) ELSE NULL END AS bb_std FROM b1)
         | SELECT $KEYS, bb_middle, bb_middle + bb_std * 2 AS bb_upper,
         |  bb_middle - bb_std * 2 AS bb_lower FROM b2 $ORD""".stripMargin)))

  // --------------------------------------------------------- W8: RSI-14
  private val rsiQ = Q(
    (s, dir) => {
      val r = ohlcv(s, dir)
        .withColumn("chg", closeDec - lag(closeDec, 1).over(W))
        .withColumn("gain", when(col("chg") > 0, col("chg")).otherwise(lit(0)))
        .withColumn("loss", when(col("chg") < 0, -col("chg")).otherwise(lit(0)))
        .withColumn("avg_gain",
          sum(col("gain")).over(f(13)).cast(DoubleType) / count(col("gain")).over(f(13)).cast(DoubleType))
        .withColumn("avg_loss",
          sum(col("loss")).over(f(13)).cast(DoubleType) / count(col("loss")).over(f(13)).cast(DoubleType))
        .withColumn("rs",
          when(col("avg_loss") =!= 0, col("avg_gain") / col("avg_loss")).otherwise(lit(100)))
        .withColumn("rsi", lit(100) - (lit(100) / (lit(1) + col("rs"))))
      keyed(r, col("avg_gain"), col("avg_loss"), col("rsi"))
    },
    Some(withBase(
      s""", r1 AS (SELECT $KEYS, close, volume, open, low,
         |  CAST(close AS DECIMAL(12,2)) - LAG(CAST(close AS DECIMAL(12,2)), 1) $LAGOV AS chg FROM base),
         | r2 AS (SELECT *, CASE WHEN chg > 0 THEN chg ELSE 0 END AS gain,
         |  CASE WHEN chg < 0 THEN -chg ELSE 0 END AS loss FROM r1),
         | r3 AS (SELECT *,
         |  CAST(SUM(gain) ${frS(13)} AS DOUBLE) / CAST(COUNT(gain) ${frS(13)} AS DOUBLE) AS avg_gain,
         |  CAST(SUM(loss) ${frS(13)} AS DOUBLE) / CAST(COUNT(loss) ${frS(13)} AS DOUBLE) AS avg_loss FROM r2),
         | r4 AS (SELECT *, CASE WHEN avg_loss <> 0 THEN avg_gain / avg_loss ELSE 100 END AS rs FROM r3)
         | SELECT $KEYS, avg_gain, avg_loss, 100 - (100 / (1 + rs)) AS rsi FROM r4 $ORD""".stripMargin)))

  // ----------------------------------------------------------- W9: OBV
  private val obvQ = Q(
    (s, dir) => {
      val o = ohlcv(s, dir)
        .withColumn("chg", closeDec - lag(closeDec, 1).over(W))
        .withColumn("vsign",
          when(col("chg") > 0, col("volume"))
            .when(col("chg") < 0, -col("volume"))
            .otherwise(lit(0L)))
        .withColumn("obv", sum(col("vsign")).over(W.rowsBetween(Window.unboundedPreceding, 0)))
      keyed(o, col("obv"))
    },
    Some(withBase(
      s""", o1 AS (SELECT $KEYS, close, volume, open, low,
         |  CAST(close AS DECIMAL(12,2)) - LAG(CAST(close AS DECIMAL(12,2)), 1) $LAGOV AS chg FROM base),
         | o2 AS (SELECT *, CASE WHEN chg > 0 THEN volume WHEN chg < 0 THEN -volume ELSE 0 END AS vsign FROM o1)
         | SELECT $KEYS, CAST(SUM(vsign) $UNB AS BIGINT) AS obv FROM o2 $ORD""".stripMargin)))

  // ----------------------------------------- beyond-reference indicators
  // Standard technical analytics the reference does NOT compute but any
  // user of a finance engine expects: anchored VWAP, drawdown from the
  // running peak, the stochastic oscillator, and ATR. Same determinism
  // recipe as the W-keys: exact decimal/integer running sums, min/max
  // over raw doubles (order-independent), dyadic quantization before any
  // averaging of derived doubles. All share the ONE per-symbol window
  // exchange — each key stays a single-shuffle plan.

  // Anchored VWAP: running Σ(close·volume) / Σ(volume) from series start.
  private val vwapQ = Q(
    (s, dir) => {
      val pv = (closeDec * col("volume")).cast(DecimalType(18, 2))
      val v = ohlcv(s, dir)
        .withColumn("cum_volume", sum(col("volume")).over(W.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("vwap",
          sum(pv).over(W.rowsBetween(Window.unboundedPreceding, 0)).cast(DoubleType) /
            col("cum_volume").cast(DoubleType))
      keyed(v, col("cum_volume"), col("vwap"))
    },
    Some(withBase(
      s""", v1 AS (SELECT $KEYS, close, volume, open, low,
         |  CAST(SUM(volume) $UNB AS BIGINT) AS cum_volume,
         |  CAST(SUM(CAST(CAST(close AS DECIMAL(12,2)) * volume AS DECIMAL(18,2))) $UNB AS DOUBLE) AS spv
         | FROM base)
         | SELECT $KEYS, cum_volume, spv / CAST(cum_volume AS DOUBLE) AS vwap FROM v1 $ORD""".stripMargin)))

  // Drawdown: distance below the running peak close.
  private val drawdownQ = Q(
    (s, dir) => {
      val d = ohlcv(s, dir)
        .withColumn("peak_close", max(col("close")).over(W.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("drawdown", col("close") / col("peak_close") - lit(1.0))
      keyed(d, col("peak_close"), col("drawdown"))
    },
    Some(withBase(
      s""", d1 AS (SELECT $KEYS, close, MAX(close) $UNB AS peak_close FROM base)
         | SELECT $KEYS, peak_close, close / peak_close - 1.0 AS drawdown FROM d1 $ORD""".stripMargin)))

  // Stochastic oscillator: %K over a 14-row high/low channel, %D = 3-row
  // average of (dyadically quantized) %K. A flat channel (hh = ll) yields
  // NULL %K, excluded from %D by both engines' null-skipping AVG.
  private val stochasticQ = Q(
    (s, dir) => {
      val st = ohlcv(s, dir)
        .withColumn("hh", max(col("high")).over(f(13)))
        .withColumn("ll", min(col("low")).over(f(13)))
        .withColumn("pct_k",
          when(col("hh") =!= col("ll"),
            (col("close") - col("ll")) / (col("hh") - col("ll")) * 100))
        .withColumn("k_q", dyadic(col("pct_k")))
        .withColumn("pct_d",
          sum(col("k_q")).over(f(2)) / count(col("k_q")).over(f(2)).cast(DoubleType))
      keyed(st, col("pct_k"), col("pct_d"))
    },
    Some(withBase(
      s""", s1 AS (SELECT $KEYS, close, volume, open, low,
         |  MAX(high) ${frS(13)} AS hh, MIN(low) ${frS(13)} AS ll FROM base),
         | s2 AS (SELECT *, CASE WHEN hh <> ll THEN (close - ll) / (hh - ll) * 100 END AS pct_k FROM s1),
         | s3 AS (SELECT *, CAST(FLOOR(pct_k * 1048576.0) AS DOUBLE) / 1048576.0 AS k_q FROM s2)
         | SELECT $KEYS, pct_k, SUM(k_q) ${frS(2)} / CAST(COUNT(k_q) ${frS(2)} AS DOUBLE) AS pct_d
         | FROM s3 $ORD""".stripMargin)))

  // ATR-14 (SMA form, matching the reference's SMA-everywhere quirk
  // family): true range vs the previous close, averaged over 14 rows
  // after dyadic quantization. Row 1 has no previous close — coalesce to
  // the current close so TR degrades to the plain high-low range.
  private val atrQ = Q(
    (s, dir) => {
      val a = ohlcv(s, dir)
        .withColumn("prev_close", coalesce(lag(col("close"), 1).over(W), col("close")))
        .withColumn("tr", greatest(
          col("high") - col("low"),
          abs(col("high") - col("prev_close")),
          abs(col("low") - col("prev_close"))))
        .withColumn("tr_q", dyadic(col("tr")))
        .withColumn("atr_14",
          sum(col("tr_q")).over(f(13)) / count(col("tr_q")).over(f(13)).cast(DoubleType))
      keyed(a, col("tr"), col("atr_14"))
    },
    Some(withBase(
      s""", a1 AS (SELECT $KEYS, close, volume, open, low, high,
         |  COALESCE(LAG(close, 1) $LAGOV, close) AS prev_close FROM base),
         | a2 AS (SELECT *, greatest(high - low, abs(high - prev_close), abs(low - prev_close)) AS tr FROM a1),
         | a3 AS (SELECT *, CAST(FLOOR(tr * 1048576.0) AS DOUBLE) / 1048576.0 AS tr_q FROM a2)
         | SELECT $KEYS, tr, SUM(tr_q) ${frS(13)} / CAST(COUNT(tr_q) ${frS(13)} AS DOUBLE) AS atr_14
         | FROM a3 $ORD""".stripMargin)))

  // Winsorization: clamp close to its per-symbol [p01, p99] band — the
  // robust-stats cleaning step for fat-fingered prints. Percentiles are
  // EXACT rank selections (value at ceil(q·n) in the close-sorted order),
  // not interpolated: rank selection moves no floats through arithmetic,
  // so both engines pick the identical row. One rank window + a
  // per-symbol conditional aggregate broadcast back to the rows.
  //
  // Scale note: the rank window sorts each symbol's history once — the
  // exact, oracle-able form. At 100 TB the band would come from the GK
  // quantile sketch already demonstrated in corpus_stats_approx (one
  // pass, no sort), with this exact form as its verification twin.
  private val winsorizeQ = Q(
    (s, dir) => {
      val wRank = Window.partitionBy("symbol")
        .orderBy(tieColsByClose.map(col): _*)
      val wSym = Window.partitionBy("symbol")
      val ranked = ohlcv(s, dir)
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wSym))
        .withColumn("lo_rank", greatest(lit(1L), ceil(lit(0.01) * col("n"))))
        .withColumn("hi_rank", least(col("n"), ceil(lit(0.99) * col("n"))))
      val bands = ranked.groupBy("symbol")
        .agg(max(when(col("rn") === col("lo_rank"), col("close"))).as("p01"),
          max(when(col("rn") === col("hi_rank"), col("close"))).as("p99"))
      keyed(ranked.join(broadcast(bands), Seq("symbol"))
          .withColumn("close_w", greatest(least(col("close"), col("p99")), col("p01")))
          .withColumn("is_outlier", col("close") < col("p01") || col("close") > col("p99")),
        col("close"), col("p01"), col("p99"), col("close_w"), col("is_outlier"))
    },
    Some(withBase(
      s""", rk AS (SELECT $KEYS, close,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY $CLOSE_ORD) AS INT) AS rn,
         |   CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n FROM base),
         | rk2 AS (SELECT *, greatest(1, CAST(CEIL(0.01 * n) AS BIGINT)) AS lo_rank,
         |   least(n, CAST(CEIL(0.99 * n) AS BIGINT)) AS hi_rank FROM rk),
         | bands AS (SELECT symbol,
         |   MAX(CASE WHEN rn = lo_rank THEN close END) AS p01,
         |   MAX(CASE WHEN rn = hi_rank THEN close END) AS p99
         |  FROM rk2 GROUP BY symbol)
         | SELECT $KEYS, close, p01, p99,
         |  greatest(least(close, p99), p01) AS close_w,
         |  close < p01 OR close > p99 AS is_outlier
         | FROM rk2 JOIN bands USING (symbol) $ORD""".stripMargin)))

  // Rolling z-score outlier detection: how many trailing-window sample
  // stddevs the close sits from its trailing 20-row mean — the standard
  // cheap anomaly flag for bad prints / halts before robust cleaning.
  // Mean/var come from the exact decimal (n, Σx, Σx²) sums of the
  // Bollinger machinery, so both engines divide the same exact doubles;
  // z itself is then a single IEEE subtract+divide. Plan: rides the ONE
  // shared per-symbol WindowExec (same frame family as SMA/Bollinger) —
  // no extra shuffle at any scale.
  private val anomalyZscoreQ = Q(
    (s, dir) => {
      // one select for all three frame aggregates → ONE WindowExec
      // (a withColumn chain interleaves cast Projects between the Window
      // nodes and defeats CollapseWindow — same lesson as rolling_corr)
      val z = ohlcv(s, dir)
        .select(col("*"),
          count(col("close")).over(f(19)).cast(DoubleType).as("n"),
          sum(closeDec).over(f(19)).cast(DoubleType).as("s1"),
          sum(closeDec * closeDec).over(f(19)).cast(DoubleType).as("s2"))
        .withColumn("roll_mean", col("s1") / col("n"))
        .withColumn("roll_std",
          when(col("n") > 1,
            sqrt(greatest((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), lit(0.0))))
            .otherwise(lit(null).cast(DoubleType)))
        .withColumn("zscore",
          when(col("roll_std") > 0, (col("close") - col("roll_mean")) / col("roll_std")))
        .withColumn("is_anomaly", coalesce(abs(col("zscore")) > 2, lit(false)))
      keyed(z, col("roll_mean"), col("zscore"), col("is_anomaly"))
    },
    Some(withBase(
      s""", z1 AS (SELECT $KEYS, close,
         |  CAST(COUNT(close) ${frS(19)} AS DOUBLE) AS n,
         |  CAST(SUM(CAST(close AS DECIMAL(12,2))) ${frS(19)} AS DOUBLE) AS s1,
         |  CAST(SUM(CAST(close AS DECIMAL(12,2)) * CAST(close AS DECIMAL(12,2))) ${frS(19)} AS DOUBLE) AS s2
         |  FROM base),
         | z2 AS (SELECT *, s1 / n AS roll_mean,
         |  CASE WHEN n > 1 THEN sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) ELSE NULL END AS roll_std FROM z1),
         | z3 AS (SELECT *, CASE WHEN roll_std > 0 THEN (close - roll_mean) / roll_std END AS zscore FROM z2)
         | SELECT $KEYS, roll_mean, zscore,
         |  COALESCE(abs(zscore) > 2, FALSE) AS is_anomaly FROM z3 $ORD""".stripMargin)))

  // Per-symbol quantile summary: exact rank-selected p25/p50/p75/p90/p99
  // of close (same float-free rank selection as winsorize — the value AT
  // row ceil(q·n) of the close-sorted order, no interpolation, so both
  // engines pick the identical row). One rank window + one conditional
  // aggregate per symbol; at 100 TB the one-pass GK-sketch form
  // (corpus_stats_approx) replaces the sort, with this as its exact twin.
  private val quantileStatsQ = Q(
    (s, dir) => {
      val wRank = Window.partitionBy("symbol")
        .orderBy(tieColsByClose.map(col): _*)
      val wSym = Window.partitionBy("symbol")
      val ranked = ohlcv(s, dir)
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wSym))
      val qs = Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75",
        0.90 -> "p90", 0.99 -> "p99")
      val aggs = qs.map { case (q, nm) =>
        max(when(col("rn") ===
          least(col("n"), greatest(lit(1L), ceil(lit(q) * col("n")))), col("close"))).as(nm)
      }
      ranked.groupBy("symbol")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
        .orderBy("symbol")
    },
    Some(withBase(
      s""", rk AS (SELECT symbol, close,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY $CLOSE_ORD) AS INT) AS rn,
         |   CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n FROM base)
         | SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.25 * n) AS BIGINT))) THEN close END) AS p25,
         |  MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.50 * n) AS BIGINT))) THEN close END) AS p50,
         |  MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.75 * n) AS BIGINT))) THEN close END) AS p75,
         |  MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.90 * n) AS BIGINT))) THEN close END) AS p90,
         |  MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.99 * n) AS BIGINT))) THEN close END) AS p99
         | FROM rk GROUP BY symbol ORDER BY symbol""".stripMargin)))

  // One-pass MERGEABLE quantile sketch (⊘): percentile_approx is
  // Spark's Greenwald-Khanna summary — each partition builds a bounded
  // summary, summaries merge associatively, and the final answer
  // carries a deterministic rank guarantee |rank(answer) − ⌈q·n⌉| ≤
  // n/accuracy. That is the 100 TB form of quantile_stats: the exact
  // twin sorts each symbol's partition (fine when a symbol fits a
  // partition), the sketch replaces the sort with one scan + O(acc·log n)
  // state per group, the shape quantiles take when a single key no
  // longer fits anywhere. ⊘ because DuckDB's approx_quantile is a
  // t-digest — a DIFFERENT estimator with different answers — so the
  // contract is the GK rank bound itself, pinned in ScaleOpsSpec
  // against the exact ranks at fixture scale.
  private val quantileSketchQ = Q(
    (s, dir) => {
      val qs = Seq(0.25 -> "p25", 0.50 -> "p50", 0.75 -> "p75",
        0.90 -> "p90", 0.99 -> "p99")
      ohlcv(s, dir).groupBy("symbol")
        .agg(count(lit(1)).as("n_rows"),
          percentile_approx(col("close"),
            array(qs.map { case (q, _) => lit(q) }: _*),
            lit(QuantileSketchAccuracy)).as("_qs"))
        .select(col("symbol") +: col("n_rows") +:
          qs.zipWithIndex.map { case ((_, nm), i) =>
            col("_qs").getItem(i).as(nm) }: _*)
        .orderBy("symbol")
    },
    None)

  /** GK summary accuracy for `quantile_sketch`: rank error ≤ n/accuracy. */
  val QuantileSketchAccuracy = 1000

  // Robust scaling: (close − median) / IQR per symbol — the
  // outlier-insensitive twin of standard_scale (M5) for fat-tailed price
  // features. Quartiles are the same float-free exact rank selections as
  // winsorize/quantile_stats; the per-symbol band broadcasts back.
  private val robustScaleQ = Q(
    (s, dir) => {
      val wRank = Window.partitionBy("symbol")
        .orderBy(tieColsByClose.map(col): _*)
      val wSym = Window.partitionBy("symbol")
      def rk(q: Double) =
        least(col("n"), greatest(lit(1L), ceil(lit(q) * col("n"))))
      val ranked = ohlcv(s, dir)
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wSym))
      val bands = ranked.groupBy("symbol").agg(
        max(when(col("rn") === rk(0.25), col("close"))).as("q1"),
        max(when(col("rn") === rk(0.50), col("close"))).as("med"),
        max(when(col("rn") === rk(0.75), col("close"))).as("q3"))
      keyed(ranked.join(broadcast(bands), Seq("symbol"))
          .withColumn("iqr", col("q3") - col("q1"))
          .withColumn("close_robust",
            when(col("iqr") =!= 0, (col("close") - col("med")) / col("iqr"))),
        col("med"), col("iqr"), col("close_robust"))
    },
    Some(withBase(
      s""", rk AS (SELECT $KEYS, close,
         |   CAST(ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY $CLOSE_ORD) AS INT) AS rn,
         |   CAST(COUNT(*) OVER (PARTITION BY symbol) AS BIGINT) AS n FROM base),
         | bands AS (SELECT symbol,
         |   MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.25 * n) AS BIGINT))) THEN close END) AS q1,
         |   MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.50 * n) AS BIGINT))) THEN close END) AS med,
         |   MAX(CASE WHEN rn = least(n, greatest(1, CAST(CEIL(0.75 * n) AS BIGINT))) THEN close END) AS q3
         |  FROM rk GROUP BY symbol)
         | SELECT $KEYS, med, q3 - q1 AS iqr,
         |  CASE WHEN q3 - q1 <> 0 THEN (close - med) / (q3 - q1) END AS close_robust
         | FROM rk JOIN bands USING (symbol) $ORD""".stripMargin)))

  // ------------------------------------------- W7+W10: lag / pct change
  private val lagPctQ = Q(
    (s, dir) => {
      val l = ohlcv(s, dir)
        .withColumn("prev1", lag(col("close"), 1).over(W))
        .withColumn("prev5", lag(col("close"), 5).over(W))
        .withColumn("prev20", lag(col("close"), 20).over(W))
        .withColumn("day_change_pct", (col("close") - col("prev1")) / col("prev1") * 100)
        .withColumn("week_change_pct",
          when(col("prev5").isNotNull, (col("close") - col("prev5")) / col("prev5") * 100)
            .otherwise(lit(0)))
        .withColumn("month_change_pct",
          when(col("prev20").isNotNull, (col("close") - col("prev20")) / col("prev20") * 100)
            .otherwise(lit(0)))
      keyed(l, col("prev1"), col("day_change_pct"), col("week_change_pct"), col("month_change_pct"))
    },
    Some(withBase(
      s""", l1 AS (SELECT $KEYS, close,
         |  LAG(close, 1) $LAGOV AS prev1, LAG(close, 5) $LAGOV AS prev5, LAG(close, 20) $LAGOV AS prev20 FROM base)
         | SELECT $KEYS, prev1,
         |  (close - prev1) / prev1 * 100 AS day_change_pct,
         |  CASE WHEN prev5 IS NOT NULL THEN (close - prev5) / prev5 * 100 ELSE 0 END AS week_change_pct,
         |  CASE WHEN prev20 IS NOT NULL THEN (close - prev20) / prev20 * 100 ELSE 0 END AS month_change_pct
         | FROM l1 $ORD""".stripMargin)))

  // ----------------------------- fidelity upgrades: true EMA / Wilder RSI
  // Exponential recurrences over a bounded 512-row lookback
  // (Indicators.trueEma / withWilderRsi). The Spark side is the native
  // `ema_run` aggregate over the ROWS frame, which Spark re-runs over the
  // frame in order for every row; its update `α·x + (1−α)·acc`, with a
  // NaN accumulator reseeding from x, has the fold's expression shape, so
  // results are bitwise comparable with DuckDB's `list_reduce` over the
  // same frame's list seeding from its first element.
  private def foldSql(listExpr: String, alpha: String): String =
    s"""list_reduce($listExpr, (acc, x) ->
       | CASE WHEN isnan(acc) THEN x ELSE x * ($alpha) + acc * (1.0 - ($alpha)) END)""".stripMargin

  private val emaTrueQ = Q(
    (s, dir) => {
      import graft.operators.Indicators
      val d = ohlcv(s, dir)
        .withColumn("ema_12_true", Indicators.trueEma(col("close"), 12, W))
        .withColumn("ema_26_true", Indicators.trueEma(col("close"), 26, W))
      keyed(d, col("ema_12_true"), col("ema_26_true"))
    },
    Some(withBase(
      s"""SELECT $KEYS,
         | ${foldSql(s"list(close) OVER ($OV ROWS BETWEEN 511 PRECEDING AND CURRENT ROW)", "2.0/13.0")} AS ema_12_true,
         | ${foldSql(s"list(close) OVER ($OV ROWS BETWEEN 511 PRECEDING AND CURRENT ROW)", "2.0/27.0")} AS ema_26_true
         | FROM base $ORD""".stripMargin)))

  private val rsiWilderQ = Q(
    (s, dir) => {
      import graft.operators.Indicators
      keyed(Indicators.withWilderRsi(ohlcv(s, dir), W), col("rsi_wilder"))
    },
    Some(withBase(
      s""", c1 AS (SELECT $KEYS, close, volume, open, low,
         |   close - LAG(close, 1) $LAGOV AS chg FROM base),
         | c2 AS (SELECT *, CASE WHEN chg > 0 THEN chg ELSE 0.0 END AS gain,
         |   CASE WHEN chg < 0 THEN -chg ELSE 0.0 END AS loss FROM c1),
         | c3 AS (SELECT $KEYS,
         |  ${foldSql(s"list(gain) OVER ($OV ROWS BETWEEN 511 PRECEDING AND CURRENT ROW)", "1.0/14.0")} AS avg_gain,
         |  ${foldSql(s"list(loss) OVER ($OV ROWS BETWEEN 511 PRECEDING AND CURRENT ROW)", "1.0/14.0")} AS avg_loss
         | FROM c2)
         | SELECT $KEYS, 100.0 - (100.0 / (1.0 +
         |   CASE WHEN avg_loss <> 0 THEN avg_gain / avg_loss ELSE 100.0 END)) AS rsi_wilder
         | FROM c3 $ORD""".stripMargin)))

  // Production path for the same recurrences (⊘ oracle): the same native
  // `ema_run` over an unbounded-preceding frame — O(1) state per row and
  // exact rather than lookback-truncated. No SQL mirror (the exact
  // unbounded fold would need an O(n) list per row in DuckDB); agreement
  // with the bounded keys is pinned to 1e-9 in IndicatorsSpec. This key
  // exists so Bench times the path a production cluster would run.
  private val emaRsiProdQ = Q(
    (s, dir) => {
      import graft.operators.Indicators
      val d = Indicators.withWilderRsiExact(
        ohlcv(s, dir)
          .withColumn("ema_12_true", Indicators.trueEmaExact(col("close"), 12, W))
          .withColumn("ema_26_true", Indicators.trueEmaExact(col("close"), 26, W)), W)
      keyed(d, col("ema_12_true"), col("ema_26_true"), col("rsi_wilder"))
    },
    None)

  // ------------------------------------------- S1: watermark scan pushdown
  private val scanWatermarkQ = Q(
    (s, dir) => keyed(
      ohlcv(s, dir).filter(col("timestamp") > to_timestamp(lit("1995-06-17 00:00:00"))),
      col("close"), col("volume")),
    Some(withBase(
      s"""SELECT $KEYS, close, volume FROM base
         | WHERE "timestamp" > TIMESTAMP '1995-06-17 00:00:00' $ORD""".stripMargin)))

  // ------------------------------------------------- A1/A2: watermark max
  private val aggWatermarkQ = Q(
    (s, dir) => ohlcv(s, dir).agg(
      max(col("timestamp")).as("last_processed_timestamp"),
      count(lit(1)).as("n_rows")),
    Some(withBase(
      """SELECT max("timestamp") AS last_processed_timestamp,
        | CAST(COUNT(*) AS BIGINT) AS n_rows FROM base""".stripMargin)))

  // ------------------------------------------------ E1/E3: date salvage
  private val cleanDateQ = Q(
    (s, dir) => {
      val raw = ohlcv(s, dir).withColumn("date",
        when(col("l_orderkey") % 10 === 0, lit("not a date"))
          .otherwise(concat(lit("d:"), date_format(col("trading_date"), "yyyy-MM-dd"))))
      val cleaned = raw.withColumn("salvaged", Clean.salvageDate(col("date")))
      keyed(cleaned, col("date"), col("salvaged"))
    },
    Some(withBase(
      s""", raw AS (SELECT $KEYS,
         |  CASE WHEN l_orderkey % 10 = 0 THEN 'not a date'
         |       ELSE 'd:' || strftime(trading_date, '%Y-%m-%d') END AS "date" FROM base)
         | SELECT $KEYS, "date",
         |  CAST(CASE WHEN regexp_matches("date", '\\d{4}-\\d{2}-\\d{2}')
         |       THEN regexp_extract("date", '(\\d{4}-\\d{2}-\\d{2})', 1) ELSE NULL END AS DATE) AS salvaged
         | FROM raw $ORD""".stripMargin)))

  // ------------------------------------------------- E4: null-row filter
  private val filterNotnullQ = Q(
    (s, dir) => {
      val withNulls = ohlcv(s, dir).withColumn("close",
        when(col("l_orderkey") % 7 === 0, lit(null).cast(DoubleType)).otherwise(col("close")))
      keyed(Clean.dropNullRows(withNulls, Seq("close")), col("close"), col("volume"))
    },
    Some(withBase(
      s""", n1 AS (SELECT $KEYS, CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE close END AS close, volume FROM base)
         | SELECT $KEYS, close, volume FROM n1 WHERE close IS NOT NULL $ORD""".stripMargin)))

  // --------------------------------------------------- E9: NaN→null scrub
  private val nanScrubQ = Q(
    (s, dir) => {
      val dirty = ohlcv(s, dir)
        .withColumn("close", when(col("l_orderkey") % 11 === 0, lit(Double.NaN)).otherwise(col("close")))
        .withColumn("vol_str", when(col("l_orderkey") % 13 === 0, lit("NaN")).otherwise(col("volume").cast(StringType)))
      keyed(Clean.nanScrub(dirty, Seq("close", "vol_str")), col("close"), col("vol_str"))
    },
    Some(withBase(
      s""", d1 AS (SELECT $KEYS,
         |  CASE WHEN l_orderkey % 11 = 0 THEN CAST('NaN' AS DOUBLE) ELSE close END AS close,
         |  CASE WHEN l_orderkey % 13 = 0 THEN 'NaN' ELSE CAST(volume AS VARCHAR) END AS vol_str FROM base)
         | SELECT $KEYS,
         |  CASE WHEN isnan(close) THEN NULL ELSE close END AS close,
         |  CASE WHEN vol_str = 'NaN' THEN NULL ELSE CAST(vol_str AS DOUBLE) END AS vol_str
         | FROM d1 $ORD""".stripMargin)))

  // ------------------------------------------------ E11/S4: composite key
  private val compositeKeyQ = Q(
    (s, dir) => keyed(ohlcv(s, dir),
      Clean.compositeKey(col("symbol"), col("trading_date")).as("symbol_date_key"),
      Clean.compositeKey(col("symbol"), col("trading_date")).as("es_id")),
    Some(withBase(
      s"""SELECT $KEYS,
         | concat_ws('_', symbol, strftime(trading_date, '%Y-%m-%d')) AS symbol_date_key,
         | concat_ws('_', symbol, strftime(trading_date, '%Y-%m-%d')) AS es_id
         | FROM base $ORD""".stripMargin)))

  // ----------------------------------------------------- S8: JSON decode
  private val jsonDecodeQ = Q(
    (s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType)))
      // Two decode paths in one key: (a) the Kafka-message round-trip the
      // reference consumer does (json.loads of a producer-encoded record,
      // consumer.py:118), restated as to_json∘from_json; (b) a REAL json
      // payload — the events table's `props` column — decoded with
      // from_json against a typed schema, the scale path for message
      // payloads (codegen'd Jackson parse, no UDF).
      val propsSchema = StructType(Seq(StructField("k", LongType)))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("props"))
        .select(to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("value"),
          col("props"))
        .select(from_json(col("value"), schema).as("m"),
          from_json(col("props"), propsSchema).getField("k").as("props_k"))
        .select(col("m.event_id"), col("m.user_id"), col("m.event_type"), col("props_k"))
        .filter(col("event_type").isNotNull)
        .orderBy(col("event_id"))
    },
    Some(
      """SELECT event_id, user_id, event_type,
        | CAST(json_extract(props, '$.k') AS BIGINT) AS props_k FROM events
        | WHERE event_type IS NOT NULL ORDER BY event_id""".stripMargin))

  // ------------------------------------------------- A5: distinct symbols
  private val distinctSymbolsQ = Q(
    (s, dir) => ohlcv(s, dir).select("symbol").distinct().orderBy("symbol"),
    Some(withBase("SELECT DISTINCT symbol FROM base ORDER BY symbol")))

  // ------------------------------------------------------ O1: global sort
  private val sortByDateQ = Q(
    (s, dir) => ohlcv(s, dir)
      .select((keyCols.map(col) :+ col("close")): _*)
      .orderBy(col("trading_date"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")),
    Some(withBase(
      s"""SELECT $KEYS, close FROM base
         | ORDER BY trading_date, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)))

  // ---------------------------------------------------------------- map
  val all: Map[String, Q] = core ++ QueriesMeta.all ++ QueriesScale.all ++
    QueriesWarehouse.all ++ QueriesRelational.all

  private lazy val core: Map[String, Q] = Map(
    "sma" -> smaQ,
    "ema_approx" -> emaQ,
    "ema_true" -> emaTrueQ,
    "rsi_wilder" -> rsiWilderQ,
    "ema_rsi_prod" -> emaRsiProdQ,
    "macd" -> macdQ,
    "bollinger" -> bollingerQ,
    "vwap" -> vwapQ,
    "drawdown" -> drawdownQ,
    "stochastic" -> stochasticQ,
    "atr" -> atrQ,
    "winsorize" -> winsorizeQ,
    "anomaly_zscore" -> anomalyZscoreQ,
    "quantile_stats" -> quantileStatsQ,
    "quantile_sketch" -> quantileSketchQ,
    "robust_scale" -> robustScaleQ,
    "rsi" -> rsiQ,
    "obv" -> obvQ,
    "lag_pct_change" -> lagPctQ,
    "scan_watermark_pushdown" -> scanWatermarkQ,
    "agg_watermark_max" -> aggWatermarkQ,
    "clean_date_extract" -> cleanDateQ,
    "filter_notnull" -> filterNotnullQ,
    "nan_scrub" -> nanScrubQ,
    "sink_composite_key" -> compositeKeyQ,
    "json_decode" -> jsonDecodeQ,
    "distinct_symbols" -> distinctSymbolsQ,
    "sort_by_date" -> sortByDateQ
  )
}
