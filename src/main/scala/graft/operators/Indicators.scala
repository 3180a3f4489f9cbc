package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Technical-indicator engine — the analytical core of the reference
  * (`/root/reference/spark-job/etl_job.py:271-356`, W1-W10 in SURVEY §2.3).
  *
  * All indicators are built-in window aggregates + column arithmetic — no
  * UDFs anywhere (SURVEY §2.9) — so the whole surface stays inside
  * whole-stage codegen and Catalyst's `ExtractWindowExpressions` groups
  * same-frame functions into shared WindowExec nodes.
  *
  * Reference quirks preserved on purpose (SURVEY §7.4.2):
  *   - "EMA" 12/26 is an SMA approximation (`etl_job.py:294-295`);
  *   - RSI `rs = 100` when avg_loss = 0 (`etl_job.py:312`);
  *   - week/month pct-change null→0 but day-change null stays null
  *     (`etl_job.py:321-333`);
  *   - Bollinger uses sample stddev (`etl_job.py:301`).
  *
  * Scale notes (100 TB): the window partitions by `symbol`; one symbol's
  * full history lands in one task. All frames except OBV are bounded ROWS
  * frames ≤200 rows, so the chunked overlap-and-trim scheme (process date
  * ranges with 199-row tails, drop warm-up rows) keeps partitions bounded;
  * OBV decomposes into per-chunk prefix sums + cumulative chunk offsets
  * (SURVEY §4 skew row). At testdata scale plain partitioning suffices.
  */
object Indicators {

  /** Base window per `etl_job.py:265-269`, with the unique-key tiebreakers
    * required for deterministic results on data where trading_date ties
    * (SURVEY §7.4.1). The default tail includes the value columns because
    * the 4-part lineitem key has one collision at sf0.001 — only the full
    * row set is distinct at every scale factor (see Queries.tieCols).
    */
  def baseWindow(tiebreakers: Seq[String] = Seq("l_orderkey", "l_linenumber",
      "l_partkey", "l_suppkey", "close", "volume", "open", "low")): WindowSpec =
    Window.partitionBy("symbol")
      .orderBy(("trading_date" +: tiebreakers).map(col): _*)

  val indicatorCols: Seq[String] = Seq(
    "sma_5", "sma_20", "sma_50", "sma_200",
    "macd", "signal_line", "macd_histogram",
    "bb_middle", "bb_upper", "bb_lower",
    "rsi", "obv", "day_change_pct", "week_change_pct", "month_change_pct")

  /** Reference-faithful indicator pipeline (`etl_job.py:271-356`): plain
    * double-typed window avgs/stddev. This is the production path; the
    * oracle-deterministic variants live in [[graft.Queries]].
    */
  def withIndicators(df: DataFrame, w: WindowSpec): DataFrame = {
    val close = col("close")
    var d = df
      .withColumn("sma_5", avg(close).over(w.rowsBetween(-4, 0)))
      .withColumn("sma_20", avg(close).over(w.rowsBetween(-19, 0)))
      .withColumn("sma_50", avg(close).over(w.rowsBetween(-49, 0)))
      .withColumn("sma_200", avg(close).over(w.rowsBetween(-199, 0)))
      .withColumn("_ema_12", avg(close).over(w.rowsBetween(-11, 0)))
      .withColumn("_ema_26", avg(close).over(w.rowsBetween(-25, 0)))
      .withColumn("macd", col("_ema_12") - col("_ema_26"))
    d = d.withColumn("signal_line", avg(col("macd")).over(w.rowsBetween(-8, 0)))
      .withColumn("macd_histogram", col("macd") - col("signal_line"))
      .withColumn("bb_middle", avg(close).over(w.rowsBetween(-19, 0)))
      .withColumn("_bb_stddev", stddev(close).over(w.rowsBetween(-19, 0)))
      .withColumn("bb_upper", col("bb_middle") + (col("_bb_stddev") * lit(2)))
      .withColumn("bb_lower", col("bb_middle") - (col("_bb_stddev") * lit(2)))
      .withColumn("_prev_close", lag(close, 1).over(w))
      .withColumn("_price_change", close - col("_prev_close"))
      .withColumn("_gain", when(col("_price_change") > 0, col("_price_change")).otherwise(0))
      .withColumn("_loss", when(col("_price_change") < 0, -col("_price_change")).otherwise(0))
      .withColumn("_avg_gain", avg("_gain").over(w.rowsBetween(-13, 0)))
      .withColumn("_avg_loss", avg("_loss").over(w.rowsBetween(-13, 0)))
      .withColumn("_rs", when(col("_avg_loss") =!= 0, col("_avg_gain") / col("_avg_loss")).otherwise(lit(100)))
      .withColumn("rsi", lit(100) - (lit(100) / (lit(1) + col("_rs"))))
      .withColumn("_volume_sign",
        when(col("_price_change") > 0, col("volume"))
          .when(col("_price_change") < 0, -col("volume"))
          .otherwise(0))
      .withColumn("obv", sum("_volume_sign").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("day_change_pct", (close - col("_prev_close")) / col("_prev_close") * 100)
      .withColumn("_prev_5d_close", lag(close, 5).over(w))
      .withColumn("week_change_pct",
        when(col("_prev_5d_close").isNotNull,
          (close - col("_prev_5d_close")) / col("_prev_5d_close") * 100)
          .otherwise(lit(0)))
      .withColumn("_prev_20d_close", lag(close, 20).over(w))
      .withColumn("month_change_pct",
        when(col("_prev_20d_close").isNotNull,
          (close - col("_prev_20d_close")) / col("_prev_20d_close") * 100)
          .otherwise(lit(0)))
    // drop exactly the temp columns this function created — a blanket
    // underscore-prefix drop would eat caller-owned bookkeeping columns
    d = d.drop("_ema_12", "_ema_26", "_bb_stddev", "_prev_close",
      "_price_change", "_gain", "_loss", "_avg_gain", "_avg_loss", "_rs",
      "_volume_sign", "_prev_5d_close", "_prev_20d_close")
    // typed-null padding + double cast (`etl_job.py:338-349`, E8)
    indicatorCols.foldLeft(d) { (acc, c) =>
      if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast(DoubleType))
      else acc.withColumn(c, lit(null).cast(DoubleType))
    }
  }

  /** Dense per-symbol chunk index (shared by both chunked paths): bucket
    * by `chunkExpr`, dense-rank the tiny distinct chunk set so gaps don't
    * break adjacency, broadcast-join the index back.
    */
  private def withDenseChunkIdx(df: DataFrame, chunkExpr: Column): DataFrame = {
    val withChunk = df.withColumn("chunk_raw", chunkExpr)
    val chunkIdx = withChunk.select(col("symbol"), col("chunk_raw")).distinct()
      .withColumn("chunk_id", dense_rank().over(
        Window.partitionBy("symbol").orderBy("chunk_raw")))
    withChunk.join(broadcast(chunkIdx), Seq("symbol", "chunk_raw"))
  }

  /** Chunked overlap-and-trim indicator pipeline — the 100 TB skew
    * mitigation (SURVEY §4): `partitionBy(symbol)` puts one symbol's whole
    * history in one task, which breaks when a symbol has billions of rows.
    * Instead:
    *
    *  1. rows are bucketed into time chunks (`chunkExpr`, e.g. year), and
    *     chunk indices are densified per symbol so gaps don't break
    *     adjacency (the dense-rank runs on the tiny distinct chunk set);
    *  2. the last `maxFrame−1` rows of each chunk are CLONED into the next
    *     chunk as warm-up context, so every bounded ROWS frame (longest:
    *     SMA-200, and the nested macd→signal chain of depth 33) sees its
    *     full lookback;
    *  3. indicators run windowed by (symbol, chunk) — bounded partitions —
    *     and warm-up rows are trimmed from the output;
    *  4. OBV, the one unbounded running sum, decomposes into a chunk-local
    *     prefix sum plus the cumulative total of prior chunks (a tiny
    *     per-(symbol, chunk) aggregate cumulated and joined back).
    *
    * Exactness requires each warm-up-feeding chunk to hold ≥ maxFrame−1
    * rows (practical at scale). Results are identical to
    * [[withIndicators]] under that condition — and the condition is
    * ENFORCED at runtime: a too-narrow chunkExpr raises instead of
    * silently truncating lookbacks (the per-chunk count rides a narrow
    * two-column aggregate and a broadcast join, negligible next to the
    * window pass itself).
    *
    * `orderCols` MUST totally order rows within (symbol, chunk): the OBV
    * offset recompute re-sorts independently of the indicator window, so
    * a tie would let the two passes disagree. The default is the same
    * value-column-extended total order [[baseWindow]] uses (the bare
    * 4-part lineitem key collides once at sf0.001).
    */
  def chunkedIndicators(df: DataFrame, chunkExpr: Column,
      orderCols: Seq[String] = Seq("trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "close", "volume", "open", "low"),
      maxFrame: Int = 200): DataFrame = {
    val indexed = withDenseChunkIdx(df, chunkExpr)

    // clone each chunk's tail (maxFrame-1 rows) into the next chunk
    val tailW = Window.partitionBy("symbol", "chunk_id")
      .orderBy(orderCols.map(c => col(c).desc): _*)
    val warmup = indexed
      .withColumn("rt_tail", row_number().over(tailW))
      .filter(col("rt_tail") <= maxFrame - 1)
      .drop("rt_tail")
      .withColumn("chunk_id", col("chunk_id") + 1)
      .withColumn("is_warmup", lit(true))
    val staged = indexed.withColumn("is_warmup", lit(false)).unionByName(warmup)

    // bounded-partition window: (symbol, chunk)
    val cw = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
    val computed = withIndicators(staged, cw)

    // OBV fix-up: chunk-local prefix over fresh rows + offset of prior chunks
    val signed = computed
      .withColumn("chg_tmp", col("close") - lag(col("close"), 1).over(cw))
      .withColumn("fresh_sign",
        when(col("is_warmup"), lit(0)).otherwise(
          when(col("chg_tmp") > 0, col("volume"))
            .when(col("chg_tmp") < 0, -col("volume"))
            .otherwise(lit(0))))
      .drop("chg_tmp")
    val localObv = signed
      .withColumn("obv_local", sum(col("fresh_sign")).over(cw.rowsBetween(Window.unboundedPreceding, 0)))

    // per-chunk signed-volume totals from ONE narrow sorted pass over
    // `indexed`, NOT from `localObv`: aggregating the window output would
    // re-execute the whole 15-indicator pipeline a second time (Spark
    // rebuilds diamond branches). Each chunk's boundary summary rides the
    // pass's own window — the chunk total over the full-chunk frame, the
    // first close/volume as running firsts, and a `lead IS NULL` last-row
    // marker — so NO argmax aggregation over the wide order-key struct
    // exists anywhere (max(struct(9 cols)) compares interpreted
    // per row and measured ~2× the cost of the sort itself). The chunk's
    // first change is vs the PREVIOUS chunk's last close, which the
    // narrow pass cannot see; its sign contribution is composed on the
    // tiny per-chunk frame instead (`_boundary` below). Bit-identical to
    // summing fresh_sign: the staged lag's value at a chunk's first fresh
    // row IS the previous chunk's last close (the warm-up clone tail),
    // and integer volume arithmetic has no association sensitivity.
    val offsets = obvChunkOffsets(indexed, orderCols)
    // precondition guard: any chunk that FEEDS warm-up (i.e. has a
    // successor) must carry >= maxFrame-1 rows, or the successor's
    // bounded frames silently see a truncated lookback. The violation is
    // raised from the rows it would corrupt — folded into the kept `obv`
    // column so column pruning can never elide the check.
    val shortPrev = indexed.groupBy(col("symbol"), col("chunk_id"))
      .agg(count(lit(1)).as("_prev_n"))
      .filter(col("_prev_n") < maxFrame - 1)
      .withColumn("chunk_id", col("chunk_id") + 1)
    localObv.join(broadcast(offsets), Seq("symbol", "chunk_id"))
      .join(broadcast(shortPrev), Seq("symbol", "chunk_id"), "left")
      .withColumn("obv",
        when(col("_prev_n").isNotNull, raise_error(concat(
          lit("chunkedIndicators: the chunk feeding chunk_id="),
          col("chunk_id"), lit(" has only "), col("_prev_n"),
          lit(s" rows < maxFrame-1 = ${maxFrame - 1}; widen chunkExpr"))))
        .otherwise((col("obv_local") + col("obv_offset")).cast(DoubleType)))
      .filter(!col("is_warmup"))
      .drop("is_warmup", "chunk_raw", "chunk_id", "obv_local", "obv_offset",
        "fresh_sign", "_prev_n")
  }

  /** Per-(symbol, chunk) OBV offsets from ONE narrow sorted pass over the
    * chunk-indexed frame: each chunk's signed-volume total plus the
    * boundary sign of its first change vs the PREVIOUS chunk's last
    * close (which a chunk-local pass cannot see — composed on the tiny
    * per-chunk frame instead), cumulated exclusively per symbol. Shared
    * by [[chunkedIndicators]] and the standalone [[chunkedObv]]. No
    * argmax aggregation over the wide order-key struct exists anywhere
    * (max(struct(9 cols)) compares interpreted per row and measured ~2×
    * the cost of the sort itself).
    */
  private def obvChunkOffsets(indexed: DataFrame,
      orderCols: Seq[String], includeOwnBoundary: Boolean = false): DataFrame = {
    val narrow = indexed.select(
      (Seq("symbol", "chunk_id") ++ orderCols ++ Seq("close", "volume"))
        .distinct.map(col): _*)
    val narrowCw = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
    val runF = narrowCw.rowsBetween(Window.unboundedPreceding, 0)
    val allF = narrowCw.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perChunk = narrow
      .withColumn("_chg0", col("close") - lag(col("close"), 1).over(narrowCw))
      .withColumn("_sign0",
        when(col("_chg0") > 0, col("volume"))
          .when(col("_chg0") < 0, -col("volume"))
          .otherwise(lit(0L)))
      .withColumn("_chunk_total0", sum(col("_sign0")).over(allF))
      .withColumn("_first_close", first(col("close")).over(runF))
      .withColumn("_first_vol", first(col("volume")).over(runF))
      .withColumn("_is_last", lead(lit(1), 1).over(narrowCw).isNull)
      .filter(col("_is_last"))
      .select(col("symbol"), col("chunk_id"), col("_chunk_total0"),
        col("_first_close"), col("_first_vol"), col("close").as("_last_close"))
    val symW = Window.partitionBy("symbol").orderBy("chunk_id")
    perChunk
      .withColumn("_chg1", col("_first_close") - lag(col("_last_close"), 1).over(symW))
      .withColumn("_boundary",
        when(col("_chg1") > 0, col("_first_vol"))
          .when(col("_chg1") < 0, -col("_first_vol"))
          .otherwise(lit(0L)))
      .withColumn("chunk_total", col("_chunk_total0") + col("_boundary"))
      // the warm-up-free standalone path folds 0 at each chunk's first
      // row (null local lag), so its offset must carry the chunk's OWN
      // boundary sign; the indicator pipeline's warm-up clone supplies
      // that sign locally, so its offset is prior-chunks-only
      .withColumn("obv_offset",
        coalesce(sum(col("chunk_total")).over(
          symW.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) +
          (if (includeOwnBoundary) col("_boundary") else lit(0L)))
      .select(col("symbol"), col("chunk_id"), col("obv_offset"))
  }

  /** Standalone plain OBV — the unbounded running signed-volume sum over
    * one symbol-wide window, exactly the [[withIndicators]] obv column
    * without the other 14 indicators (the isolated form the stress pair
    * measures against [[chunkedObv]]).
    */
  def withObv(df: DataFrame, w: WindowSpec, out: String = "obv"): DataFrame =
    df.withColumn("_chg", col("close") - lag(col("close"), 1).over(w))
      .withColumn("_sign",
        when(col("_chg") > 0, col("volume"))
          .when(col("_chg") < 0, -col("volume"))
          .otherwise(lit(0L)))
      .withColumn(out, sum(col("_sign"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast(DoubleType))
      .drop("_chg", "_sign")

  /** Standalone chunked OBV — SURVEY §4's prefix-sum decomposition on its
    * own: chunk-local running sums over bounded (symbol, chunk)
    * partitions plus the cumulated per-chunk offsets of
    * [[obvChunkOffsets]]. Needs NO warm-up cloning (unlike the bounded
    * ROWS-frame indicators): OBV's only cross-chunk dependency is the
    * previous chunk's last close, and its sign contribution arrives
    * through the boundary term of the offset frame — a chunk's first
    * fresh row folds 0 locally, exactly what the null lag would do.
    * Integer volume arithmetic has no association sensitivity, so the
    * result is BIT-IDENTICAL to [[withObv]] (pinned in ChunkedSpec) while
    * the longest sorted run is one chunk, not one symbol-history.
    */
  def chunkedObv(df: DataFrame, chunkExpr: Column,
      orderCols: Seq[String] = Seq("trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "close", "volume", "open", "low"),
      out: String = "obv"): DataFrame = {
    val indexed = withDenseChunkIdx(df, chunkExpr)
    val cw = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
    val local = indexed
      .withColumn("_chg", col("close") - lag(col("close"), 1).over(cw))
      .withColumn("_sign",
        when(col("_chg") > 0, col("volume"))
          .when(col("_chg") < 0, -col("volume"))
          .otherwise(lit(0L)))
      .withColumn("_obv_local", sum(col("_sign"))
        .over(cw.rowsBetween(Window.unboundedPreceding, 0)))
    local.join(broadcast(
        obvChunkOffsets(indexed, orderCols, includeOwnBoundary = true)),
        Seq("symbol", "chunk_id"))
      .withColumn(out, (col("_obv_local") + col("obv_offset")).cast(DoubleType))
      .drop("_chg", "_sign", "_obv_local", "obv_offset", "chunk_raw", "chunk_id")
  }

  /** True exponential EMA (fidelity upgrade over the reference's SMA
    * approximation, SURVEY §7.3): ema_t = α·x_t + (1−α)·ema_{t−1},
    * α = 2/(n+1), seeded with the first value of the frame. The recurrence
    * runs over a bounded lookback of `lookback` rows — the form the DuckDB
    * oracle mirrors with a `list_reduce` fold over the same frame. The
    * truncation error of an L-row lookback is (1−α)^(L−1) of the older
    * history's weight — for the default L=512: n=12 → ~4e-41, n=26 →
    * ~3e-17, i.e. at or below double precision. (L must grow ~7.7·(n+1)
    * per decimal digit of accuracy.) The native `ema_run` over the
    * bounded ROWS frame is that fold in generated code, bit for bit (see
    * `graftnative.EmaAggregates`; pinned in IndicatorsSpec).
    * [[trueEmaExact]] is the same recurrence over the whole history.
    *
    * Nulls: a null input counts as NaN — that row's EMA is NaN and the
    * next row reseeds, for as long as the null is inside the frame. Every
    * in-repo call site feeds non-null columns.
    */
  def trueEma(close: Column, n: Int, w: WindowSpec, lookback: Int = 512): Column =
    emaOver(close, 2.0 / (n + 1), w.rowsBetween(-(lookback - 1), 0))

  /** True EMA, production path (SURVEY §7.3 option a): the [[trueEma]]
    * recurrence, and its null rule, over an unbounded-preceding frame.
    * O(1) state per row and EXACT, where the bounded lookback truncates
    * ~1e-17 of the weight; the oracle can only mirror the bounded fold.
    */
  def trueEmaExact(close: Column, n: Int, w: WindowSpec): Column =
    emaOver(close, 2.0 / (n + 1), w.rowsBetween(Window.unboundedPreceding, 0))

  /** The one EMA body: native `ema_run` over the given ordered frame. */
  private def emaOver(x: Column, alpha: Double, frame: WindowSpec): Column =
    org.apache.spark.sql.graftnative.EmaFunctions.ema_run(x, alpha).over(frame)

  /** Chunked exact EMA — the skew answer for UNBOUNDED exponential
    * recurrences, where [[chunkedIndicators]]' overlap-and-trim cannot
    * apply (the lookback is the entire history, not a bounded frame). The
    * affine-map state of the native `ema_state` aggregate
    * ([[org.apache.spark.sql.graftnative.EmaStateAgg]]) makes the
    * recurrence chunk-parallel EXACTLY:
    *
    *  1. within each (symbol, chunk) — a bounded partition — the state
    *     aggregate yields per-row (cSeeded, c, m);
    *  2. the chunk's last-row state summarizes the whole chunk; the tiny
    *     per-symbol summary set folds in chunk order,
    *     s_k = c_end(k) + m_end(k)·s_{k−1} with s_1 = cSeeded_end(1),
    *     giving each chunk its incoming EMA;
    *  3. per row: ema = cSeeded (first chunk) or c + m·s_{k−1} (later) —
    *     a broadcast join of the summary table back onto the rows.
    *
    * No warm-up clones, no trimming, exact for ANY chunk sizes (the
    * composition is the same associative affine algebra as the state's
    * merge; association differs from the pure sequential fold by O(ulp)).
    * Requires NaN-free input: NaN is the "no prior chunk" sentinel here,
    * so the reseed-on-NaN semantics of the row-level aggregate do not
    * extend across chunk boundaries.
    *
    * `chunkExpr` must bucket the `orderCols` order MONOTONICALLY (all of
    * chunk k's rows sort before chunk k+1's — e.g. `year(trading_date)`,
    * `date_trunc`), the same contract as
    * [[graft.operators.AsOfJoin.asofJoinChunked]]'s `chunkOf`. Unlike
    * [[chunkedIndicators]], NO dense chunk re-indexing happens here: the
    * affine fold and the prior-chunk lag only need chunk ORDER, which
    * gaps cannot break — dropping the dense_rank removes one distinct
    * aggregation plus one broadcast join from EVERY re-execution of the
    * lineage (the chunk-summary branch re-runs it). The default
    * `orderCols` is the FULL total order on the OHLCV testdata
    * ([[baseWindow]]'s value-column tail included): the bare 4-part
    * lineitem key has one collision at sf0.001, and a tied pair would
    * make both the state window and the chunk-summary pick
    * nondeterministic.
    */
  def chunkedTrueEma(df: DataFrame, n: Int, chunkExpr: Column,
      orderCols: Seq[String] = Seq("trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "close", "volume", "open", "low"),
      valueCol: String = "close", out: String = "ema_chunked"): DataFrame =
    chunkedEmaAlpha(df.withColumn("chunk_id", chunkExpr), 2.0 / (n + 1),
      orderCols, Seq(valueCol -> out))
      .drop("chunk_id")

  /** Incoming affine state of a chunk: folds the end states of its PRIOR
    * chunks (in chunk order) left to right, seeded by the first one. NaN
    * for a symbol's first chunk, which has no prior state.
    */
  private def foldPrev(prevs: Column): Column =
    when(size(prevs) === 0, lit(Double.NaN)).otherwise(
      aggregate(prevs, lit(Double.NaN),
        (acc, s) => when(isnan(acc), s.getField("cSeeded"))
          .otherwise(s.getField("c") + s.getField("m") * acc)))

  /** Alpha-parametrized core of [[chunkedTrueEma]], operating on an
    * already-indexed frame (must carry a `chunk_id` column whose values
    * order consistently with `orderCols` — see [[chunkedTrueEma]]'s
    * monotone-chunk contract). Takes SEVERAL (valueCol → out) recurrences
    * at once so they share one WindowExec, one summary aggregation, and
    * one join — Wilder's gain and loss smoothings ([[chunkedWilderRsi]])
    * halve their heavy stages this way.
    */
  private def chunkedEmaAlpha(indexed: DataFrame, alpha: Double,
      orderCols: Seq[String], cols: Seq[(String, String)]): DataFrame = {
    def stateAgg(c: Column) =
      org.apache.spark.sql.graftnative.EmaFunctions.ema_state(c, alpha)
    def st(i: Int) = s"_st_$i"

    // all recurrences over the SAME window spec → one WindowExec pass
    val cw = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withState = cols.zipWithIndex.foldLeft(indexed) {
      case (d, ((valueCol, _), i)) =>
        d.withColumn(st(i), stateAgg(col(valueCol)).over(cw))
    }

    // chunk summaries: the last row's states per (symbol, chunk), from a
    // NARROW projection — chunk key + order + value columns only — with
    // its own state window, and the last row is picked by a
    // `lead(1) IS NULL` marker inside that SAME window pass: zero extra
    // sort, zero aggregation. (The previous argmax formulation —
    // max(struct(orderCols ++ states)) — compared a 9-field struct
    // interpreted per row and measured ~2× the cost of the sort it was
    // avoiding.)
    val cwPlain = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
    val narrowCols = (Seq("symbol", "chunk_id") ++ orderCols ++ cols.map(_._1)).distinct
    val summaries = cols.zipWithIndex.foldLeft(indexed.select(narrowCols.map(col): _*)) {
      case (d, ((valueCol, _), i)) =>
        d.withColumn(st(i), stateAgg(col(valueCol)).over(cw))
    }
      .withColumn("_is_last", lead(lit(1), 1).over(cwPlain).isNull)
      .filter(col("_is_last"))
      .select(Seq(col("symbol"), col("chunk_id")) ++
        cols.indices.map(i => col(st(i)).as(s"_end_$i")): _*)
    // incoming state per chunk: fold PRIOR chunk summaries in order (the
    // collect_list frame is the per-symbol chunk count — tiny)
    val prevW = Window.partitionBy("symbol").orderBy("chunk_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val incoming = cols.indices.foldLeft(summaries) { (d, i) =>
      d.withColumn(s"_s_prev_$i", foldPrev(collect_list(col(s"_end_$i")).over(prevW)))
    }.select(Seq(col("symbol"), col("chunk_id")) ++
      cols.indices.map(i => col(s"_s_prev_$i")): _*)

    val joined = withState.join(broadcast(incoming), Seq("symbol", "chunk_id"))
    cols.zipWithIndex.foldLeft(joined) { case (d, ((_, out), i)) =>
      d.withColumn(out,
        when(isnan(col(s"_s_prev_$i")), col(s"${st(i)}.cSeeded"))
          .otherwise(col(s"${st(i)}.c") + col(s"${st(i)}.m") * col(s"_s_prev_$i")))
        .drop(st(i), s"_s_prev_$i")
    }
  }

  /** Chunked Wilder RSI — the full chunk decomposition of
    * [[withWilderRsiExact]], closing the last unbounded recurrence in the
    * indicator family. Exactly TWO passes over the data, each one
    * shuffle + one bounded sort:
    *
    *  - **pass A (narrow)**: over (chunk key, orderCols, close) only, one
    *    sorted window computes the in-chunk price changes (the chunk's
    *    FIRST change, which needs the previous chunk's last close, is
    *    folded as 0 for now), the running gain/loss affine states, the
    *    chunk's first close, and a `lead(1) IS NULL` last-row marker —
    *    the surviving one-row-per-chunk summaries need no argmax
    *    aggregation and no second sort;
    *  - **tiny algebra**: on the per-chunk frame (thousands of rows, not
    *    billions), the previous chunk's last close gives the true first
    *    gain/loss g₁, and the forced-0 states are corrected analytically:
    *    the state algebra gives end = rest ∘ f(g₁) with
    *    `cSeeded += (m/β)·g₁`, `c += (m/β)·α·g₁`, `m` unchanged (β ≠ 0
    *    for any real period n ≥ 2). The corrected ends fold into each
    *    chunk's incoming state exactly as in [[chunkedTrueEma]];
    *  - **pass B (main)**: the SAME forced-0 fused state window over the
    *    bare frame — the broadcast per-chunk context (true first
    *    gain/loss g₁ + incoming states) joins ABOVE the window, so the
    *    big exchange+sort never moves a joined row. The first-row
    *    correction applies per ROW, not just at chunk ends
    *    (s_j^true − s_j^forced = (m_j/β)·g₁ for every prefix j), and the
    *    output is `corrected.c + m·s_prev` (or `corrected.cSeeded` for
    *    the first chunk). Both passes use the fused
    *    [[org.apache.spark.sql.graftnative.WilderPairStateAgg]] — lag +
    *    gain/loss smoothing in ONE window aggregate (the unfused form
    *    stacked a second WindowExec on the lag's output). Measured on
    *    the 6M-row hot-key stress pair: 12.1 s → 6.8 s chunked
    *    (plain 17.3 s → 2.5× margin; the join-below-window shape alone
    *    cost 2.7 s of sorted post-join row width).
    *
    * `chunkExpr` must bucket the order monotonically (see
    * [[chunkedTrueEma]]; gaps are fine — the prior-chunk lag and fold
    * only need chunk ORDER, so no dense re-indexing happens).
    * First-chunk values are bit-identical to the plain path; later
    * chunks differ only by affine-composition association, O(ulp).
    * Agreement with the plain-window path is pinned by ChunkedSpec.
    */
  def chunkedWilderRsi(df: DataFrame, chunkExpr: Column,
      orderCols: Seq[String] = Seq("trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "close", "volume", "open", "low"),
      n: Int = 14, out: String = "rsi_wilder_chunked"): DataFrame = {
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    val indexed = df.withColumn("chunk_id", chunkExpr)
    val cwPlain = Window.partitionBy("symbol", "chunk_id").orderBy(orderCols.map(col): _*)
    val cwf = cwPlain.rowsBetween(Window.unboundedPreceding, 0)
    def gainOf(chg: Column) = when(chg > 0, chg).otherwise(lit(0.0))
    def lossOf(chg: Column) = when(chg < 0, -chg).otherwise(lit(0.0))

    // pass A: narrow per-chunk boundary summaries in one sorted window.
    // The first in-chunk row's lag is null, so gainOf/lossOf fold it as
    // 0 — identical to how the plain path treats the first row of the
    // whole SERIES, and corrected for interior chunks below.
    val narrowCols = (Seq("symbol", "chunk_id") ++ orderCols ++ Seq("close")).distinct
    // fused lag+gain+loss state: the unfused form's state aggregates
    // consume the lag's OUTPUT column, and a window-over-window
    // dependency stacks a second WindowExec — a second full pass over
    // every sorted partition. One native wilder_pair_state aggregate
    // (bit-identical arithmetic, pinned by ChunkedSpec) folds both
    // smoothings and the previous-close tracking in the single pass that
    // also carries first()/lead().
    def pairState(prevInit: Column) =
      org.apache.spark.sql.graftnative.EmaFunctions
        .wilder_pair_state(col("close"), prevInit, alpha)
    val perChunk = indexed.select(narrowCols.map(col): _*)
      .withColumn("_st", pairState(lit(null).cast("double")).over(cwf))
      .withColumn("_first_close", first(col("close")).over(cwf))
      .withColumn("_is_last", lead(lit(1), 1).over(cwPlain).isNull)
      .filter(col("_is_last"))
      .select(col("symbol"), col("chunk_id"), col("_first_close"),
        col("close").as("_last_close"),
        col("_st.g").as("_st_g"), col("_st.l").as("_st_l"))

    // tiny algebra: true first gain/loss from the previous chunk's last
    // close; analytic first-row correction of the forced-0 states. For a
    // symbol's FIRST chunk _chg1 is null → g₁ = l₁ = 0 → the correction
    // adds exact 0.0 and the end state is bit-identical to the fold.
    val symW = Window.partitionBy("symbol").orderBy("chunk_id")
    def fix(stc: Column, g1: Column) = struct(
      (stc.getField("cSeeded") + stc.getField("m") / lit(beta) * g1).as("cSeeded"),
      (stc.getField("c") + stc.getField("m") / lit(beta) * (lit(alpha) * g1)).as("c"),
      stc.getField("m").as("m"))
    val ends = perChunk
      .withColumn("_prev_close", lag(col("_last_close"), 1).over(symW))
      .withColumn("_chg1", col("_first_close") - col("_prev_close"))
      .select(col("symbol"), col("chunk_id"),
        gainOf(col("_chg1")).as("_g1g"), lossOf(col("_chg1")).as("_g1l"),
        fix(col("_st_g"), gainOf(col("_chg1"))).as("_end_g"),
        fix(col("_st_l"), lossOf(col("_chg1"))).as("_end_l"))

    // incoming state per chunk: fold PRIOR chunk end states in order
    // (collect_list frame = the per-symbol chunk count — tiny)
    val prevW = symW.rowsBetween(Window.unboundedPreceding, -1)
    val incoming = ends
      .withColumn("_sp_g", foldPrev(collect_list(col("_end_g")).over(prevW)))
      .withColumn("_sp_l", foldPrev(collect_list(col("_end_l")).over(prevW)))
      .select(col("symbol"), col("chunk_id"), col("_g1g"), col("_g1l"),
        col("_sp_g"), col("_sp_l"))

    // pass B: the SAME forced-0 state window over the BARE frame, join
    // ABOVE the window. Joining below it (the previous shape) forced the
    // big exchange+sort to move post-join rows widened by the broadcast
    // context — measured 2.7 s/6M rows slower than sorting the bare
    // frame. The end-state fix algebra holds for EVERY prefix j of a
    // chunk, not just its last row (s_j^true − s_j^forced = β^{j−1}·g₁ =
    // (m_j/β)·g₁ for the seeded series, α-scaled for the affine const),
    // so the per-row true states come from the forced fold plus the
    // broadcast (g₁, incoming) context — no sorted pass ever sees a
    // joined row. For a symbol's first chunk g₁ = 0 and the correction
    // adds exact 0.0: first-chunk bit-identity with the plain path holds.
    def outOf(stc: Column, g1: Column, sp: Column) = {
      val corrSeeded = stc.getField("cSeeded") +
        stc.getField("m") / lit(beta) * g1
      val corrC = stc.getField("c") +
        stc.getField("m") / lit(beta) * (lit(alpha) * g1)
      when(isnan(sp), corrSeeded).otherwise(corrC + stc.getField("m") * sp)
    }
    indexed
      .withColumn("_st", pairState(lit(null).cast("double")).over(cwf))
      .join(broadcast(incoming), Seq("symbol", "chunk_id"))
      .withColumn(out, rsiFrom(
        outOf(col("_st.g"), col("_g1g"), col("_sp_g")),
        outOf(col("_st.l"), col("_g1l"), col("_sp_l"))))
      .drop("chunk_id", "_st", "_g1g", "_g1l", "_sp_g", "_sp_l")
  }

  /** The reference's RSI combination quirk, shared by every Wilder path:
    * rs saturates to 100 when the average loss is exactly zero
    * (`etl_job.py:312` fidelity contract — keep all copies identical).
    */
  private def rsiFrom(avgGain: Column, avgLoss: Column): Column =
    lit(100.0) - (lit(100.0) / (lit(1.0) +
      when(avgLoss =!= 0, avgGain / avgLoss).otherwise(lit(100.0))))

  /** Wilder-smoothed RSI (fidelity upgrade over W8's plain-SMA variant,
    * SURVEY §7.3): avg_gain_t = (avg_gain_{t−1}·(n−1) + gain_t)/n — the
    * same exponential recurrence as EMA with α = 1/n, seeded by the first
    * value. Same bounded lookback and the same `ema_run` body as
    * [[trueEma]], bit-equal to the oracle's `list_reduce` fold: the
    * default 512-row lookback truncates (1−1/14)^511 ≈ 4e-17 of the
    * weight — below double precision. Gains and losses are never null
    * (a null close folds 0 on its own row and the next), so [[trueEma]]'s
    * null rule cannot arise here.
    */
  def withWilderRsi(df: DataFrame, w: WindowSpec, n: Int = 14, lookback: Int = 512): DataFrame =
    wilderRsi(df, w, n, w.rowsBetween(-(lookback - 1), 0))

  /** Wilder RSI, production path: the [[withWilderRsi]] recurrence over an
    * unbounded frame — O(1) state per row, and exact rather than
    * lookback-truncated.
    */
  def withWilderRsiExact(df: DataFrame, w: WindowSpec, n: Int = 14): DataFrame =
    wilderRsi(df, w, n, w.rowsBetween(Window.unboundedPreceding, 0))

  /** The one Wilder body: lag-derived gains and losses, each smoothed by
    * [[emaOver]] (α = 1/n) over `frame`.
    */
  private def wilderRsi(df: DataFrame, w: WindowSpec, n: Int, frame: WindowSpec): DataFrame =
    // gains/losses materialized first: the recurrence window cannot nest
    // the lag window in a single pass
    df.withColumn("w_chg", col("close") - lag(col("close"), 1).over(w))
      .withColumn("w_gain", when(col("w_chg") > 0, col("w_chg")).otherwise(lit(0.0)))
      .withColumn("w_loss", when(col("w_chg") < 0, -col("w_chg")).otherwise(lit(0.0)))
      .withColumn("w_avg_gain", emaOver(col("w_gain"), 1.0 / n, frame))
      .withColumn("w_avg_loss", emaOver(col("w_loss"), 1.0 / n, frame))
      .withColumn("rsi_wilder", rsiFrom(col("w_avg_gain"), col("w_avg_loss")))
      .drop("w_chg", "w_gain", "w_loss", "w_avg_gain", "w_avg_loss")
}
