package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Indicators}

/** Hot-key stress lane (`runMain graft.Bench stress skew [sfDir]`) — the
  * measurement behind the engine's central 100× claim. The reference partitions every window by symbol alone
  * (`/root/reference/spark-job/etl_job.py:267`), so ONE symbol's whole
  * history lands in ONE task: the plain paths here are that wall,
  * reproduced by overwriting `symbol` with a single constant so the full
  * sf frame (~600k rows at sf0.1) becomes one window partition. The
  * chunked decompositions (overlap-and-trim for bounded frames, affine-
  * state composition for EMA/Wilder recurrences, summary carry-forward
  * for as-of) split that partition into bounded (symbol, chunk) tasks —
  * result-identical (pinned by ChunkedSpec/AsOfJoinSpec) but parallel.
  *
  * Returns one JSON line:
  *   {"metric":"stress","rows":N,"cpus":C,"pairs":{"indicators":{"plain":s,
  *    "chunked":s},...}}
  * Each side of a pair is the best of `SPARK_GRAFT_BENCH_REPS` runs.
  */
object SkewStress {

  def run(spark: SparkSession, sfDir: String): String = {
    val cpus = GraftSession.cpus

    // ONE symbol's entire history: the skew case the chunked family exists
    // for. The sf frame alone (~600k rows) still single-task-sorts in
    // under a second, so the frame is replicated `scale`× with the date
    // range shifted per replica (the 7-year span is 2557 days) — row
    // order stays total, chunk buckets stay monotone, and the hot key
    // grows to scale·600k rows in ONE window partition, which is where
    // the reference's partition-by-symbol-only layout actually breaks.
    // Chunk width = month: ~84·scale chunks, each ~7k rows — far above
    // the 199-row warm-up minimum chunkedIndicators needs.
    val scale = sys.env.getOrElse("SPARK_GRAFT_STRESS_SCALE", "10").toInt
    val hot = Tables.ohlcv(spark, sfDir)
      .withColumn("symbol", lit("HOT"))
      .withColumn("_rep", explode(sequence(lit(0), lit(scale - 1))))
      .withColumn("trading_date", date_add(col("trading_date"), col("_rep") * 2557))
      .drop("_rep")
    val nRows = hot.count()
    val monthChunk = date_trunc("month", col("trading_date"))
    val w = Indicators.baseWindow()

    // as-of probe/quote frames, all on the hot key: EVERY hot row probes
    // for its prevailing quote — the canonical "trade → latest quote"
    // shape, so the plain path's single-key window really carries
    // 2·nRows stacked rows in ONE task. Quotes stay RAW (duplicate
    // (key, time) rows resolve deterministically to the greatest value on
    // both paths — the asofJoin contract): routing them through
    // latestPerKeyTime would bolt a fine-grained window pass onto BOTH
    // paths equally and measure that shared constant instead of the
    // skew wall (the round-3 bench's mistake — its probes were also a
    // small non-replicated orders frame, so plain≈chunked by
    // construction).
    val quotes = hot.select(col("symbol"), col("trading_date"), col("close"))
    val probes = hot.select(col("symbol"), col("trading_date"),
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .withColumnRenamed("trading_date", "probe_date")

    // (name, plain, chunked, checksum expr): the consumer AGGREGATES the
    // produced columns — a bare count() would let Catalyst prune the
    // unused Window operators and time an empty plan. The checksum also
    // doubles as the cross-path equality probe at this scale (value
    // equality on exact frames is pinned by ChunkedSpec/AsOfJoinSpec;
    // chunk composition associates doubles differently, so sums agree to
    // relative 1e-9, not bitwise).
    val indicatorSum = Indicators.indicatorCols
      .map(c => coalesce(col(c), lit(0.0))).reduce(_ + _)
    val pairs: Seq[(String, () => DataFrame, () => DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("indicators",
        () => Indicators.withIndicators(hot, w),
        () => Indicators.chunkedIndicators(hot, monthChunk),
        indicatorSum),
      // the chunked paths recompute their scan+window diamond: persisting
      // the state frame measured slower on this lane (ema chunked
      // 12→17 s, rsi 27→34 s)
      ("ema_true",
        () => hot.withColumn("ema", Indicators.trueEmaExact(col("close"), 12, w)),
        () => Indicators.chunkedTrueEma(hot, 12, monthChunk, out = "ema"),
        col("ema")),
      ("rsi_wilder",
        () => Indicators.withWilderRsiExact(hot, w),
        () => Indicators.chunkedWilderRsi(hot, monthChunk, out = "rsi_wilder"),
        col("rsi_wilder")),
      // OBV isolated: the one UNBOUNDED running sum in the indicator
      // family — the pure prefix-sum decomposition without the bounded
      // ROWS frames (no warm-up cloning on the chunked path at all)
      ("obv",
        () => Indicators.withObv(hot, w),
        () => Indicators.chunkedObv(hot, monthChunk),
        col("obv")),
      ("asof_join",
        () => AsOfJoin.asofJoin(probes, quotes, "symbol", "probe_date",
          "trading_date", "close", "asof_close"),
        () => AsOfJoin.asofJoinChunked(probes, quotes, "symbol", "probe_date",
          "trading_date", "close", "asof_close", t => date_trunc("month", t)),
        col("asof_close")))

    // optional pair filter (comma list, e.g. "rsi_wilder,asof_join") —
    // lets targeted reruns (x20 scale on just the previously-weak pairs)
    // skip the quarter-hour indicators pair
    val only = sys.env.get("SPARK_GRAFT_STRESS_PAIRS")
      .map(Bench.selectKeys(_, pairs.map(_._1), "SPARK_GRAFT_STRESS_PAIRS pair"))
    val selected = only.fold(pairs)(names => pairs.filter(p => names.contains(p._1)))

    def force(mk: () => DataFrame, chk: org.apache.spark.sql.Column): Double =
      mk().select(sum(chk)).head.getDouble(0)
    def time(mk: () => DataFrame, chk: org.apache.spark.sql.Column): Double =
      Bench.best(spark, Bench.reps)(force(mk, chk))._1

    val results = selected.map { case (name, plain, chunked, chk) =>
      val (sp, sc) = (force(plain, chk), force(chunked, chk))
      // 1e-6 relative: two differently-associated parallel sums of ~10^7
      // doubles legitimately differ by ~n·eps ≈ 1e-9 relative (more under
      // cancellation) — a tolerance at that boundary would abort honest
      // runs at higher SPARK_GRAFT_STRESS_SCALE
      require(math.abs(sp - sc) <= 1e-6 * math.max(math.abs(sp), 1.0),
        s"$name: plain checksum $sp vs chunked $sc")
      val tp = time(plain, chk)
      val tc = time(chunked, chk)
      println(f"[stress] $name%-12s plain=$tp%6.2fs  chunked=$tc%6.2fs  speedup=${tp / tc}%4.1fx")
      name -> ((tp, tc))
    }

    // ---- incremental boundary modes at a hot 6M-row processed history:
    // Truncated (reference semantics: new rows only), OverlapReload
    // without a history bound (tail-finding row_number-sorts the WHOLE
    // history — the honest worst case), and OverlapReload with the
    // realistic time-bound hint (history scan pruned to ~2 chunk-widths
    // before the watermark; the ≤199-row re-read itself is then the only
    // overlap cost). One increment = the last 3 months of the hot frame.
    // a targeted pair rerun (filter set) skips the incremental modes —
    // they measure a different axis (boundary handling, not the chunked
    // window family) — INCLUDING their setup: the max-date aggregation
    // over the hot frame and the temp state dirs are not free either
    val incResults = if (only.isDefined) Nil else {
      val incInput = hot.withColumn("timestamp", to_timestamp(col("trading_date")))
      val maxDate = incInput.agg(max(col("trading_date"))).head.getDate(0)
      val cutoff = java.sql.Date.valueOf(maxDate.toLocalDate.minusDays(90))
      val incOrd = Seq("trading_date", "l_orderkey", "l_linenumber",
        "l_partkey", "l_suppkey", "close", "volume", "open", "low")
      val incBase = java.nio.file.Files.createTempDirectory("graft_inc_stress").toString
      def seedState(name: String): (String, String) = {
        import graft.operators.Incremental.{micros, writeState, Mark, State}
        val state = s"$incBase/wm_$name"
        val mark = Mark(micros(java.sql.Timestamp.valueOf(cutoff.toLocalDate.atStartOfDay())),
          micros(java.time.Instant.now()))
        writeState(spark, state, State(1, org.apache.spark.sql.types.TimestampType, Map("HOT" -> mark), None))
        (state, s"$incBase/out_$name")
      }
      val incModes: Seq[(String, Option[org.apache.spark.sql.Column], graft.operators.Incremental.BoundaryMode)] = Seq(
        ("truncated", None, graft.operators.Incremental.Truncated),
        ("overlap_unbounded", None, graft.operators.Incremental.OverlapReload),
        ("overlap_bounded",
          // a bound safely covering maxFrame-1 = 199 trading rows: 2 months
          // of this frame carries ~14k rows/month at scale 10
          Some(col("timestamp") >= to_timestamp(lit(
            java.sql.Date.valueOf(cutoff.toLocalDate.minusDays(62))))),
          graft.operators.Incremental.OverlapReload))
      incModes.map { case (name, bound, mode) =>
        val (state, out) = seedState(name)
        val (t, (done, n)) = Bench.best(spark, 1) {
          val d = graft.operators.Incremental.runIncremental(
            spark, incInput, state, out, mode, incOrd, bound)
          (d, d.count())
        }
        graft.operators.Checkpoints.release(done)
        println(f"[stress] incremental/$name%-18s $t%6.2fs  ($n rows)")
        name -> t
      }
    }
    val incJson = incResults.map { case (n, t) => s""""$n":$t""" }
      .mkString("{", ",", "}")

    val qs = results.map { case (n, (tp, tc)) =>
      s""""$n":{"plain":$tp,"chunked":$tc}"""
    }.mkString("{", ",", "}")
    s"""{"metric":"stress","rows":$nRows,"cpus":$cpus,"sf":"$sfDir","pairs":$qs,"incremental":$incJson}"""
  }
}
