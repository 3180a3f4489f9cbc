package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental (watermark-bounded) batch processing — the reference's core
  * orchestration semantic (`etl_job.py:99-120,159-198,489-513`; SURVEY §2.8):
  *
  *  - a per-symbol high watermark = max(timestamp) of the last processed
  *    batch, persisted in a small state table;
  *  - each run keeps only rows with timestamp > watermark, computes
  *    indicators, appends, advances the watermark. The watermark filter
  *    compares against a column joined from the state table, so it cannot
  *    push into the source scan: every run reads its whole input once.
  *    `historyBound` sits in the same filter (fresh rows are exempt from
  *    it), so it cannot prune the scan either; it bounds the rows that
  *    reach the exchange and the sort;
  *  - late rows older than the watermark are silently skipped forever
  *    (documented reference behavior — no event-time lateness).
  *
  * Window-boundary semantics (SURVEY §7.4.3): the reference computes
  * indicators over ONLY the new rows, so the first 199 rows of each
  * increment see truncated SMA-200 frames. Both behaviors are offered:
  * `Truncated` replicates the reference; `OverlapReload` keeps
  * (frame−1) rows of history per symbol, computes over the overlap, and
  * trims the warm-up rows — exact indicators at ~1 extra frame of window
  * work per symbol.
  *
  * Single pass: one scan of the input feeds everything a run produces.
  * OverlapReload keeps fresh rows and bounded history rows in one filter,
  * then ranks the history tail with running counts over the indicator
  * window itself, so one hash exchange and one sort serve both the tail
  * selection and the indicators. The processed rows are checkpointed once;
  * the append and the new watermarks (max(timestamp) per symbol over the
  * checkpointed rows, which are exactly the fresh rows in both modes) both
  * read the checkpoint, never the input.
  */
object Incremental {

  sealed trait BoundaryMode
  case object Truncated extends BoundaryMode
  case object OverlapReload extends BoundaryMode

  val maxFrame = 200 // longest ROWS frame in the indicator set (SMA-200)

  private val wmSchema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("last_processed_timestamp", TimestampType),
    StructField("updated_at", TimestampType)))

  /** Read the watermark state table (empty frame when absent). */
  def readWatermarks(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nonEmpty(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    if (nonEmpty(stateDir)) spark.read.parquet(stateDir)
    else if (nonEmpty(stateDir + "_bak")) spark.read.parquet(stateDir + "_bak")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], wmSchema)
  }

  /** Upsert new per-symbol watermarks (keep the max per symbol) — the
    * `etl_watermarks` upsert at `etl_job.py:110-120`.
    */
  def advanceWatermarks(spark: SparkSession, stateDir: String, newWm: DataFrame): Unit = {
    val merged = readWatermarks(spark, stateDir)
      .unionByName(newWm.withColumn("updated_at", current_timestamp()))
      .groupBy("symbol")
      .agg(max("last_processed_timestamp").as("last_processed_timestamp"),
        max("updated_at").as("updated_at"))
    // small state table; swap via backup so a crash mid-swap never loses
    // the watermark table (readWatermarks falls back to the .bak copy)
    val tmp = stateDir + "_tmp"
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val state = new org.apache.hadoop.fs.Path(stateDir)
    val bak = new org.apache.hadoop.fs.Path(stateDir + "_bak")
    val fs = state.getFileSystem(conf)
    // the backup must survive until the new state is promoted: a recovery
    // run (only _bak present) goes straight to the promote step. Hadoop
    // rename() reports failure via its return value — treat false as
    // fatal or the delete below could destroy the only surviving copy.
    def renameOrDie(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(src, dst), s"watermark state rename failed: $src -> $dst")
    if (fs.exists(state)) {
      fs.delete(bak, true)
      renameOrDie(state, bak)
    }
    renameOrDie(new org.apache.hadoop.fs.Path(tmp), state)
    fs.delete(bak, true)
  }

  /** One incremental run: filter past watermarks, compute indicators,
    * append idempotently (dedup key), advance watermarks. Returns the
    * newly processed frame, locally checkpointed: the caller owns its
    * blocks and should `unpersist()` it when done.
    */
  // orderCols has NO default on purpose: it must be a total order on the
  // caller's data (Queries.tieCols for the OHLCV testdata) and no single
  // column set is total on every frame — a silent wrong default made
  // window frames nondeterministic.
  /** `historyBound`: optional predicate bounding the OverlapReload
    * history rows (e.g. `col("timestamp") >= <watermark − 2 years>`).
    * Without it, the indicator sort covers the ENTIRE processed history
    * to find the last 199 rows per symbol. A caller always knows a safe
    * time bound covering maxFrame−1 trading rows; with it, the shuffle
    * and sort cost is O(bound), independent of history size (the scan
    * still reads the whole input, see the object doc). It applies to
    * history rows only: fresh rows are never bounded.
    * Contract: the bound must keep ≥ maxFrame−1 rows per symbol, else
    * the first new rows see partially truncated frames.
    */
  def runIncremental(spark: SparkSession, input: DataFrame, stateDir: String,
      outDir: String, mode: BoundaryMode, orderCols: Seq[String],
      historyBound: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val processed = process(input, readWatermarks(spark, stateDir), mode, orderCols, historyBound)

    // Materialize before advancing the watermark: the plan reads the state
    // table, which is rewritten below — a lazily returned frame would
    // otherwise silently re-filter against the NEW watermark.
    // localCheckpoint truncates the lineage (no re-eval hazard); the
    // append and the watermark aggregate below read its blocks, not the
    // input.
    val keyed = processed.withColumn("symbol_date_key",
      Clean.compositeKey(col("symbol"), col("trading_date"))).localCheckpoint(true)
    // At-least-once, like the reference's Mongo append (etl_job.py:389-394):
    // a crash between this append and the watermark advance duplicates the
    // increment on retry; symbol_date_key lets downstream consumers dedup
    // (the reference's ES-upsert semantics).
    keyed.write.mode(SaveMode.Append).partitionBy("symbol").parquet(outDir)

    // keyed holds exactly the fresh rows, so its per-symbol max is the new
    // watermark. One small collect replaces an emptiness probe plus a
    // re-scan of the input; the rows go back into a frame with the
    // aggregate's own schema so a TIMESTAMP_NTZ input keeps NTZ state.
    val newWm = keyed.groupBy("symbol").agg(max("timestamp").as("last_processed_timestamp"))
    val wmRows = newWm.collect()
    if (wmRows.nonEmpty)
      advanceWatermarks(spark, stateDir,
        spark.createDataFrame(java.util.Arrays.asList(wmRows: _*), newWm.schema))
    keyed
  }

  /** The rows one run processes, with indicators, given the watermark
    * state `wmState` (a `readWatermarks` frame). Lazy: one scan of
    * `input`, and for OverlapReload one hash exchange on `symbol`.
    */
  private[graft] def process(input: DataFrame, wmState: DataFrame, mode: BoundaryMode,
      orderCols: Seq[String], historyBound: Option[org.apache.spark.sql.Column]): DataFrame = {
    val wm = wmState.select(col("symbol"), col("last_processed_timestamp").as("_wm"))
    val withWm = input.join(broadcast(wm), Seq("symbol"), "left")
    val isFresh = col("_wm").isNull || col("timestamp") > col("_wm")

    // orderCols must be a TOTAL order within each symbol or window results
    // are nondeterministic (Queries.tieCols is the canonical testdata set)
    val w = Window.partitionBy("symbol").orderBy(orderCols.map(col): _*)
    mode match {
      case Truncated =>
        // reference behavior: indicators over new rows only
        Indicators.withIndicators(withWm.filter(isFresh).drop("_wm"), w)
      case OverlapReload =>
        // exact: include up to (maxFrame-1) rows of already-processed tail
        // per symbol as warm-up context, then trim them from the output.
        // Fresh and bounded history rows come from one filtered scan; a
        // history row is in the tail when fewer than maxFrame-1 history
        // rows follow it (history total − running history count). Both
        // counts run over `w` itself, so the ranking shares the
        // indicators' exchange and sort.
        val isHistory = col("_wm").isNotNull && col("timestamp") <= col("_wm")
        val histOne = when(col("_warmup"), 1).otherwise(0)
        val all = withWm.filter(isFresh || (isHistory && historyBound.getOrElse(lit(true))))
          .withColumn("_warmup", !isFresh)
          .withColumn("_hist_after",
            sum(histOne).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)) -
              sum(histOne).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(!col("_warmup") || col("_hist_after") < maxFrame - 1)
          .drop("_wm", "_hist_after")
        Indicators.withIndicators(all, w)
          .filter(!col("_warmup"))
          .drop("_warmup")
    }
  }
}
