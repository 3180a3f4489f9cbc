package graft.operators

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Incremental (watermark-bounded) batch processing — the reference's core
  * orchestration semantic (`etl_job.py:99-120,159-198,489-513`; SURVEY §2.8):
  *
  *  - a per-symbol high watermark = max(timestamp) of the last processed
  *    batch, persisted in a small state table. Like the reference's
  *    `etl_watermarks` table, a run reads it once (one row per symbol,
  *    collected to the driver) and upserts it once at the end;
  *  - each run keeps only rows with timestamp > watermark, computes
  *    indicators, appends, advances the watermark. The watermarks enter
  *    the plan as a map literal captured when the plan is built
  *    (`element_at(map, symbol)`: no join, no broadcast). The filter is a
  *    per-symbol lookup, so it cannot push into the source scan: every run
  *    reads its whole input once. The lookup scans the map's keys, so its
  *    per-row cost grows with the symbol count.
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
  * selection and the indicators. The processed rows are checkpointed
  * lazily: the append's job fills the checkpoint as it writes, and no job
  * reads the checkpoint back. The same job carries the new watermarks as
  * an observed metric (`Dataset.observe`): max(timestamp) per symbol over
  * the appended rows (exactly the fresh rows in both modes), merged on the
  * driver with the state already there, so no exchange, no extra job and
  * no second read of the state.
  */
object Incremental {

  sealed trait BoundaryMode
  case object Truncated extends BoundaryMode
  case object OverlapReload extends BoundaryMode

  val maxFrame = 200 // longest ROWS frame in the indicator set (SMA-200)

  /** `tsType` types `last_processed_timestamp` like the input's `timestamp`
    * (TIMESTAMP or TIMESTAMP_NTZ).
    */
  private def wmSchema(tsType: DataType) = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("last_processed_timestamp", tsType),
    StructField("updated_at", TimestampType)))

  /** Read the watermark state table: the state dir, else the `_bak` copy a
    * crash mid-swap leaves, else an empty frame. The schema is given, so the
    * read runs no schema-inference job; `tsType` is the input's `timestamp`
    * type.
    */
  def readWatermarks(spark: SparkSession, stateDir: String,
      tsType: DataType = TimestampType): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nonEmpty(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    val schema = wmSchema(tsType)
    if (nonEmpty(stateDir)) spark.read.schema(schema).parquet(stateDir)
    else if (nonEmpty(stateDir + "_bak")) spark.read.schema(schema).parquet(stateDir + "_bak")
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** Upsert new per-symbol watermarks (keep the max per symbol) — the
    * `etl_watermarks` upsert at `etl_job.py:110-120`. `newWm` is small
    * (`symbol`, `last_processed_timestamp`) and is collected.
    */
  def advanceWatermarks(spark: SparkSession, stateDir: String, newWm: DataFrame): Unit = {
    val tsType = newWm.schema("last_processed_timestamp").dataType
    val maxima = newWm.select("symbol", "last_processed_timestamp").collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupMapReduce(_.getString(0))(r => micros(r.get(1)))(math.max)
    writeWatermarks(spark, stateDir, tsType,
      readWatermarks(spark, stateDir, tsType).collect().toSeq, maxima)
  }

  private def micros(ts: Any): Long = CatalystTypeConverters.convertToCatalyst(ts).asInstanceOf[Long]

  /** Per-symbol max of `timestamp` in epoch micros, nulls ignored. The
    * timestamp decodes to an `Instant` (TIMESTAMP) or a `LocalDateTime`
    * (TIMESTAMP_NTZ), whose micros do not depend on the session time zone.
    * `max` is idempotent, so a retried task cannot change the result.
    */
  private final class MaxMicros[T] extends Aggregator[(String, T), Map[String, Long], Map[String, Long]] {
    private def raise(m: Map[String, Long], s: String, t: Long) = if (m.get(s).forall(_ < t)) m.updated(s, t) else m
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], in: (String, T)): Map[String, Long] =
      if (in._1 == null || in._2 == null) m else raise(m, in._1, micros(in._2))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (s, t)) => raise(m, s, t) }
    def finish(m: Map[String, Long]): Map[String, Long] = m
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
  }

  private val MaxTsMetric = "max_ts"

  /** [[MaxMicros]] over (`symbol`, `timestamp`) of type `tsType`. */
  private def maxMicros(tsType: DataType): Column = {
    def over[T](ts: Encoder[T]) = udaf(new MaxMicros[T], Encoders.tuple(Encoders.STRING, ts))
    val agg = if (tsType == TimestampNTZType) over(Encoders.LOCALDATETIME) else over(Encoders.INSTANT)
    agg(col("symbol"), col("timestamp")).as(MaxTsMetric)
  }

  /** The observed per-symbol maxima, awaited at most `timeout`. A timeout, a
    * failure or a missing metric throws and leaves the state untouched: an
    * empty map in their place would keep the watermarks where they are, so
    * the next run would append the same increment again.
    */
  private[graft] def observedMaxima(metrics: Future[Row], timeout: FiniteDuration,
      stateDir: String): Map[String, Long] = {
    def missing(why: String, cause: Throwable = null) = new IllegalStateException(
      s"watermark metrics for $stateDir $why; the increment was appended, the state is unchanged", cause)
    val row = try Await.result(metrics, timeout) catch {
      case NonFatal(e) => throw missing(s"were not observed within $timeout", e)
    }
    val i = Option(row).flatMap(r => Option(r.schema)).map(_.fieldNames.indexOf(MaxTsMetric)).getOrElse(-1)
    if (i < 0 || row.isNullAt(i)) throw missing(s"lack `$MaxTsMetric`")
    row.getMap[String, Long](i).toMap
  }

  /** How long a run waits for the append's observed watermarks. */
  private val ObservationTimeout = 60.seconds

  /** Append `keyed` to `outDir` and return the per-symbol maxima its write
    * job observed (see [[observedMaxima]]). The metric is named per call
    * and taken from the write's `QueryExecution` by a listener scoped to
    * this call, not through an `Observation`: in Spark 4.1 an
    * `Observation` initializes a non-serializable field of the session, so
    * every later task closure that captures the session (a Spark ML model
    * carrying its training summary, for one) fails to serialize.
    */
  private def appendObserved(keyed: DataFrame, tsType: DataType, outDir: String,
      stateDir: String): Map[String, Long] = {
    val name = s"watermarks_${java.util.UUID.randomUUID()}"
    val metrics = Promise[Row]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get(name).foreach(metrics.trySuccess)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val listeners = keyed.sparkSession.listenerManager
    listeners.register(listener)
    try {
      // At-least-once, like the reference's Mongo append
      // (etl_job.py:389-394): a crash between this append and the
      // watermark advance duplicates the increment on retry;
      // symbol_date_key lets downstream consumers dedup (the reference's
      // ES-upsert semantics).
      keyed.observe(name, maxMicros(tsType)).write.mode(SaveMode.Append).partitionBy("symbol").parquet(outDir)
      observedMaxima(metrics.future, ObservationTimeout, stateDir)
    } finally listeners.unregister(listener)
  }

  /** Merge `maxima` into the collected `state` rows and write the result
    * when it changed. A symbol whose watermark rises (or is new) gets
    * `updated_at` = now; every other row is kept as it was.
    */
  private def writeWatermarks(spark: SparkSession, stateDir: String, tsType: DataType,
      state: Seq[Row], maxima: Map[String, Long]): Unit = {
    val old = state.map(r => r.getString(0) -> r).toMap
    val now = java.time.Instant.now()
    val raised = maxima.collect {
      case (s, t) if old.get(s).forall(r => r.isNullAt(1) || micros(r.get(1)) < t) =>
        s -> Row(s, CatalystTypeConverters.convertToScala(t, tsType), now)
    }
    if (raised.nonEmpty) swapIn(spark, stateDir,
      spark.createDataFrame((old ++ raised).values.toSeq.asJava, wmSchema(tsType)))
  }

  /** Write the small state table via `_tmp` and swap it in via a backup,
    * so a crash mid-swap never loses the watermark table (readWatermarks
    * falls back to the `_bak` copy). One job, one task, one file.
    */
  private def swapIn(spark: SparkSession, stateDir: String, table: DataFrame): Unit = {
    val tmp = stateDir + "_tmp"
    table.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
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
    val tsType = input.schema("timestamp").dataType
    require(tsType == TimestampType || tsType == TimestampNTZType,
      s"runIncremental needs a TIMESTAMP or TIMESTAMP_NTZ `timestamp` column, got $tsType")
    val state = readWatermarks(spark, stateDir, tsType).collect().toSeq
    val processed = process(input, state, mode, orderCols, historyBound)

    // Materialize once: the append and the caller both read the processed
    // rows, and each would otherwise re-run the scan, exchange and sort.
    // The checkpoint is lazy: building it runs the shuffle-map stages, and
    // the append's job computes the result stage and fills the checkpoint
    // as it writes, so no job reads it back. localCheckpoint truncates the
    // lineage, so the caller's frame never re-evaluates against a later
    // watermark.
    val keyed = processed.withColumn("symbol_date_key",
      Clean.compositeKey(col("symbol"), col("trading_date"))).localCheckpoint(false)
    // keyed holds exactly the fresh rows, so its per-symbol max is the new
    // watermark: the append observes it in the same job, and it merges
    // with the state collected above.
    writeWatermarks(spark, stateDir, tsType, state, appendObserved(keyed, tsType, outDir, stateDir))
    keyed
  }

  /** The rows one run processes, with indicators, given the collected
    * watermark `state` (`readWatermarks` rows). Lazy: one scan of `input`,
    * and for OverlapReload one hash exchange on `symbol`. The watermarks
    * are a literal of the plan, fixed when it is built.
    */
  private[graft] def process(input: DataFrame, state: Seq[Row], mode: BoundaryMode,
      orderCols: Seq[String], historyBound: Option[org.apache.spark.sql.Column]): DataFrame = {
    // the cast types the map when the state is empty; a missing key is null
    val wmMap = map(state.flatMap(r => Seq(lit(r.getString(0)), lit(r.get(1)))): _*)
      .cast(MapType(StringType, input.schema("timestamp").dataType))
    val withWm = input.withColumn("_wm", element_at(wmMap, col("symbol")))
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
