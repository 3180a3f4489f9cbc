package graft.operators

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{OnePartition, WatermarkLookup}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Incremental (watermark-bounded) batch processing — the reference's core
  * orchestration semantic (`etl_job.py:99-120,159-198,489-513`; SURVEY §2.8):
  *
  *  - a per-symbol high watermark = max(timestamp) of the last processed
  *    batch, kept in a small state record. Like the reference's
  *    `etl_watermarks` table, a run reads it once and upserts it once;
  *  - each run keeps only rows with timestamp > watermark, computes
  *    indicators, appends, advances the watermark. The watermarks enter
  *    the plan as a hashed lookup captured when the plan is built
  *    ([[WatermarkLookup]]: no join, no broadcast, one hash probe per
  *    evaluation whatever the symbol count). The filter is a per-symbol
  *    lookup, so it cannot push into the source scan: every run reads its
  *    whole input once.
  *    `historyBound` sits in the same filter (fresh rows are exempt from
  *    it), so it cannot prune the scan either; it bounds the rows that
  *    reach the window's sort (and, in the split plan below, the
  *    exchange);
  *  - late rows older than the watermark are silently skipped forever
  *    (documented reference behavior — no event-time lateness).
  *
  * Exactly-once. The reference appends, then upserts its watermarks, so a
  * crash between the two appends the increment again on retry. A run here
  * is four steps, and the state record is its commit point:
  *
  *  1. recover: a run whose record is committed but whose staged files
  *     are still under `outDir/_staging/<runId>` has its moves finished;
  *     any other staging directory was never committed and is deleted;
  *  2. stage: the increment is appended, partitioned by `symbol`, into
  *     `outDir/_staging/<runId>`. Spark's file index skips `_`-prefixed
  *     directories, so no reader of `outDir` sees staged files;
  *  3. commit: the merged watermarks and the `runId` are written as the
  *     next record version (`_v<n>.tmp`, renamed to `v<n>.json`; readers
  *     take the highest). A run with nothing staged commits nothing;
  *  4. publish: each staged file is renamed to the same relative path
  *     under `outDir`, skipping targets that exist, so a publish can be
  *     re-run after a crash, and the staging directory is deleted.
  *
  * The state I/O runs on the driver with Hadoop FS calls, so it costs no
  * Spark job. The protocol assumes ONE writer per `stateDir` (and its
  * `outDir`): two concurrent runs would each discard the other's staging
  * directory. On HDFS and local disks a rename is a metadata operation; on
  * object stores it is a copy, so publishing there costs O(staged bytes).
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
  * window itself, so one sort (and at most one hash exchange) serves both
  * the tail selection and the indicators. The plan takes one of two
  * shapes, by input size ([[fitsOneTask]]):
  *
  *  - single task: when Catalyst's size estimate of `input` plus its file
  *    count × `spark.sql.files.openCostInBytes` is at most
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, the whole input
  *    is read as one partition: every leaf of its plan and its root are
  *    coalesced to one partition ([[OnePartition]]). One partition
  *    satisfies the window's clustering on `symbol` and every
  *    distribution the input's own operators require, so the caller's
  *    dedup, aggregate, join or sort needs no exchange either: scan, the
  *    input's own operators, filter, indicators, checkpoint fill and
  *    append run as one task of the append's job. Only an explicit
  *    `repartition(n)` in `input` keeps its exchange. Nondeterministic
  *    expressions in `input` (`rand`, `spark_partition_id`) evaluate in
  *    that one partition: on either plan they depend on its shape;
  *  - split: a larger input, or one of unknown size, keeps its file
  *    splits and one hash exchange on `symbol`, whose map side AQE runs as
  *    a job before the append. An input whose plan holds a `Generate`
  *    (`explode`) counts as unknown size: Catalyst estimates a `Generate`
  *    at its child's size, however many rows it makes.
  *
  * Windows over a total order do not depend on the partitioning, so both
  * shapes write the same rows. The processed rows are checkpointed
  * lazily: the staging append's job fills the checkpoint as it writes, and
  * no job reads the checkpoint back. The same job carries the new
  * watermarks as an observed metric: max(timestamp) per symbol over the
  * appended rows (exactly the fresh rows in both modes), merged on the
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

  /** One symbol's watermark: `last_processed_timestamp` and `updated_at`,
    * both in epoch micros.
    */
  private[graft] final case class Mark(micros: Long, updatedAt: Long)

  /** The committed state: record `v<version>.json` (0 when there is none
    * yet), the timestamp type its micros encode, the watermarks, and the
    * `runId` of the last staged append.
    */
  private[graft] final case class State(version: Long, tsType: DataType, marks: Map[String, Mark],
      runId: Option[String]) {
    def micros: Map[String, Long] = marks.map { case (s, m) => s -> m.micros }
  }

  private val RecordName = """v(\d+)\.json""".r
  private val Json = new ObjectMapper()

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Data and record files: not the `_`/`.`-prefixed temp and marker files. */
  private def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** The committed state of `stateDir`: its highest `v<n>.json` record, else
    * the `_bak` copy's. A directory that holds the parquet table earlier
    * versions wrote (or the `_bak` copy a crash mid-swap left) is read once
    * through Spark as version 0; the next commit replaces it with a record.
    * `tsType` types that table and an empty state.
    */
  private[graft] def readState(spark: SparkSession, stateDir: String,
      tsType: DataType = TimestampType): State = {
    val fs = fsOf(spark, stateDir)
    def entries(dir: String) = {
      val p = new Path(dir)
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath).filter(visible).toSeq else Nil
    }
    Seq(stateDir, stateDir + "_bak").map(d => d -> entries(d)).find(_._2.nonEmpty) match {
      case None => State(0, tsType, Map.empty, None)
      case Some((dir, files)) =>
        val records = files.flatMap(p => p.getName match {
          case RecordName(n) => Some(n.toLong -> p)
          case _ => None
        })
        if (records.nonEmpty) {
          val (n, p) = records.maxBy(_._1)
          parseRecord(fs, p, n)
        } else {
          val marks = spark.read.schema(wmSchema(tsType)).parquet(dir).collect().toSeq
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
            .map(r => r.getString(0) -> Mark(micros(r.get(1)), if (r.isNullAt(2)) 0L else micros(r.get(2))))
          State(0, tsType, marks.toMap, None)
        }
    }
  }

  private def parseRecord(fs: FileSystem, file: Path, version: Long): State = {
    def bad(why: String, cause: Throwable = null) = new IllegalStateException(s"watermark record $file $why", cause)
    def field(n: JsonNode, name: String): JsonNode =
      Option(n.get(name)).getOrElse(throw bad(s"lacks `$name`"))
    val in = fs.open(file)
    val root = try Json.readTree(in) catch { case NonFatal(e) => throw bad("is unreadable", e) } finally in.close()
    val tsType = field(root, "timestamp_type").asText match {
      case "timestamp" => TimestampType
      case "timestamp_ntz" => TimestampNTZType
      case t => throw bad(s"has timestamp_type `$t`")
    }
    val marks = field(root, "watermarks").properties().asScala.map { e =>
      e.getKey -> Mark(field(e.getValue, "last_processed_timestamp").asLong,
        field(e.getValue, "updated_at").asLong)
    }.toMap
    State(version, tsType, marks, Option(field(root, "run_id")).filterNot(_.isNull).map(_.asText))
  }

  /** Write `state` as record `v<state.version>.json` of `stateDir`: a temp
    * file renamed to a name no record had, so no rename overwrites. Then
    * everything else in `stateDir` (older records, the parquet table of
    * earlier versions) and its `_bak`/`_tmp` siblings are deleted.
    */
  private[graft] def writeState(spark: SparkSession, stateDir: String, state: State): Unit = {
    val fs = fsOf(spark, stateDir)
    val root = Json.createObjectNode()
    root.put("timestamp_type", state.tsType.typeName)
    state.runId.fold(root.putNull("run_id"))(root.put("run_id", _))
    val marks = root.putObject("watermarks")
    state.marks.toSeq.sortBy(_._1).foreach { case (s, m) =>
      marks.putObject(s).put("last_processed_timestamp", m.micros).put("updated_at", m.updatedAt)
    }
    val tmp = new Path(stateDir, s"_v${state.version}.tmp")
    val record = new Path(stateDir, s"v${state.version}.json")
    val out = fs.create(tmp, true)
    try out.write(Json.writeValueAsBytes(root)) finally out.close()
    require(!fs.exists(record) && fs.rename(tmp, record), s"watermark record rename failed: $tmp -> $record")
    fs.listStatus(new Path(stateDir)).map(_.getPath).filter(_.getName != record.getName)
      .foreach(fs.delete(_, true))
    Seq("_bak", "_tmp").foreach(s => fs.delete(new Path(stateDir + s), true))
  }

  /** Read the watermark state as a frame (`symbol`, `last_processed_timestamp`,
    * `updated_at`). It is a local relation built from the record, so it runs
    * no job; `last_processed_timestamp` has the record's type, and `tsType`
    * types only an empty state and a parquet table of earlier versions.
    */
  def readWatermarks(spark: SparkSession, stateDir: String,
      tsType: DataType = TimestampType): DataFrame = {
    val st = readState(spark, stateDir, tsType)
    val rows = st.marks.toSeq.sortBy(_._1).map { case (s, m) =>
      Row(s, CatalystTypeConverters.convertToScala(m.micros, st.tsType),
        CatalystTypeConverters.convertToScala(m.updatedAt, TimestampType))
    }
    spark.createDataFrame(rows.asJava, wmSchema(st.tsType))
  }

  private[graft] def micros(ts: Any): Long = CatalystTypeConverters.convertToCatalyst(ts).asInstanceOf[Long]

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
    * failure or a missing metric throws before the commit: an empty map in
    * their place would commit the increment with the watermarks where they
    * are, so the next run would append the same rows again.
    */
  private[graft] def observedMaxima(metrics: Future[Row], timeout: FiniteDuration,
      stateDir: String): Map[String, Long] = {
    def missing(why: String, cause: Throwable = null) = new IllegalStateException(
      s"watermark metrics for $stateDir $why; the increment was staged, not committed", cause)
    val row = try Await.result(metrics, timeout) catch {
      case NonFatal(e) => throw missing(s"were not observed within $timeout", e)
    }
    val i = Option(row).flatMap(r => Option(r.schema)).map(_.fieldNames.indexOf(MaxTsMetric)).getOrElse(-1)
    if (i < 0 || row.isNullAt(i)) throw missing(s"lack `$MaxTsMetric`")
    row.getMap[String, Long](i).toMap
  }

  /** How long a run waits for the append's observed watermarks. */
  private val ObservationTimeout = 60.seconds

  /** Append `keyed` to `dir` and return the per-symbol maxima its write
    * job observed (see [[observedMaxima]]). The metric is named per call
    * and taken from the write's `QueryExecution` by a listener scoped to
    * this call, not through an `Observation`: in Spark 4.1 an
    * `Observation` initializes a non-serializable field of the session, so
    * every later task closure that captures the session (a Spark ML model
    * carrying its training summary, for one) fails to serialize.
    */
  private def appendObserved(keyed: DataFrame, tsType: DataType, dir: String,
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
      keyed.observe(name, maxMicros(tsType)).write.mode(SaveMode.Append).partitionBy("symbol").parquet(dir)
      observedMaxima(metrics.future, ObservationTimeout, stateDir)
    } finally listeners.unregister(listener)
  }

  /** A staged run: its id, its checkpointed rows, and the per-symbol
    * maxima its append observed.
    */
  private[graft] final case class Staged(runId: String, rows: DataFrame, maxima: Map[String, Long])

  private def stagingDir(outDir: String, runId: String) = new Path(new Path(outDir, "_staging"), runId)

  /** Step 1: read the committed state; finish the publish of the run it
    * names if that run's staging directory is still there, and delete
    * every other staging directory, whose run never committed.
    */
  private[graft] def recover(spark: SparkSession, stateDir: String, outDir: String,
      tsType: DataType): State = {
    val state = readState(spark, stateDir, tsType)
    val fs = fsOf(spark, outDir)
    val staging = new Path(outDir, "_staging")
    if (fs.exists(staging)) fs.listStatus(staging).map(_.getPath).foreach { d =>
      if (state.runId.contains(d.getName)) publish(spark, outDir, d.getName)
      else fs.delete(d, true)
    }
    state
  }

  /** Step 2: process `input` against `state` and append the rows, with
    * their `symbol_date_key`, under `outDir/_staging/<runId>`.
    */
  private[graft] def stage(input: DataFrame, state: State, mode: BoundaryMode, orderCols: Seq[String],
      historyBound: Option[Column], outDir: String, stateDir: String): Staged = {
    // Materialize once: the append and the caller both read the processed
    // rows, and each would otherwise re-run the scan, exchange and sort.
    // The checkpoint is lazy: building it runs the plan's shuffle-map
    // stages (none in the single-task plan unless `input` has an explicit
    // `repartition(n)`), and the append's job computes the result stage and
    // fills the checkpoint as it writes, so no job reads it back.
    // localCheckpoint truncates the lineage, so the caller's frame never
    // re-evaluates against a later watermark.
    val keyed = process(input, state.micros, mode, orderCols, historyBound)
      .withColumn("symbol_date_key", Clean.compositeKey(col("symbol"), col("trading_date")))
      .localCheckpoint(false)
    val runId = java.util.UUID.randomUUID().toString
    // keyed holds exactly the fresh rows, so its per-symbol max is the new
    // watermark: the append observes it in the same job
    val tsType = input.schema("timestamp").dataType
    Staged(runId, keyed, appendObserved(keyed, tsType, stagingDir(outDir, runId).toString, stateDir))
  }

  /** Step 3: when the staged run wrote a data file, write the next record:
    * `state` with the observed maxima merged in and the staged `runId`. A
    * symbol whose watermark rises (or is new) gets `updated_at` = now. With
    * nothing staged, nothing is committed and the staging directory is
    * deleted. Returns whether the run committed.
    */
  private[graft] def commit(spark: SparkSession, stateDir: String, outDir: String, state: State,
      staged: Staged): Boolean = {
    val fs = fsOf(spark, outDir)
    val dir = stagingDir(outDir, staged.runId)
    if (!fs.exists(dir) || !holdsData(fs, dir)) {
      fs.delete(dir, true)
      false
    } else {
      val now = micros(java.time.Instant.now())
      val raised = staged.maxima.collect {
        case (s, t) if state.marks.get(s).forall(_.micros < t) => s -> Mark(t, now)
      }
      writeState(spark, stateDir, State(state.version + 1, staged.rows.schema("timestamp").dataType,
        state.marks ++ raised, Some(staged.runId)))
      true
    }
  }

  // listStatus, not listFiles: the located status of a local file forks a
  // shell to read its permissions, once per file
  private def holdsData(fs: FileSystem, dir: Path): Boolean =
    fs.listStatus(dir).exists(s => if (s.isDirectory) holdsData(fs, s.getPath) else visible(s.getPath))

  /** Step 4: move everything `runId` staged to the same relative path under
    * `outDir`, then delete the staging directory. Like the job commit of
    * Hadoop's `FileOutputCommitter`, a directory whose target does not
    * exist moves in one rename, and one whose target exists is merged
    * entry by entry. A file whose target exists was moved before a crash
    * (staged file names are unique per run) and is skipped, so a publish
    * can be re-run. Targets are built by name under `outDir`, never by
    * relativizing listed paths against it.
    */
  private[graft] def publish(spark: SparkSession, outDir: String, runId: String): Unit = {
    val fs = fsOf(spark, outDir)
    def move(src: Path, dst: Path): Unit =
      if (!fs.exists(dst)) require(fs.rename(src, dst), s"publish rename failed: $src -> $dst")
      else if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src).foreach(c => move(c.getPath, new Path(dst, c.getPath.getName)))
    val dir = stagingDir(outDir, runId)
    move(dir, new Path(outDir))
    fs.delete(dir, true)
  }

  /** One incremental run: recover, stage, commit, publish (see the object
    * doc). Returns the newly processed frame, locally checkpointed: the
    * caller owns its blocks and should [[Checkpoints.release]] it when done.
    *
    * `orderCols` has NO default on purpose: it must be a total order on the
    * caller's data (`Queries.tieCols` for the OHLCV testdata) and no single
    * column set is total on every frame — a silent wrong default made
    * window frames nondeterministic.
    *
    * `historyBound`: optional predicate bounding the OverlapReload
    * history rows (e.g. `col("timestamp") >= <watermark − 2 years>`).
    * Without it, the indicator sort covers the ENTIRE processed history
    * to find the last 199 rows per symbol. A caller always knows a safe
    * time bound covering maxFrame−1 trading rows; with it, the sort (and,
    * in the split plan, the shuffle) cost is O(bound), independent of
    * history size. The scan, and any dedup or join of the caller's in
    * `input`, still covers the whole input, and the plan shape is chosen
    * by the size of the whole input, not of the bounded rows (see the
    * object doc). It applies to history rows only: fresh rows are never
    * bounded.
    * Contract: the bound must keep ≥ maxFrame−1 rows per symbol, else
    * the first new rows see partially truncated frames.
    */
  def runIncremental(spark: SparkSession, input: DataFrame, stateDir: String,
      outDir: String, mode: BoundaryMode, orderCols: Seq[String],
      historyBound: Option[Column] = None): DataFrame = {
    val tsType = input.schema("timestamp").dataType
    require(tsType == TimestampType || tsType == TimestampNTZType,
      s"runIncremental needs a TIMESTAMP or TIMESTAMP_NTZ `timestamp` column, got $tsType")
    val state = recover(spark, stateDir, outDir, tsType)
    require(state.marks.isEmpty || state.tsType == tsType,
      s"$stateDir holds ${state.tsType.sql} watermarks, the input's `timestamp` is ${tsType.sql}")
    val staged = stage(input, state, mode, orderCols, historyBound, outDir, stateDir)
    if (commit(spark, stateDir, outDir, state, staged)) publish(spark, outDir, staged.runId)
    staged.rows
  }

  /** Whether an input fits one task: Catalyst's `sizeInBytes` estimate plus
    * `files` × `openCost` (Spark's own cost of opening a file, so an input
    * of many small files keeps its splits) is at most the `advisory`
    * partition size. `files` is evaluated only when the size alone fits;
    * an unknown size (`Long.MaxValue`) never does.
    */
  private[graft] def fitsOneTask(sizeInBytes: BigInt, files: => Int, advisory: Long, openCost: Long): Boolean =
    sizeInBytes <= advisory && sizeInBytes + BigInt(files) * openCost <= advisory

  /** The rows one run processes, with indicators, given the committed
    * `watermarks` (epoch micros per symbol). Lazy: one scan of `input`.
    * When it [[fitsOneTask]] under the session's advisory partition size
    * and file open cost, and its plan holds no `Generate`, `input` is read
    * as one partition from its leaves up ([[OnePartition]]), so neither it
    * nor the window plans an exchange; else it keeps its splits and the
    * window one hash exchange on `symbol` (see the object doc). The
    * watermarks are a constant of the plan, fixed when it is built.
    */
  private[graft] def process(input: DataFrame, watermarks: Map[String, Long], mode: BoundaryMode,
      orderCols: Seq[String], historyBound: Option[Column]): DataFrame = {
    val qe = input.queryExecution
    val conf = qe.sparkSession.sessionState.conf
    val optimized = qe.optimizedPlan
    // a Generate estimates its child's size, however many rows it makes
    val size = if (optimized.exists(_.isInstanceOf[Generate])) BigInt(Long.MaxValue)
      else optimized.stats.sizeInBytes
    val oneTask = fitsOneTask(size, input.inputFiles.length,
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), conf.filesOpenCostInBytes)
    val sized = if (oneTask) OnePartition(input) else input
    // a symbol without a watermark looks up null: all its rows are fresh
    val withWm = sized.withColumn("_wm",
      WatermarkLookup.column(col("symbol"), watermarks, input.schema("timestamp").dataType))
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
