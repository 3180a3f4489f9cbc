package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming restatement of the reference's Kafka ingest path
  * (SURVEY §2.8, §3.2):
  *
  *   crawler → Kafka `stock_ohlcv` JSON → consumer micro-batches (flush at
  *   ≥500 msgs or 10 s; `consumer.py:35-36,99-156`) → Mongo, at-least-once
  *   with dedup only via the deterministic ES doc id (`etl_job.py:456-459`).
  *
  * Spark mapping: source → `from_json` decode → `foreachBatch` sink that
  * drops duplicates on the deterministic key before a keyed write —
  * checkpointed offsets + idempotent write = effective exactly-once, which
  * strictly dominates the reference's semantics.
  *
  * Scale notes: decode and stamping are narrow (no shuffle); the dedup in
  * each micro-batch shuffles only batch-sized data on a compact key; the
  * dedup sink partitions by `ticker` so downstream reads prune.
  *
  * Layout: [[idempotentSink]] sorts each `ticker=` file by `es_id`
  * (`ticker_date`, so date order) instead of the dedup exchange's hash
  * order. Sorted runs let the columnar encoders shrink the unique `date`,
  * `timestamp` and `es_id` strings. It costs no extra sort: Spark's planned
  * write already sorts each write task by `ticker`, and `(ticker, es_id)`
  * satisfies that ordering.
  *
  * File count: every `foreachBatch` sink writes through [[writeBatch]],
  * which runs one write task per advisory partition size
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) of the batch's
  * estimated size, at least one and at most the batch's state partitions.
  * A batch under the advisory size (a small file backlog) therefore
  * writes one file per ticker instead of one per ticker per state
  * partition. Sources that report no size (Kafka, `MemoryStream`) estimate
  * `Long.MaxValue` and keep every state partition, however few offsets a
  * batch holds. Cluster caveat: when one task writes, that task
  * also runs every state partition, so on a multi-executor cluster the
  * state stores may load away from the executor that last held them.
  */
object MicroBatch {

  /** Wire schema of one OHLCV message (`crawler.py:99-108`, FIXTURES §1.1). */
  val ohlcvMessageSchema: StructType = StructType(Seq(
    StructField("ticker", StringType),
    StructField("date", StringType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("timestamp", StringType)))

  /** S8 — decode one JSON `value` column: parse, require `ticker`, stamp
    * `consumed_at` (`consumer.py:128-139`).
    */
  def decode(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast(StringType), ohlcvMessageSchema).as("m"))
      .select(col("m.*"))
      .filter(col("ticker").isNotNull)
      .withColumn("consumed_at", current_timestamp())

  /** S6 — encode rows back to Kafka-shaped (key, value) pairs
    * (`crawler.py:126-132`): key = symbol for per-symbol ordering.
    */
  def encode(df: DataFrame): DataFrame =
    df.select(col("ticker").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** S7 — micro-batch trigger mirroring the consumer's 10 s time flush.
    * Per-trigger admission is a cap, not a flush threshold: Kafka caps a
    * batch at `maxOffsetsPerTrigger` (see [[kafkaSource]]); file sources
    * cap it at [[DefaultMaxBytesPerTrigger]] bytes of files, always
    * admitting at least one file.
    */
  val microBatchTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  /** Declarative source config so the ingest pipeline switches between the
    * production Kafka source and the in-sandbox file source without
    * changing downstream code. Both produce a `value` column that [[decode]]
    * accepts (Kafka's binary value casts to string inside decode).
    */
  case class SourceConfig(format: String, options: Map[String, String])

  /** Production source: Kafka with the reference consumer's flow control —
    * `maxOffsetsPerTrigger` = 500 mirrors its size-flush of 500 messages
    * per micro-batch (`consumer.py:35-36`); `failOnDataLoss=false` mirrors
    * its at-least-once stance toward expired offsets.
    *
    * Known limit: the consumer flushes at 500 messages to bound latency,
    * but `maxOffsetsPerTrigger` is a per-trigger cap. Under
    * [[microBatchTrigger]] a live stream is therefore held to 500 messages
    * per 10 s and a backlog drains 500 at a time.
    */
  def kafkaSource(bootstrapServers: String, topic: String,
      maxOffsetsPerTrigger: Long = 500L,
      startingOffsets: String = "earliest"): SourceConfig =
    SourceConfig("kafka", Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "failOnDataLoss" -> "false"))

  /** Per-trigger byte budget of [[fileSource]]: 128 MB, Spark's own
    * `spark.sql.files.maxPartitionBytes` default (one max-size scan split).
    */
  val DefaultMaxBytesPerTrigger: Long = 128L * 1024 * 1024

  /** Sandbox fallback: JSON files with one message per line. The raw line
    * rides in a `value` column so [[decode]] is source-agnostic.
    *
    * Each trigger admits staged files up to `maxBytesPerTrigger` bytes, so
    * a backlog of small files drains in ⌈bytes/budget⌉ micro-batches (one
    * planned job, one state-store version and one partitioned write each,
    * sized by [[writeBatch]])
    * rather than one per file, while a cold backlog stays memory-bounded.
    * Spark always admits at least one file, so a file larger than the
    * budget runs alone instead of stalling the stream.
    */
  def fileSource(path: String,
      maxBytesPerTrigger: Long = DefaultMaxBytesPerTrigger): SourceConfig =
    // the text source's fixed schema is exactly (value STRING) — no
    // explicit schema needed (and the source rejects one)
    SourceConfig("text", Map(
      "path" -> path,
      "maxBytesPerTrigger" -> maxBytesPerTrigger.toString))

  /** Materialize a config into a streaming DataFrame. */
  def openSource(spark: SparkSession, cfg: SourceConfig): DataFrame =
    spark.readStream.format(cfg.format).options(cfg.options).load()

  /** Idempotent keyed sink: dedup on the deterministic key, then append
    * partitioned by symbol. The dedup is Spark's stateful streaming
    * `dropDuplicates` — duplicates are removed ACROSS micro-batches
    * (checkpointed key state), matching the reference's ES upsert-by-id
    * semantics over all time. At-least-once delivery + keyed dedup =
    * effective exactly-once.
    *
    * Scale note: plain `dropDuplicates` keeps one state entry per distinct
    * key FOREVER — unbounded on an unbounded key space. Pass
    * `dedupWatermark = Some((eventTimeCol, delay))` to bound state to the
    * lateness horizon via `withWatermark` + `dropDuplicatesWithinWatermark`:
    * duplicates arriving within `delay` of each other still collapse, and
    * key state ages out once the watermark passes. This is the production
    * configuration; the unbounded default mirrors the reference's ES
    * upsert-by-id semantics over all time.
    *
    * Each batch lands in `outDir/batch_id=<id>/ticker=<ticker>/`, and each
    * file there is sorted by `es_id`, which within one ticker is date
    * order.
    */
  def idempotentSink(df: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      dedupWatermark: Option[(String, String)] = None): StreamingQuery = {
    // batch ids are scoped to the checkpoint: restarting with a FRESH
    // checkpoint against a populated outDir would re-number from 0 and
    // overwrite historical batch partitions — refuse loudly instead
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(hconf)
    val offsets = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
    val ckptFs = offsets.getFileSystem(hconf)
    require(!(outFs.exists(outPath) && outFs.listStatus(outPath).nonEmpty && !ckptFs.exists(offsets)),
      s"outDir $outDir already has data but checkpoint $checkpointDir is fresh - " +
        "batch ids would restart at 0 and overwrite history; use the original " +
        "checkpoint or a new outDir")
    val keyed = df.withColumn("es_id", concat_ws("_", col("ticker"), col("date")))
    val deduped = dedupWatermark match {
      case Some((eventCol, delay)) =>
        keyed.withWatermark(eventCol, delay).dropDuplicatesWithinWatermark("es_id")
      case None => keyed.dropDuplicates("es_id")
    }
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // foreachBatch is at-least-once: a crash after the files commit but
        // before the streaming commit log records the batch replays it.
        // Writing each batch into its own batch_id partition with overwrite
        // makes a replay rewrite the same path instead of appending
        // duplicates -> genuinely idempotent.
        writeBatch(batch, s"$outDir/batch_id=$batchId", Seq("ticker"), Seq("es_id"))
      }
      .start()
  }

  /** Write tasks for a batch of `sizeInBytes` (Catalyst's estimate):
    * one per `advisory` bytes, clamped to [1, numPartitions]. An unknown
    * size (`Long.MaxValue`, e.g. a Kafka source) keeps every partition.
    */
  private[graft] def writeTasks(sizeInBytes: BigInt, advisory: Long, numPartitions: Int): Int =
    ((sizeInBytes + advisory - 1) / advisory).min(BigInt(numPartitions)).max(BigInt(1)).toInt

  /** The one per-batch writer of the `foreachBatch` sinks: coalesces the
    * batch to [[writeTasks]] tasks, then overwrites `path`, partitioned by
    * `partitionCols`. `coalesce` is narrow, so the stage that runs the
    * stateful operator writes the files: no exchange and no extra job.
    * With a sort `key`, each task's rows are sorted by `partitionCols ++
    * key`. That is the one sort of the write: the planned write's own sort
    * by `partitionCols` is a prefix of it. Without a key the rows keep the
    * order the batch produced them in.
    */
  private[streaming] def writeBatch(batch: Dataset[_], path: String,
      partitionCols: Seq[String] = Nil, key: Seq[String] = Nil): Unit = {
    val qe = batch.queryExecution
    val parts = qe.toRdd.getNumPartitions
    val n = writeTasks(qe.optimizedPlan.stats.sizeInBytes,
      qe.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES), parts)
    val sized = if (n < parts) batch.coalesce(n) else batch
    val sorted = if (key.isEmpty) sized else sized.sortWithinPartitions((partitionCols ++ key).map(col): _*)
    sorted.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
  }

  /** Event-time tumbling count with watermark (the streaming analogue of
    * the `stream_microbatch` batch query): late rows beyond the delay are
    * dropped — the reference's watermark-skip semantic, made explicit.
    */
  def tumblingCounts(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Streaming exact content-dedup — the streaming twin of the batch
    * `dedup_exact` stage, for incremental crawl ingest: every arriving
    * document dedups against ALL history through Spark's checkpointed
    * `dropDuplicates` key state, so a document seen in any earlier
    * micro-batch (or earlier in this one) never survives twice. The
    * state key is the 128-bit content hash, NOT the text — state size is
    * 16 bytes per distinct document ever seen, and the exchange shuffles
    * hashes, never documents. Unbounded key space ⇒ unbounded state by
    * design (matching exact dedup's semantics over all time); when the
    * stream carries event time and re-crawls arrive within a known
    * horizon, bound it with `withWatermark` +
    * `dropDuplicatesWithinWatermark` exactly as [[idempotentSink]] does.
    */
  def streamExactDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("content_hash", md5(col(textCol)))
      .dropDuplicates("content_hash")

  /** Gap-based sessions per user over the live stream — the streaming twin
    * of the batch `sessionize` key (QueriesMeta), using Spark's native
    * `session_window` instead of the gaps-and-islands window so state is
    * bounded by the watermark: a session closes (and its state is evicted)
    * once the watermark passes its end. Batch twin and streaming twin
    * agree on the session definition: a row within `gap` of the previous
    * row extends the session, the session spans first-ts .. last-ts+gap.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Full streaming twin of the batch `sessionize` key: gap-based
    * session_window with the SAME output row as the batch gaps-and-islands
    * form — (user_id, session_start = min event ts, session_end = max
    * event ts, n_events, sum_value) — so the two can be hash-compared
    * (the `stream_sessions` consistency key). session_start/end are
    * re-derived as min/max aggregates over integer microseconds instead
    * of the window struct: the window's end includes the gap padding,
    * and min/max of the raw event times is the form an engine-neutral
    * oracle states. Exact decimal value sums (determinism rule 2).
    *
    * Append mode emits a session only once the watermark passes its
    * (padded) end, so with delay d, sessions whose last event is within
    * gap+d of the stream's max event time stay open and are NOT emitted
    * — the allowed-lateness contract, pinned with its exact boundary in
    * StreamingSpec and mirrored by the oracle's closed-session filter.
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      delay: String = "0 seconds"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(
        timestamp_micros(min(unix_micros(col("ts")))).as("session_start"),
        timestamp_micros(max(unix_micros(col("ts")))).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream enrichment join: each trade matches the quotes of its
    * symbol whose event time falls within the `horizon` BEFORE the trade
    * — the live twin of the batch as-of/range joins (operators.AsOfJoin /
    * RangeJoin). Both sides carry watermarks and the join condition is
    * time-BOUNDED on both ends, so Spark can size the join state and
    * evict quote rows once the watermark passes `quote_ts + horizon`;
    * an unbounded `quote_ts <= trade_ts` condition would accumulate the
    * whole quote history in state forever — the streaming scale killer
    * this operator exists to avoid.
    *
    * Expected schemas: trades(symbol, trade_ts, …),
    * quotes(q_symbol, quote_ts, …).
    */
  def enrichTrades(trades: DataFrame, quotes: DataFrame,
      horizon: String = "10 minutes", delay: String = "1 hour"): DataFrame =
    trades.withWatermark("trade_ts", delay)
      .join(quotes.withWatermark("quote_ts", delay),
        expr(s"""symbol = q_symbol AND
                | quote_ts BETWEEN trade_ts - INTERVAL $horizon AND trade_ts""".stripMargin),
        "inner")

  /** Stream-STATIC enrichment join — the dimension-lookup half of the
    * streaming join family ([[enrichTrades]] is the stream-stream half):
    * each micro-batch of the fact stream joins a bounded dimension
    * DataFrame. Unlike stream-stream, this needs NO state store and no
    * watermark on the dim side — the static side is simply re-planned
    * into every micro-batch, and with an explicit `broadcast()` it plans
    * as a BroadcastHashJoin per batch, which is exactly the 100 TB
    * shape: the fact stream never shuffles for a dimension lookup. An
    * inner join drops facts with no dimension row (referential filter);
    * callers wanting to keep them use the same op with a left join via
    * `joinType`.
    */
  def enrichStatic(facts: DataFrame, dim: DataFrame,
      keyCol: String = "user_id", joinType: String = "inner"): DataFrame =
    facts.join(org.apache.spark.sql.functions.broadcast(dim),
      Seq(keyCol), joinType)

  /** Production sink form of [[enrichTrades]] (and of the `stream_join`
    * gate key, whose memory-sink + collect wrapper exists only so the
    * streaming query can run inside the batch oracle gate): each
    * micro-batch of joined pairs lands in its own `batch_id` partition
    * of a keyed parquet sink. foreachBatch is at-least-once; a replayed
    * batch OVERWRITES its own partition, making the sink idempotent —
    * the [[idempotentSink]]/funnelToKeyedSink recipe. Nothing reaches
    * the driver. Without row counts Catalyst estimates a join as the
    * product of its sides' sizes, so [[writeBatch]] sizes this sink's
    * batches high: two ~27 KB event scans estimate ~84 MB, two tasks.
    */
  def joinToKeyedSink(joined: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    joined.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          writeBatch(batch, s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Read-side of [[joinToKeyedSink]]: explicit schema (inference over a
    * started-but-empty sink throws UNABLE_TO_INFER_SCHEMA — same rule as
    * funnelFinalStates) plus a defensive dedup on the pair's natural key
    * for the checkpoint-lost replay window, where a re-run batch can
    * land under a NEW batch id instead of overwriting its old one.
    */
  def joinedPairs(spark: SparkSession, outDir: String, schema: StructType,
      keyCols: Seq[String]): DataFrame =
    spark.read.schema(schema.add("batch_id", LongType)).parquet(outDir)
      .dropDuplicates(keyCols)
      .drop("batch_id")
}
