package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

/** Custom streaming state via `flatMapGroupsWithState` — the Spark-native
  * form of the reference consumer's per-ticker in-memory buffers
  * (`consumer.py:75-97`: accumulate per ticker, flush on thresholds). The
  * reference keeps its buffer in process memory and loses it on crash;
  * here the per-key state is checkpointed by the engine.
  */
object StatefulOps {

  case class Tick(ticker: String, close: Double, volume: Long)

  /** Per-ticker running aggregate state (the watermark-table shape plus
    * running OHLC-ish stats).
    */
  case class TickerState(n: Long, lastClose: Double, minClose: Double,
      maxClose: Double, totalVolume: Long)

  case class TickerUpdate(ticker: String, n: Long, lastClose: Double,
      minClose: Double, maxClose: Double, totalVolume: Long)

  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)

  /** Sentinel for "stage not reached": Long.MinValue, NOT -1 — a -1
    * sentinel would collide with legitimate pre-epoch timestamps and
    * silently corrupt both the stage guards and the final-state
    * re-aggregation downstream.
    */
  val FunnelUnset: Long = Long.MinValue

  /** Per-user funnel progress: [[FunnelUnset]] = stage not reached. */
  case class FunnelState(t1: Long, t2: Long, t3: Long)

  case class FunnelUpdate(user_id: Long, t1_us: Long, t2_us: Long, t3_us: Long)

  /** Streaming twin of the batch `funnel_steps` key: a per-user stage
    * state machine (first view → first click after it → first purchase
    * after that) advanced incrementally as events arrive, instead of
    * re-aggregating history every batch. Persisted state is three longs
    * per user; within a batch views fold to a running min, and
    * click/purchase candidates for a stage whose PREDECESSOR was already
    * taken before the batch fold to a single running min above that
    * predecessor time (O(1) — the steady-state hot-user path). Only when
    * the predecessor stage is still open at batch start do candidates
    * buffer in a sorted set (the predecessor time is not known until the
    * whole batch is seen), so a bot-hot user costs candidate times of
    * stages whose predecessors resolve WITHIN this batch, never a
    * buffered copy of every event. The per-batch resolution
    * (min view, then smallest click strictly after t1, then smallest
    * purchase strictly after t2) is equivalent to replaying the batch in
    * timestamp order. Like every streaming funnel, cross-batch ordering
    * relies on the source's watermark discipline (an event older than an
    * already-taken stage cannot retroactively rewind it — the batch form
    * over the full history is the reconciliation path, and the parity of
    * the two on in-order input is pinned in SkewStatefulSpec).
    */
  def funnelStages(events: Dataset[FunnelEvent])(implicit spark: SparkSession)
      : Dataset[FunnelUpdate] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          val before = state.getOption
            .getOrElse(FunnelState(FunnelUnset, FunnelUnset, FunnelUnset))
          var minView = Long.MaxValue
          // Candidates for a stage whose predecessor time is already fixed
          // (taken before this batch) fold to ONE running min strictly
          // above it; only an open predecessor forces buffering.
          var minClick = Long.MaxValue
          var minPurchase = Long.MaxValue
          val clicks = scala.collection.mutable.TreeSet.empty[Long]
          val purchases = scala.collection.mutable.TreeSet.empty[Long]
          rows.foreach { e =>
            e.event_type match {
              case "view" if before.t1 == FunnelUnset =>
                minView = math.min(minView, e.ts_us)
              case "click" if before.t2 == FunnelUnset =>
                if (before.t1 != FunnelUnset) {
                  if (e.ts_us > before.t1) minClick = math.min(minClick, e.ts_us)
                } else clicks += e.ts_us
              case "purchase" if before.t3 == FunnelUnset =>
                if (before.t2 != FunnelUnset) {
                  if (e.ts_us > before.t2) minPurchase = math.min(minPurchase, e.ts_us)
                } else purchases += e.ts_us
              case _ => ()
            }
          }
          // Strict-after lookup without `t + 1` (which would wrap at
          // Long.MaxValue and admit every candidate): rangeFrom is an
          // inclusive bound, the find discards an exact tie.
          def minStrictlyAfter(s: scala.collection.mutable.TreeSet[Long],
              t: Long): Option[Long] = s.rangeFrom(t).find(_ > t)
          var st = before
          if (st.t1 == FunnelUnset && minView != Long.MaxValue)
            st = st.copy(t1 = minView)
          if (st.t1 != FunnelUnset && st.t2 == FunnelUnset) {
            val cand = if (before.t1 != FunnelUnset) {
              if (minClick != Long.MaxValue) Some(minClick) else None
            } else minStrictlyAfter(clicks, st.t1)
            cand.foreach(t => st = st.copy(t2 = t))
          }
          if (st.t2 != FunnelUnset && st.t3 == FunnelUnset) {
            val cand = if (before.t2 != FunnelUnset) {
              if (minPurchase != Long.MaxValue) Some(minPurchase) else None
            } else minStrictlyAfter(purchases, st.t2)
            cand.foreach(t => st = st.copy(t3 = t))
          }
          if (st != before) {
            state.update(st)
            Iterator(FunnelUpdate(uid, st.t1, st.t2, st.t3))
          } else Iterator.empty
      }
  }

  /** Production sink form of [[funnelStages]] — the shape a cluster runs.
    * The memory-sink + collect() wrapper in QueriesMeta's `stream_funnel`
    * key exists ONLY so a streaming query can be compared inside the batch
    * correctness gate; it materializes every converting user on the
    * driver. Here each micro-batch of funnel updates lands in a keyed
    * parquet sink instead: [[funnelStages]] already emits AT MOST ONE
    * update per user per batch (the state machine folds the batch before
    * emitting), so the batch writes as-is — no per-batch aggregation —
    * into its own `batch_id` partition, in as many tasks as
    * [[MicroBatch.writeBatch]] sizes it for. foreachBatch is at-least-once,
    * and a replayed batch overwriting its own path makes the sink
    * idempotent (same recipe as [[MicroBatch.idempotentSink]]). Nothing
    * ever reaches the driver; cross-batch resolution happens read-side
    * ([[funnelFinalStates]]).
    */
  def funnelToKeyedSink(events: Dataset[FunnelEvent], outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow())(
      implicit spark: SparkSession): StreamingQuery =
    funnelStages(events).writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[FunnelUpdate], batchId: Long) =>
        MicroBatch.writeBatch(batch, s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Read-side resolution of [[funnelToKeyedSink]]'s append-keyed sink:
    * the newest state per user is the lexicographic max of (t3,t2,t1)
    * across that user's update rows — a plain distributed aggregation, so
    * consumers (or a periodic compaction job) resolve the funnel table
    * without any driver-side collection.
    */
  def funnelFinalStates(spark: SparkSession, outDir: String): DataFrame = {
    // Explicit schema: inference over a sink that exists but has no
    // batch directories yet (stream started, nothing emitted) throws
    // UNABLE_TO_INFER_SCHEMA; a consumer polling between start and first
    // batch should see an empty funnel table, not a crash. The schema is
    // the FunnelUpdate encoder's plus the batch_id partition column the
    // keyed sink introduces.
    val schema = org.apache.spark.sql.Encoders.product[FunnelUpdate].schema
      .add("batch_id", org.apache.spark.sql.types.LongType)
    latestPerUser(spark.read.schema(schema).parquet(outDir))
  }

  /** Shared (t3,t2,t1)-max reduction: valid because stage times only
    * advance and a later stage never fills before an earlier one.
    */
  def latestPerUser(updates: DataFrame): DataFrame =
    updates.groupBy("user_id")
      .agg(max(struct(col("t3_us"), col("t2_us"), col("t1_us"))).as("_m"))
      .select(col("user_id"), col("_m.t1_us").as("t1_us"),
        col("_m.t2_us").as("t2_us"), col("_m.t3_us").as("t3_us"))

  /** Emit one updated summary row per ticker per micro-batch; state
    * persists across batches (checkpoint-backed, unlike the reference's
    * process-memory buffers).
    */
  def runningSummary(ticks: Dataset[Tick])(implicit spark: SparkSession)
      : Dataset[TickerUpdate] = {
    import spark.implicits._
    ticks.groupByKey(_.ticker)
      .flatMapGroupsWithState[TickerState, TickerUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (ticker, rows, state: GroupState[TickerState]) =>
          val prev = state.getOption.getOrElse(
            TickerState(0L, Double.NaN, Double.MaxValue, Double.MinValue, 0L))
          val next = rows.foldLeft(prev) { (s, t) =>
            TickerState(s.n + 1, t.close,
              math.min(s.minClose, t.close), math.max(s.maxClose, t.close),
              s.totalVolume + t.volume)
          }
          if (next.n > prev.n) {
            state.update(next)
            Iterator(TickerUpdate(ticker, next.n, next.lastClose,
              next.minClose, next.maxClose, next.totalVolume))
          } else Iterator.empty
      }
  }
}
