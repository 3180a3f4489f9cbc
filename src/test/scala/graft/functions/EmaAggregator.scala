package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Running buffer for [[EmaAggregator]]: the EMA recurrence
  * `e ← α·x + (1−α)·e` is affine in the incoming state, so a row span is
  * summarized by the affine map it applies — `f(prev) = c + m·prev` — plus
  * the value the span produces when it is the START of the series (first
  * value seeds the recurrence). Constant size, no history materialized.
  *
  * @param cSeeded EMA of the span assuming the span's first row seeds
  * @param c       additive term of the span's affine map
  * @param m       multiplicative term of the span's affine map ((1−α)^n)
  * @param n       rows folded so far
  */
case class EmaBuf(cSeeded: Double, c: Double, m: Double, n: Long)

/** Exponential-moving-average as a Spark `Aggregator` — a second,
  * independently written reference for the engine's native EMA aggregates
  * (`graftnative.EmaDeclarativeBase`), used by the test suite only.
  *
  * Over a window frame `UNBOUNDED PRECEDING .. CURRENT ROW`, Spark feeds
  * rows to `reduce` one at a time in frame order, so the result is the
  * EXACT sequential recurrence `e_t = α·x_t + (1−α)·e_{t−1}` seeded with
  * the first value — bit-identical to a left fold, with O(1) state per
  * row.
  *
  * `merge` (used only by grouped partial aggregation, never by ordered
  * window frames) composes the two affine maps ASSUMING the left buffer's
  * rows precede the right's. Affine composition is associative but NOT
  * commutative, and Spark merges grouped partial buffers in task-completion
  * order — so a groupBy EMA is only deterministic when the input is a
  * single sorted partition. The ordered-window path never calls merge.
  *
  * α = 2/(n+1) gives the classic n-period EMA; α = 1/n gives Wilder
  * smoothing (RSI).
  *
  * Preconditions: inputs must be NON-NULL (a Double-typed UDAF cannot
  * see a null; the native aggregate counts one as NaN). A NaN input
  * yields NaN for that row and reseeds on the next, matching the native
  * aggregate; the affine (c, m) terms cannot represent the reseed, so the
  * grouped/merge path additionally assumes NaN-free input.
  */
class EmaAggregator(alpha: Double, windowOnly: Boolean = false)
    extends Aggregator[Double, EmaBuf, Double] {
  private val beta = 1.0 - alpha

  def zero: EmaBuf = EmaBuf(0.0, 0.0, 1.0, 0L)

  def reduce(b: EmaBuf, x: Double): EmaBuf = EmaBuf(
    // NaN accumulator RESEEDS with x — mirroring the oracle fold's
    // `CASE WHEN isnan(acc) THEN x` recovery. Without this, one NaN input
    // would poison every subsequent EMA (alpha*x + beta*NaN = NaN
    // forever), where the fold emits NaN for that row and recovers on the
    // next.
    cSeeded = if (b.n == 0L || b.cSeeded.isNaN) x else alpha * x + beta * b.cSeeded,
    c = alpha * x + beta * b.c,
    m = beta * b.m,
    n = b.n + 1L)

  def merge(l: EmaBuf, r: EmaBuf): EmaBuf =
    if (l.n == 0L) r
    else if (r.n == 0L) l
    // fail fast instead of silently returning an order-dependent EMA:
    // Spark merges grouped partial buffers in task-completion order, so a
    // merge of two NON-EMPTY buffers in a grouped aggregation is only
    // correct if the caller guarantees left-precedes-right row order —
    // which the window path never needs (frames feed reduce() in order and
    // only ever merge(zero, buf)). Window call sites set
    // windowOnly = true to turn any accidental grouped use into an error.
    else if (windowOnly) throw new IllegalStateException(
      "EmaAggregator(windowOnly=true) merged two non-empty buffers: " +
        "this aggregator is ordered-window-only; grouped aggregation over " +
        "multi-partition input would be merge-order-dependent")
    else EmaBuf(
      cSeeded = r.c + r.m * l.cSeeded,
      c = r.c + r.m * l.c,
      m = l.m * r.m,
      n = l.n + r.n)

  def finish(b: EmaBuf): Double =
    if (b.n == 0L) Double.NaN else b.cSeeded

  def bufferEncoder: Encoder[EmaBuf] = Encoders.product[EmaBuf]
  def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
