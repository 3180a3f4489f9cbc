package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native declarative EMA aggregates — the engine's one implementation of
  * the exponential recurrence `e ← α·x + (1−α)·e` (true EMA, Wilder
  * smoothing, and the chunk-parallel state of the chunked paths).
  *
  * A `DeclarativeAggregate` keeps the whole recurrence in generated
  * mutable-projection code over four primitive buffer slots — no objects,
  * no encoders. The alternatives it replaced paid per row: an
  * `Aggregator` UDAF (`ScalaAggregator` is a `TypedImperativeAggregate`,
  * so every `update` round-trips the input through an `Encoder`), and a
  * `collect_list` + `aggregate` fold over a bounded frame (`ArrayAggregate`
  * is a `CodegenFallback`, so its lambda is interpreted once per list
  * element, on top of one array per row).
  *
  * Frames: over `UNBOUNDED PRECEDING .. CURRENT ROW` the aggregate is the
  * exact recurrence over the whole history; over a bounded ROWS frame
  * Spark re-initializes it for each row and updates it over the frame in
  * order, so it is the oracle's bounded `list_reduce` fold, bit for bit.
  *
  * State algebra: the recurrence is affine in the incoming state, so a
  * row span is summarized by its affine map `f(prev) = c + m·prev` plus
  * `cSeeded`, the value produced when the span's first row seeds the
  * series. The `cSeeded` update is `α·x + (1−α)·acc` with a NaN
  * accumulator reseeding from `x` — the oracle fold's expression shape
  * (IEEE products and sums commute bit-exactly) — pinned bit for bit in
  * IndicatorsSpec against plain-Scala folds, over bounded and unbounded
  * frames.
  *
  * Null inputs behave like NaN inputs: the row's EMA is NaN and the next
  * row reseeds (while the null is inside a bounded frame, each row's fold
  * reseeds after it). All in-repo call sites feed non-null columns.
  *
  * Ordering caveat: `merge` composes the two affine maps ASSUMING left
  * precedes right. Ordered window frames only ever `update` in frame
  * order and never merge; grouped aggregation merges partial buffers in
  * task-completion order and would be nondeterministic. [[EmaRunAgg]]
  * therefore fails fast on a real two-buffer merge unless `allowMerge` is
  * set.
  */
abstract class EmaDeclarativeBase extends DeclarativeAggregate with UnaryLike[Expression] {
  def alpha: Double
  @transient protected lazy val beta: Double = 1.0 - alpha

  override def nullable: Boolean = false

  protected lazy val bCSeeded: AttributeReference =
    AttributeReference("emaCSeeded", DoubleType, nullable = false)()
  protected lazy val bC: AttributeReference =
    AttributeReference("emaC", DoubleType, nullable = false)()
  protected lazy val bM: AttributeReference =
    AttributeReference("emaM", DoubleType, nullable = false)()
  protected lazy val bN: AttributeReference =
    AttributeReference("emaN", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bCSeeded, bC, bM, bN)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0.0), Literal(0.0), Literal(1.0), Literal(0L))

  // null input → NaN: poisons this row's EMA, reseeds on the next
  @transient private lazy val x: Expression =
    If(IsNull(child), Literal(Double.NaN), KnownNotNull(child))

  override lazy val updateExpressions: Seq[Expression] = {
    val aL = Literal(alpha)
    val bL = Literal(beta)
    Seq(
      // NaN accumulator RESEEDS with x, as the oracle fold's
      // `CASE WHEN isnan(acc) THEN x` does
      If(Or(EqualTo(bN, Literal(0L)), IsNaN(bCSeeded)), x,
        Add(Multiply(aL, x), Multiply(bL, bCSeeded))),
      Add(Multiply(aL, x), Multiply(bL, bC)),
      Multiply(bL, bM),
      Add(bN, Literal(1L)))
  }

  /** Affine composition, left-precedes-right. */
  protected lazy val composedMerge: Seq[Expression] = {
    def pick(ifLeftEmpty: Expression, ifRightEmpty: Expression, both: Expression) =
      If(EqualTo(bN.left, Literal(0L)), ifLeftEmpty,
        If(EqualTo(bN.right, Literal(0L)), ifRightEmpty, both))
    Seq(
      pick(bCSeeded.right, bCSeeded.left,
        Add(bC.right, Multiply(bM.right, bCSeeded.left))),
      pick(bC.right, bC.left, Add(bC.right, Multiply(bM.right, bC.left))),
      pick(bM.right, bM.left, Multiply(bM.left, bM.right)),
      Add(bN.left, bN.right))
  }

  override lazy val mergeExpressions: Seq[Expression] = composedMerge
}

/** EMA value aggregate: evaluates to the seeded EMA of the rows folded so
  * far (NaN over an empty frame). `allowMerge = false` (default) raises
  * on any real two-buffer merge — grouped use would be merge-order-
  * dependent; this aggregate is for ordered window frames.
  */
case class EmaRunAgg(child: Expression, alpha: Double, allowMerge: Boolean = false)
    extends EmaDeclarativeBase {

  override def dataType: DataType = DoubleType

  override lazy val evaluateExpression: Expression =
    If(EqualTo(bN, Literal(0L)), Literal(Double.NaN), bCSeeded)

  override lazy val mergeExpressions: Seq[Expression] =
    if (allowMerge) composedMerge
    else composedMerge.zipWithIndex.map { case (e, i) =>
      if (i != 0) e
      else If(And(GreaterThan(bN.left, Literal(0L)), GreaterThan(bN.right, Literal(0L))),
        Cast(RaiseError(Literal("ema_run is ordered-window-only: grouped " +
          "aggregation would merge partial buffers in task-completion order " +
          "and return an order-dependent EMA")), DoubleType),
        e)
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ema_run"
}

/** EMA state aggregate: evaluates to the full affine state
  * `struct(cSeeded, c, m)` — the chunk-summary building block of
  * [[graft.operators.Indicators.chunkedTrueEma]]. Merge is the true
  * affine composition (meaningful when the caller controls order).
  */
case class EmaStateAgg(child: Expression, alpha: Double) extends EmaDeclarativeBase {

  override def dataType: DataType = StructType(Seq(
    StructField("cSeeded", DoubleType, nullable = false),
    StructField("c", DoubleType, nullable = false),
    StructField("m", DoubleType, nullable = false)))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("cSeeded"), bCSeeded, Literal("c"), bC, Literal("m"), bM))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ema_state"
}

/** Fused Wilder gain/loss state pair: one window aggregate that tracks
  * the previous value in its buffer and folds BOTH smoothing states —
  * replacing a `lag` window + two [[EmaStateAgg]]s. The unfused form
  * stacks a second WindowExec on the first (the state aggregates consume
  * the lag's output column, and a window-over-window dependency cannot
  * share one operator), so each chunked-RSI pass paid two full passes
  * over every sorted partition; fusing halves that — measured 21.6 s →
  * ~14 s on the 12M-row hot-key stress pair.
  *
  * Arithmetic is expression-for-expression the unfused composition
  * (`chg = x − prev`; `gain = if (chg > 0) chg else 0`;
  * `loss = if (chg < 0) −chg else 0`; per-state updates identical to
  * [[EmaDeclarativeBase]]), so results are BIT-IDENTICAL — pinned by
  * ChunkedSpec. `prevInit` seeds the FIRST row's previous value (the
  * chunk's incoming close); pass a null literal for
  * none-yet → first chg is null → both states fold 0, exactly like
  * `close − lag(close)` on a partition's first row.
  *
  * Ordered-window-only, like [[EmaRunAgg]]: a real two-buffer merge
  * cannot reconstruct which `prevInit` the right span's first row should
  * have seen, so it fails fast.
  */
case class WilderPairStateAgg(valueExpr: Expression, prevInit: Expression,
    alpha: Double)
    extends DeclarativeAggregate
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  override def left: Expression = valueExpr
  override def right: Expression = prevInit

  @transient private lazy val beta: Double = 1.0 - alpha

  override def nullable: Boolean = false

  private def stateStruct = StructType(Seq(
    StructField("cSeeded", DoubleType, nullable = false),
    StructField("c", DoubleType, nullable = false),
    StructField("m", DoubleType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("g", stateStruct, nullable = false),
    StructField("l", stateStruct, nullable = false)))

  private lazy val bPrev: AttributeReference =
    AttributeReference("wPrev", DoubleType, nullable = false)()
  private lazy val gS: AttributeReference =
    AttributeReference("wGCSeeded", DoubleType, nullable = false)()
  private lazy val gC: AttributeReference =
    AttributeReference("wGC", DoubleType, nullable = false)()
  private lazy val gM: AttributeReference =
    AttributeReference("wGM", DoubleType, nullable = false)()
  private lazy val lS: AttributeReference =
    AttributeReference("wLCSeeded", DoubleType, nullable = false)()
  private lazy val lC: AttributeReference =
    AttributeReference("wLC", DoubleType, nullable = false)()
  private lazy val lM: AttributeReference =
    AttributeReference("wLM", DoubleType, nullable = false)()
  private lazy val bN: AttributeReference =
    AttributeReference("wN", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bPrev, gS, gC, gM, lS, lC, lM, bN)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(0.0), Literal(0.0), Literal(0.0), Literal(1.0),
    Literal(0.0), Literal(0.0), Literal(1.0), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val aL = Literal(alpha)
    val bL = Literal(beta)
    val x = If(IsNull(valueExpr), Literal(Double.NaN), KnownNotNull(valueExpr))
    // first row: previous value is the caller-provided seed (nullable);
    // later rows: the buffered previous value. A null prev makes chg
    // null, and both gain and loss take their 0.0 branch — the exact
    // `close - lag(close)` first-row shape.
    val prev = If(EqualTo(bN, Literal(0L)), prevInit, bPrev)
    val chg = Subtract(x, prev)
    // a NaN change (null input encoded as NaN above, or the row AFTER a
    // null whose buffered prev is NaN) must fold 0 into both states —
    // matching the unfused `close - lag(close)` composition where a null
    // close yields a null change on its own row AND the next (both fold
    // 0, series recovers). Without the guard, Spark's NaN > 0 = TRUE
    // would turn the NaN change into a NaN gain and poison both states
    // for the rest of the partition.
    val live = Not(IsNaN(chg))
    val gain = KnownNotNull(
      If(And(live, GreaterThan(chg, Literal(0.0))), chg, Literal(0.0)))
    val loss = KnownNotNull(
      If(And(live, LessThan(chg, Literal(0.0))), UnaryMinus(chg), Literal(0.0)))
    def fold(in: Expression, s: AttributeReference, c: AttributeReference,
        m: AttributeReference): Seq[Expression] = Seq(
      If(Or(EqualTo(bN, Literal(0L)), IsNaN(s)), in,
        Add(Multiply(aL, in), Multiply(bL, s))),
      Add(Multiply(aL, in), Multiply(bL, c)),
      Multiply(bL, m))
    Seq(x) ++ fold(gain, gS, gC, gM) ++ fold(loss, lS, lC, lM) ++
      Seq(Add(bN, Literal(1L)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    def pick(attr: AttributeReference): Expression =
      If(EqualTo(bN.left, Literal(0L)), attr.right, attr.left)
    val guard = If(
      And(GreaterThan(bN.left, Literal(0L)), GreaterThan(bN.right, Literal(0L))),
      Cast(RaiseError(Literal("wilder_pair_state is ordered-window-only: a " +
        "two-buffer merge cannot reconstruct the right span's first-row " +
        "previous value")), DoubleType),
      pick(bPrev))
    Seq(guard, pick(gS), pick(gC), pick(gM), pick(lS), pick(lC), pick(lM),
      Add(bN.left, bN.right))
  }

  override lazy val evaluateExpression: Expression = {
    def st(s: Expression, c: Expression, m: Expression) =
      CreateNamedStruct(Seq(Literal("cSeeded"), s, Literal("c"), c,
        Literal("m"), m))
    CreateNamedStruct(Seq(
      Literal("g"), st(gS, gC, gM), Literal("l"), st(lS, lC, lM)))
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(valueExpr = newLeft, prevInit = newRight)
  override def prettyName: String = "wilder_pair_state"
}

object EmaFunctions {
  /** Running EMA over an ordered window frame (NaN for an empty frame).
    * α = 2/(n+1): classic n-period EMA; α = 1/n: Wilder smoothing.
    */
  def ema_run(x: Column, alpha: Double): Column =
    ExpressionUtils.column(
      EmaRunAgg(ExpressionUtils.expression(x), alpha).toAggregateExpression())

  /** Running EMA affine state `struct(cSeeded, c, m)` (chunk summaries). */
  def ema_state(x: Column, alpha: Double): Column =
    ExpressionUtils.column(
      EmaStateAgg(ExpressionUtils.expression(x), alpha).toAggregateExpression())

  /** Fused Wilder gain/loss running state pair
    * `struct(g: (cSeeded, c, m), l: (cSeeded, c, m))` over an ordered
    * window frame; `prevInit` seeds the first row's previous value (null
    * → first change folds as 0). Replaces lag + two [[ema_state]]s in
    * one WindowExec pass.
    */
  def wilder_pair_state(x: Column, prevInit: Column, alpha: Double): Column =
    ExpressionUtils.column(
      WilderPairStateAgg(ExpressionUtils.expression(x),
        ExpressionUtils.expression(prevInit), alpha).toAggregateExpression())
}
