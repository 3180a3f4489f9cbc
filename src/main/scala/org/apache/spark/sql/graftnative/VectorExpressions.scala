package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst expression for the float-vector dot product — the ANN
  * hot path of graft's similarity operators. The higher-order-function
  * formulation (`aggregate(zip_with(a,b,*),0d,+)`) allocates an
  * intermediate array and evaluates lambdas per element in interpreted
  * mode; this expression generates one fused Java loop via `doGenCode`
  * (with an interpreted `nullSafeEval` fallback), keeping the similarity
  * kernel inside whole-stage codegen.
  *
  * Accumulation is a sequential left-to-right fold of exact
  * `(double)a[i] * (double)b[i]` products — bit-identical to the HOF
  * formulation and to the DuckDB `list_reduce` oracle mirror (see
  * graft.Queries determinism recipe).
  *
  * Lives under `org.apache.spark.sql` because `ExpressionUtils`/
  * `AbstractDataType` are `private[sql]` in Spark 4.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // result can be NULL (length mismatch / null element) even when both
  // input arrays are non-nullable — without this override Spark would
  // treat the expression as non-nullable and the codegen isNull
  // assignment would be dead
  override def nullable: Boolean = true

  // Null semantics match the HOF formulation exactly (zip_with pads
  // length-mismatched arrays with null; null poisons the fold): result is
  // NULL when lengths differ or any element is null.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression)
      : Expression = copy(left = newLeft, right = newRight)
}

/** Fused LSH bucket assignment: all `tables × bits` hyperplane dot
  * products of one embedding evaluated in a single expression — the
  * embedding array is read ONCE and every plane accumulator advances in
  * the same pass (composing `tables × bits` separate [[DotProductFloat]]
  * calls re-traverses the array per plane and pays per-expression
  * dispatch). Returns `array<int>` of `tables` bucket ids; bit p of
  * table t's bucket is set iff `dot(emb, plane[t][p]) > 0`.
  *
  * Per-plane accumulation is the identical sequential left-to-right fold
  * of exact `(double)emb[i] * (double)plane[i]` products, so bucket ids
  * are bit-for-bit equal to the composed formulation and to the DuckDB
  * inlined-literal oracle mirror (equality pinned in ScaleOpsSpec).
  *
  * Degenerate inputs mirror the composed form's `when(dot > 0, ...)
  * .otherwise(0)` semantics: a NULL embedding, a length mismatch, or a
  * null element makes every dot non-positive-or-null there — every
  * bucket 0 — so this expression likewise returns all-zero buckets (and
  * is itself never NULL).
  *
  * `planesFlat` is row-major `[t][p][dim]`, kept as the constructor's
  * reference object (a few KB, shipped once per task via the codegen
  * references array — not per row).
  */
case class LshBucketsFloat(child: Expression, planesFlat: Array[Float],
    dim: Int, tables: Int, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(planesFlat.length == tables * bits * dim, "plane matrix shape mismatch")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  private def zeroBuckets = new GenericArrayData(new Array[Int](tables))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return zeroBuckets
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return zeroBuckets
    var i = 0
    while (i < dim) { if (a.isNullAt(i)) return zeroBuckets; i += 1 }
    val k = tables * bits
    val acc = new Array[Double](k)
    i = 0
    while (i < dim) {
      val e = a.getFloat(i).toDouble
      var j = 0
      while (j < k) { acc(j) += e * planesFlat(j * dim + i).toDouble; j += 1 }
      i += 1
    }
    val res = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var b = 0
      var p = 0
      while (p < bits) { if (acc(t * bits + p) > 0) b |= 1 << p; p += 1 }
      res(t) = b
      t += 1
    }
    new GenericArrayData(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val planes = ctx.addReferenceObj("lshPlanes", planesFlat, "float[]")
    val a = ctx.freshName("arr")
    val acc = ctx.freshName("acc")
    val res = ctx.freshName("res")
    val ok = ctx.freshName("ok")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val t = ctx.freshName("t")
    val p = ctx.freshName("p")
    val e = ctx.freshName("e")
    val b = ctx.freshName("b")
    val code =
      code"""
        |${childGen.code}
        |int[] $res = new int[$tables];
        |if (!${childGen.isNull}) {
        |  org.apache.spark.sql.catalyst.util.ArrayData $a = ${childGen.value};
        |  boolean $ok = ($a.numElements() == $dim);
        |  for (int $i = 0; $ok && $i < $dim; $i++) {
        |    if ($a.isNullAt($i)) $ok = false;
        |  }
        |  if ($ok) {
        |    double[] $acc = new double[${tables * bits}];
        |    for (int $i = 0; $i < $dim; $i++) {
        |      double $e = (double) $a.getFloat($i);
        |      for (int $j = 0; $j < ${tables * bits}; $j++) {
        |        $acc[$j] += $e * (double) $planes[$j * $dim + $i];
        |      }
        |    }
        |    for (int $t = 0; $t < $tables; $t++) {
        |      int $b = 0;
        |      for (int $p = 0; $p < $bits; $p++) {
        |        if ($acc[$t * $bits + $p] > 0) $b |= 1 << $p;
        |      }
        |      $res[$t] = $b;
        |    }
        |  }
        |}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    ev.copy(code = code, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column-level API: exact double-precision dot product of two float
    * arrays with a fixed left-to-right fold, deterministic across engines
    * (see [[DotProductFloat]]). `graft.operators.ScaleOps.dotHof` is the
    * built-in-only formulation (bit-identical, slower).
    */
  def dot_f(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductFloat(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-level API: fused LSH bucket array (see [[LshBucketsFloat]]).
    * `planesFlat` row-major `[table][bit][dim]`.
    */
  def lsh_buckets(emb: Column, planesFlat: Array[Float], dim: Int,
      tables: Int, bits: Int): Column =
    ExpressionUtils.column(LshBucketsFloat(
      ExpressionUtils.expression(emb), planesFlat, dim, tables, bits))
}
