package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

object WatermarkLookup {

  /** Column API: the watermark of `symbol` in `marks` (epoch micros, typed
    * `tsType`), null for a null or unknown symbol.
    */
  def column(symbol: Column, marks: Map[String, Long], tsType: DataType): Column =
    ExpressionUtils.column(WatermarkLookup(ExpressionUtils.expression(symbol), marks, tsType))

  private def index(marks: Map[String, Long]): java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](marks.size * 2)
    marks.foreach { case (s, t) => m.put(UTF8String.fromString(s), t) }
    m
  }
}

/** Per-symbol watermark lookup: a hash probe into a driver-held map of
  * epoch micros, typed as the input's TIMESTAMP or TIMESTAMP_NTZ. It
  * replaces `element_at(<map literal>, symbol)`, which scans the literal's
  * keys for every row. The index is a `java.util.HashMap` keyed by
  * `UTF8String`; in generated code it is a reference object, so it ships
  * and is built once per task, and an evaluation costs one hash and one
  * probe whatever the symbol count.
  */
case class WatermarkLookup(symbol: Expression, marks: Map[String, Long], dataType: DataType)
  extends UnaryExpression with ExpectsInputTypes {
  require(dataType == TimestampType || dataType == TimestampNTZType,
    s"watermarks are TIMESTAMP or TIMESTAMP_NTZ, got $dataType")

  override def child: Expression = symbol
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  // the map can hold many thousands of symbols: print its size, not its entries
  override def toString: String = s"watermark($symbol, ${marks.size} symbols)"

  @transient private lazy val idx = WatermarkLookup.index(marks)

  override protected def nullSafeEval(s: Any): Any = idx.get(s.asInstanceOf[UTF8String]) match {
    case null => null
    case t => t.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("watermarks", idx, "java.util.HashMap")
    val t = ctx.freshName("t")
    val s = symbol.genCode(ctx)
    ev.copy(code =
      code"""
        |${s.code}
        |boolean ${ev.isNull} = true;
        |long ${ev.value} = -1L;
        |if (!${s.isNull}) {
        |  java.lang.Long $t = (java.lang.Long) $m.get(${s.value});
        |  if ($t != null) {
        |    ${ev.isNull} = false;
        |    ${ev.value} = $t.longValue();
        |  }
        |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(symbol = newChild)
}
