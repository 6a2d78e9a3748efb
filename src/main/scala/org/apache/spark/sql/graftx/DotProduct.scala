package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, ShortType}

/** Native dot product over two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` —
  * allocates an intermediate array and evaluates a lambda per element;
  * measured ~3.7 µs/pair on 64-dim vectors, which dominates any all-pairs
  * similarity join. This expression generates a tight scalar loop inside
  * whole-stage codegen (no allocation, no virtual calls) with the same
  * strict left-to-right fold, so results are bit-identical to the
  * composable form and to DuckDB's `list_dot_product`.
  *
  * Lives in this package because `AbstractDataType` (needed for
  * `ExpectsInputTypes`) is `private[sql]`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry point: `dotNative($"a", $"b")`. */
  def dotNative(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** The driver-side twin of the loop above, in the same sequential
    * ascending order, so a literal computed here (a centroid's c·c, a
    * lookup-table distance) is the double the expression and DuckDB's
    * `list_dot_product` compute.
    */
  def dot(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}

/** Native dot product over two `array<smallint>` columns, accumulated in
  * LONG — the quantized-gather scoring primitive for the NN-descent build
  * (round-17 verdict #6): int16 components make the shuffled vector
  * payload 4× smaller than array<double> (2 B vs 8 B per element) and the
  * dot an EXACT integer (every product ≤ 32767² and a 64-term sum ≪ 2^53),
  * so the score is fold-order-FREE — stronger than the double fold's
  * left-to-right parity — and the DuckDB oracle replays it with a
  * BIGINT-list `list_dot_product`.
  */
case class DotProductShort(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ShortType), ArrayType(ShortType))

  override def dataType: DataType = LongType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getShort(i).toLong * b.getShort(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (long) $a.getShort($i) * (long) $b.getShort($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProductShort {
  /** Column-API entry point: `dotShort($"a", $"b")` — LONG result. */
  def dotShort(a: Column, b: Column): Column =
    Bridge.column(DotProductShort(Bridge.expression(a), Bridge.expression(b)))
}
