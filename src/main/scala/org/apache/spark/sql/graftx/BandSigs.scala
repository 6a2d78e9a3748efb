package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType}

/** The plane matrix as a VALUE type with a digest identity: a bare
  * `Seq[Seq[Double]]` constructor arg made every TreeNode rendering of
  * the expression print all bands×planesPerBand×dims doubles (the
  * 36×12×64 pre-blocker: ~24 KB of toString PER REFERENCE — q221's
  * four call sites rendered 560 KB of plan text), and every case-class
  * equality/hash during optimizer rule application walked the full
  * matrix. Equality here compares the precomputed md5 of the flattened
  * doubles (content-faithful: different planes ⇒ different digest),
  * hashCode is cached, and toString is a short shape+digest tag.
  */
final class PlaneMatrix(val rows: Seq[Seq[Double]]) extends Serializable {
  require(rows.nonEmpty && rows.forall(_.length == rows.head.length),
    "empty or ragged plane matrix")
  def nPlanes: Int = rows.length
  def dims: Int = rows.head.length
  val digest: String = {
    val bb = java.nio.ByteBuffer.allocate(rows.length * dims * 8)
    rows.foreach(_.foreach(bb.putDouble))
    java.security.MessageDigest.getInstance("MD5").digest(bb.array())
      .map("%02x".format(_)).mkString.take(16)
  }
  override def equals(o: Any): Boolean = o match {
    case p: PlaneMatrix =>
      p.nPlanes == nPlanes && p.dims == dims && p.digest == digest
    case _ => false
  }
  override val hashCode: Int = (nPlanes, dims, digest).hashCode()
  override def toString: String = s"planes[${nPlanes}x$dims:$digest]"
}

/** Every banded sign-LSH signature of one vector in ONE expression.
  *
  * The composed form — `bands × planesPerBand` separate `DotProduct(q,
  * array(lit...))` sub-expressions, each carrying its plane as `dims`
  * literal nodes — builds a ~30k-node expression tree for the 36×12
  * pre-blocker (432 plane dots × 64 literals): analysis/optimization of
  * that tree dominated q278's wall at bench scale, and the projection
  * blows past the whole-stage-codegen method limit. This expression
  * keeps the plane matrix as ONE flattened `double[]` reference object
  * and emits all band signatures in a single fused loop.
  *
  * Arithmetic is IDENTICAL to the composed form, term for term: plane
  * `b·P + i`'s dot is a strict ascending-index fold over
  * `min(|vec|, dims)` elements (graftx.DotProduct's loop), the sign test
  * is `>= 0`, and bit `i` of band `b`'s signature is set on a
  * non-negative dot. Inputs are the 1e3-quantized vectors of the q40/
  * q216 determinism family — integer values in double slots, so every
  * product and ≤64-term sum is exact (< 2^53) and the signature is
  * fold-order-free; the DuckDB oracle replays it from SQL-side md5
  * planes bit-for-bit.
  */
case class BandSigs(child: Expression, planes: PlaneMatrix,
                    planesPerBand: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planesPerBand >= 1 && planesPerBand <= 63,
    s"planesPerBand out of range: $planesPerBand")
  require(planes.nPlanes % planesPerBand == 0,
    s"planes (${planes.nPlanes}) must be a multiple of planesPerBand ($planesPerBand)")

  private def bands: Int = planes.nPlanes / planesPerBand
  private def dims: Int = planes.dims

  @transient private lazy val flat: Array[Double] =
    planes.rows.flatten.toArray

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dims)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var i = 0
      while (i < planesPerBand) {
        val off = (b * planesPerBand + i) * dims
        var s = 0.0
        var d = 0
        while (d < n) { s += a.getDouble(d) * flat(off + d); d += 1 }
        if (s >= 0) sig |= 1L << i
        i += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val p   = ctx.addReferenceObj("planes", flat, "double[]")
      val n   = ctx.freshName("n")
      val out = ctx.freshName("out")
      val b   = ctx.freshName("b")
      val i   = ctx.freshName("i")
      val d   = ctx.freshName("d")
      val s   = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dims);
         |long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $sig = 0L;
         |  for (int $i = 0; $i < $planesPerBand; $i++) {
         |    int $off = ($b * $planesPerBand + $i) * $dims;
         |    double $s = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      $s += $a.getDouble($d) * $p[$off + $d];
         |    }
         |    if ($s >= 0) $sig |= 1L << $i;
         |  }
         |  $out[$b] = $sig;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandSigs {
  /** Column-API entry point: array of `planes.length / planesPerBand`
    * band signatures (bit `i` set ⇔ plane `b·P+i`'s dot with `vec` is
    * ≥ 0).
    */
  def sigs(vec: Column, planes: Seq[Seq[Double]], planesPerBand: Int): Column =
    Bridge.column(BandSigs(Bridge.expression(vec), new PlaneMatrix(planes),
                           planesPerBand))
}
