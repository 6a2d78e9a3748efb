package org.apache.spark.sql.graftx

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{concat, lit, lpad, substring}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k aggregate: keeps the `k` smallest `(key, id)` pairs per
  * group under `(key ASC, id ASC)` binary order — MULTISET semantics, so
  * duplicate pairs count once each, exactly like a sort-limit — evaluated
  * as a sorted `array<struct<key,id>>`. With `distinctPairs = true` the
  * buffer is a SET instead: duplicate `(key, id)` pairs collapse to one,
  * so `groupBy(g).agg(topKDistinct(...))` ≡ `distinct().groupBy(g).agg(
  * topK(...))` WITHOUT the pre-aggregation distinct's extra shuffle —
  * the dedup happens inside the map-side partial heap.
  *
  * This is the scale shape for "N rows per stratum" sampling: a
  * `row_number().over(Window.partitionBy(stratum))` funnels each stratum's
  * ENTIRE data through one task just to keep N rows (the round-2 q68
  * finding — with a handful of language strata at 100 TB that is terabytes
  * per task). As a TypedImperativeAggregate this runs under
  * ObjectHashAggregate with map-side partial aggregation: every input task
  * reduces its slice to ≤ k pairs per stratum locally, the shuffle carries
  * ≤ k·P survivor pairs, and the final merge is a k-way bounded union —
  * the textbook two-level top-N, one shuffle, no task ever holds more
  * than O(k) state per group.
  *
  * Determinism: the comparator is UTF8String binary order + long order —
  * identical to DuckDB's `ORDER BY key, id` on ASCII keys — and top-k is
  * order-insensitive, so the result is independent of partitioning and
  * task retries.
  */
case class TopKPairs(
    left: Expression,
    right: Expression,
    k: Int,
    distinctPairs: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKPairs.Buf]
    with ExpectsInputTypes with BinaryLike[Expression] {

  import TopKPairs.Buf

  require(k >= 1, "TopKPairs needs k >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = new Buf

  override def update(buffer: Buf, input: InternalRow): Buf = {
    val kv = left.eval(input)
    val iv = right.eval(input)
    if (kv == null || iv == null) return buffer
    // clone: eval may return a reused/unsafe-backed buffer
    buffer.add((kv.asInstanceOf[UTF8String].clone(), iv.asInstanceOf[Long]), 1, k,
               distinctPairs)
    buffer
  }

  override def merge(b1: Buf, b2: Buf): Buf = {
    b2.m.forEach((pair, cnt) => b1.add(pair, cnt, k, distinctPairs))
    b1
  }

  override def eval(buffer: Buf): Any = {
    val rows = new Array[Any](buffer.n)
    var i = 0
    val it = buffer.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      var c = e.getValue.intValue()
      while (c > 0) {
        rows(i) = new GenericInternalRow(Array[Any](e.getKey._1, e.getKey._2))
        i += 1; c -= 1
      }
    }
    new GenericArrayData(rows)
  }

  override def serialize(buffer: Buf): Array[Byte] = {
    var bytes = 4
    buffer.m.forEach((pair, _) => bytes += 4 + pair._1.numBytes() + 8 + 4)
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buffer.m.size)
    buffer.m.forEach { (pair, cnt) =>
      val b = pair._1.getBytes
      bb.putInt(b.length); bb.put(b); bb.putLong(pair._2); bb.putInt(cnt)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb  = ByteBuffer.wrap(bytes)
    val n   = bb.getInt()
    val out = new Buf
    var i = 0
    while (i < n) {
      val len = bb.getInt()
      val b   = new Array[Byte](len)
      bb.get(b)
      val id  = bb.getLong()
      val cnt = bb.getInt()
      out.m.put((UTF8String.fromBytes(b), id), cnt)
      out.n += cnt
      i += 1
    }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TopKPairs {

  /** 10^18: scores in [0, 10^18) invert to 19-digit key prefixes. */
  private val Desc = 1000000000000000000L

  /** Key whose binary string order is (`score` DESC, `tail` ASC):
    * `lpad(10^18 − score, 19, '0') ‖ '|' ‖ tail`, for BIGINT scores in
    * [0, 10^18). The prefix is fixed-width, so the tail only breaks ties.
    */
  def descKey(score: Column, tail: Column): Column =
    concat(lpad((lit(Desc) - score).cast(StringType), 19, "0"), lit("|"), tail)

  /** [[descKey]] with a non-negative BIGINT id as the tail, zero-padded
    * to 19 digits so string order is id order.
    */
  def descIdKey(score: Column, id: Column): Column =
    descKey(score, lpad(id.cast(StringType), 19, "0"))

  /** The score a [[descKey]] encodes. */
  def descScore(key: Column): Column = lit(Desc) - substring(key, 1, 19).cast(LongType)

  private val cmp = new java.util.Comparator[(UTF8String, Long)] {
    override def compare(a: (UTF8String, Long), b: (UTF8String, Long)): Int = {
      val c = a._1.compareTo(b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Bounded multiset of pairs: TreeMap pair → multiplicity, plus the
    * total count `n` (Σ multiplicities ≤ k after every mutation).
    */
  final class Buf {
    val m = new java.util.TreeMap[(UTF8String, Long), Integer](cmp)
    var n = 0

    /** Add `cnt` copies of `pair`, then trim the largest entries so the
      * total stays ≤ k. Skips the insert outright when the buffer is full
      * and `pair` is not smaller than the current maximum. With
      * `distinct = true`, a pair already present is a no-op (set
      * semantics — multiplicity capped at 1).
      */
    def add(pair: (UTF8String, Long), cnt: Int, k: Int,
            distinct: Boolean = false): Unit = {
      if (n >= k && cmp.compare(pair, m.lastKey) >= 0) return
      if (distinct && m.containsKey(pair)) return
      m.merge(pair, if (distinct) 1 else cnt, (a, b) => a + b)
      n += (if (distinct) 1 else cnt)
      while (n > k) {
        val last = m.lastEntry
        val drop = math.min(last.getValue.intValue(), n - k)
        if (drop == last.getValue.intValue()) m.remove(last.getKey)
        else last.setValue(last.getValue - drop)
        n -= drop
      }
    }
  }

  /** `array<struct<key,id>>` of the k smallest (key, id) pairs per group
    * (duplicates kept, like a sort-limit), sorted ascending.
    */
  def topK(key: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKPairs(Bridge.expression(key), Bridge.expression(id), k).toAggregateExpression())

  /** SET-semantics top-k: duplicate (key, id) inputs collapse to one
    * entry, so callers can skip the pre-aggregation `distinct()` (and
    * its whole-row shuffle) when the key is a pure function of the id
    * pair — the NN-descent candidate heap's shape.
    */
  def topKDistinct(key: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKPairs(Bridge.expression(key), Bridge.expression(id), k,
                distinctPairs = true).toAggregateExpression())
}
