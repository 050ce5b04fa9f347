package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Growable primitive double buffer — the aggregation state of
  * [[SortedSumD]]. Plain `Array[Double]` + length, no boxing; serialized as
  * the packed 8·n little-endian byte image for shuffle exchange. */
final class DoubleBuf(var arr: Array[Double], var n: Int) {
  def this() = this(new Array[Double](16), 0)

  def add(v: Double): Unit = {
    if (n == arr.length) {
      val grown = new Array[Double](arr.length << 1)
      System.arraycopy(arr, 0, grown, 0, n)
      arr = grown
    }
    arr(n) = v
    n += 1
  }

  def addAll(o: DoubleBuf): Unit = {
    if (n + o.n > arr.length) {
      var cap = arr.length
      while (cap < n + o.n) cap <<= 1
      val grown = new Array[Double](cap)
      System.arraycopy(arr, 0, grown, 0, n)
      arr = grown
    }
    System.arraycopy(o.arr, 0, arr, n, o.n)
    n += o.n
  }

  /** Sort ascending (Arrays.sort(double[]): −0.0 < 0.0, NaN greatest —
    * the identical total order Catalyst's `sort_array` uses for doubles)
    * then fold left-to-right from +0.0 — bit-identical to
    * `vec_seq_sum(sort_array(collect_list(x)))` and to DuckDB
    * `list_sum(list_sort(list(x)))`. Empty buffer (all-null group) → 0.0,
    * matching `vecSeqSumD` over `collect_list`'s empty array. */
  def sortedSum(): Double = {
    java.util.Arrays.sort(arr, 0, n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += arr(i); i += 1 }
    acc
  }

  def toBytes: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(DoubleBuf.serializedSize(n))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(arr, 0, n)
    bb.array()
  }
}

object DoubleBuf {
  /** Byte size of the packed image of `n` doubles. A byte array is capped
    * at 2 GiB, so a group past Int.MaxValue / 8 values (~268M) cannot be
    * serialized for the exchange; fail by name rather than overflow into
    * a negative allocation size. */
  def serializedSize(n: Int): Int = {
    require(n <= Int.MaxValue / 8,
      s"sorted_sum group of $n values exceeds the 2 GiB serialized-buffer limit")
    n * 8
  }

  def fromBytes(bytes: Array[Byte]): DoubleBuf = {
    val n = bytes.length / 8
    val arr = new Array[Double](math.max(n, 16))
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer().get(arr, 0, n)
    new DoubleBuf(arr, n)
  }
}

/** `sorted_sum(x)`: the engine's deterministic sorted-fold aggregate —
  * collect the group's non-null doubles, sort ascending, sum sequentially
  * from +0.0 — as ONE primitive-buffer TypedImperativeAggregate.
  *
  * Replaces `vec_seq_sum(sort_array(collect_list(x)))` (round-15, VERDICT
  * r14 item 1): `collect_list` accumulates BOXED java.lang.Double objects
  * in a generic ArrayBuffer, converts to Catalyst array data at every
  * partial-aggregate serialization, and `sort_array` re-materializes the
  * array once more before the fold — profiled as the top term of the
  * SortedFold consumers (m4b's 12 per-dim fold passes, m3b/m22/v6
  * recenters, the LISA lag means). This aggregate keeps a raw
  * `Array[Double]` per group (16 doubles min, doubling growth; 8·n-byte
  * packed image on the exchange vs collect_list's UnsafeArrayData row) and
  * defers the sort+fold to final `eval`.
  *
  * Bit-exactness contract (the risky part — pinned by SortedSumAggSpec):
  * same multiset (nulls skipped, exactly collect_list's rule), same total
  * order (Arrays.sort(double[]) ≡ Catalyst double ordering: −0.0 < 0.0,
  * NaN greatest), same left-to-right double accumulation from +0.0
  * (≡ VectorMath.seqSumD ≡ DuckDB list_sum(list_sort(...))). Empty group
  * → 0.0 on both paths. Buffer size is the caller's concern exactly as
  * before: SortedFold's two-level bucketing keeps groups ≤ max(BucketCap,
  * n/BucketCap), and the session's objectHashAggregate fallback threshold
  * argument (GraftSession) carries over unchanged — 4096 groups × the same
  * bounded per-group payload, now unboxed (8 B/value vs ~40 B boxed). */
case class SortedSumD(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DoubleBuf]
  with UnaryLike[Expression] {

  // Strict DOUBLE-only input, loud at analysis (the old chain was already
  // double-only: vec_seq_sum reads getDouble off the collected array).
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_sum requires a DOUBLE input column, got ${child.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "sorted_sum"

  override def createAggregationBuffer(): DoubleBuf = new DoubleBuf()

  override def update(buf: DoubleBuf, input: InternalRow): DoubleBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(b1: DoubleBuf, b2: DoubleBuf): DoubleBuf = {
    b1.addAll(b2)
    b1
  }

  override def eval(buf: DoubleBuf): Any = buf.sortedSum()

  override def serialize(buf: DoubleBuf): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): DoubleBuf =
    DoubleBuf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedSumD =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): SortedSumD =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): SortedSumD =
    copy(child = newChild)
}

object SortedSumD {
  /** Column API: deterministic sorted-fold sum of a double column. */
  def sortedSum(c: Column): Column =
    ColumnBridge.column(
      SortedSumD(ColumnBridge.expression(c)).toAggregateExpression())
}
