package graft.functions

import java.nio.ByteBuffer
import java.nio.ByteOrder

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native second-moment (outer-product-sum) aggregate: ONE pass over
  * quantized `array<long>` vectors accumulates the full d×d matrix
  * M = Σ_i v_i v_iᵀ in a flat per-task long buffer — d² multiply-adds
  * per row, ZERO row fan-out. The composable form (two chained
  * generators + a (d1,d2)-keyed hash aggregate) materializes n·d²
  * rows; at 200k×64 vectors that is 820M aggregate-input rows and the
  * build is allocation-bound (measured 135 s at sf10 vs ~4 s for this
  * kernel). Partial buffers merge elementwise (map-side combined like
  * any agg), so the shuffle carries d²+2 longs per task.
  *
  * Result layout (array<long>): `[d, n, p(0,0), p(0,1) … p(d−1,d−1)]`
  * row-major — the single bounded artifact the caller's driver-side
  * power iteration unpacks.
  *
  * Exactness bound: cell sums are plain longs; at micro quantization
  * of unit-norm vectors a cell is ≤ n·10¹², exact through n ≈ 3·10⁶
  * fully-aligned vectors per dimension pair and ~d× more in practice
  * (off-diagonal cancellation); past that, quantize to milli (bound
  * n ≈ 3·10¹²) — the trajectory contract is per-quantization either
  * way. `d ≤ 256` is enforced IN update (the buffer is d²+2 longs; an
  * unbounded d would be an executor OOM, not a result).
  */
case class OuterProductSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  override def prettyName: String = "outer_product_sum"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  // buffer layout: [d, n, products…]; the empty buffer is [0, 0]
  override def createAggregationBuffer(): Array[Long] = Array(0L, 0L)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val d = arr.numElements()
      require(d >= 1 && d <= 256, s"dims out of range for the d² buffer: $d")
      val b =
        if (buf(0) == 0L) {
          val nb = new Array[Long](2 + d * d); nb(0) = d.toLong; nb
        } else {
          require(buf(0) == d.toLong,
            s"ragged vectors: ${buf(0)} then $d dims")
          buf
        }
      val xs = arr.toLongArray()
      var i = 0
      while (i < d) {
        val xi = xs(i)
        val base = 2 + i * d
        var j = 0
        while (j < d) { b(base + j) += xi * xs(j); j += 1 }
        i += 1
      }
      b(1) += 1L
      b
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    if (b(0) == 0L) a
    else if (a(0) == 0L) b
    else {
      require(a(0) == b(0),
        s"ragged vectors across partitions: ${a(0)} vs ${b(0)}")
      var i = 1
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val lb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val out = new Array[Long](lb.remaining())
    lb.get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): OuterProductSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OuterProductSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): OuterProductSumAgg =
    copy(child = newChild)
}

object MomentExpressions {
  /** Column-level packed second-moment aggregate over an `array<long>`
    * column.
    */
  def outerProductSum(xs: Column): Column =
    column(OuterProductSumAgg(expression(xs)).toAggregateExpression())
}
