package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** A2 — time-axis integration: element-wise vector sum across rows
  * (ref utils.py:120-124, `np.sum(axis=0)`).
  *
  * An aggregate of whole arrays instead of `posexplode + groupBy(pos)`:
  * partial aggregation happens map-side, so the shuffle carries one array
  * per (group × partition) instead of n_rows × n_channels exploded rows —
  * at 100 TB that is the difference between shuffling kilobytes and
  * shuffling the whole dataset.
  *
  * The buffer is a `double[]`; each input row is read straight from its
  * `ArrayData`, with no per-row conversion to a Scala collection and no
  * boxed element. The semantics are those of the typed `Aggregator` this
  * replaced (its form lives on as a reference in `ArrayKernelsSpec`):
  *  - a null row is skipped, and a group of no rows sums to an empty array;
  *  - a null element adds 0.0 (run [[ArrayOps.fillNulls]] first — the
  *    reference masks NaNs and numpy treats masked as absent, i.e. 0 for
  *    sums);
  *  - rows of different lengths widen the buffer (shorter rows pad with 0);
  *  - element i accumulates in row order within a partition, and partial
  *    buffers add element-wise into the longer one.
  */
case class VectorSumAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sum"

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(acc: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return acc
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = if (acc.length >= n) acc else java.util.Arrays.copyOf(acc, n)
    var i = 0
    while (i < n) {
      out(i) += (if (xs.isNullAt(i)) 0.0 else xs.getDouble(i))
      i += 1
    }
    out
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val (base, add) = if (a.length >= b.length) (a, b) else (b, a)
    var i = 0
    while (i < add.length) { base(i) += add(i); i += 1 }
    base
  }

  override def eval(acc: Array[Double]): Any = UnsafeArrayData.fromPrimitiveArray(acc)

  override def serialize(acc: Array[Double]): Array[Byte] = {
    val bytes = ByteBuffer.allocate(acc.length * 8)
    bytes.asDoubleBuffer().put(acc)
    bytes.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val acc = new Array[Double](bytes.length / 8)
    ByteBuffer.wrap(bytes).asDoubleBuffer().get(acc)
    acc
  }

  override def withNewMutableAggBufferOffset(offset: Int): VectorSumAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorSumAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumAggregate =
    copy(child = newChild)
}

object VectorSum {
  /** Column form: `df.groupBy(k).agg(VectorSum.vecSum($"DATA"))`. Numeric
    * arrays are cast to `array<double>` first.
    */
  def vecSum(data: Column): Column =
    VectorKernels.unary(VectorSumAggregate(_).toAggregateExpression())(data)
}
