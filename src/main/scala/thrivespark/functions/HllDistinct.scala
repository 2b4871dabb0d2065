package thrivespark.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types.{DataType, LongType}

/** HLL++ distinct count (Heule et al., EDBT 2013) with the sketch held in ONE
  * aggregation-buffer value. Spark's `approx_count_distinct` runs the same
  * estimator but lays its registers out as one `long` buffer column per
  * 64-bit word — 1,639 columns at rsd 0.01 — so any plan that also needs a
  * non-fixed-width buffer (a string min/max) falls back to a SortAggregate
  * carrying 1.6k-attribute rows. Here the words live in one `UnsafeRow`
  * over a `byte[]`, and update/merge/query delegate to Spark's own
  * `HyperLogLogPlusPlusHelper`, so estimates are bit-identical to
  * `approx_count_distinct(·, 0.01)`: the relative standard deviation is
  * fixed at the 1% every caller uses. Being a typed aggregate it
  * plans as an ObjectHashAggregate with one binary buffer column. Merging
  * is a register-wise max, so the estimate does not depend on partitioning.
  * An empty or all-null input counts 0. */
case class HllDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnsafeRow] with UnaryLike[Expression] {

  private lazy val helper = new HyperLogLogPlusPlusHelper(0.01)

  override def prettyName: String = "hll_distinct"
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def defaultResult: Option[Literal] = Option(Literal.create(0L, dataType))

  override def createAggregationBuffer(): UnsafeRow = {
    val n = helper.numWords
    UnsafeRow.createFromByteArray(UnsafeRow.calculateBitSetWidthInBytes(n) + 8 * n, n)
  }

  override def update(buffer: UnsafeRow, input: InternalRow): UnsafeRow = {
    val v = child.eval(input)
    if (v != null) helper.update(buffer, 0, v, child.dataType)
    buffer
  }

  override def merge(buffer: UnsafeRow, input: UnsafeRow): UnsafeRow = {
    helper.merge(buffer, input, 0, 0)
    buffer
  }

  override def eval(buffer: UnsafeRow): Any = helper.query(buffer, 0)

  override def serialize(buffer: UnsafeRow): Array[Byte] = buffer.getBytes

  override def deserialize(bytes: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(helper.numWords)
    row.pointTo(bytes, bytes.length)
    row
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): HllDistinct =
    copy(child = newChild)
}
