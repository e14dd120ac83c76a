package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Folds (index, value) rows into one `array<value>` of `size` slots:
  * slot `i` holds the first non-null value seen at index `i`, null if
  * none. Rows whose index is null or outside `[0, size)` are ignored.
  *
  * The by-index fold of the pivot's second phase, for every cell type.
  * Unlike Spark's `PivotFirst`, which keeps its slots in a fixed-width
  * mutable buffer and so takes only numeric and boolean values, the
  * buffer is an object array and takes any type (strings, arrays,
  * structs, dates). Values are copied on update, since the input row's
  * buffers are reused. The slot array is serialized only at
  * partial-aggregation boundaries, as one UnsafeArrayData.
  */
case class FirstByIndex(index: Expression, value: Expression, size: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Any]] {

  override lazy val resolved: Boolean =
    size >= 0 && index.resolved && value.resolved && index.dataType == IntegerType

  override def children: Seq[Expression] = Seq(index, value)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(value.dataType, containsNull = true)
  override def prettyName: String = "graft_first_by_index"

  override def createAggregationBuffer(): Array[Any] = new Array[Any](size)

  override def update(buf: Array[Any], input: InternalRow): Array[Any] = {
    val i = index.eval(input)
    if (i != null) {
      val slot = i.asInstanceOf[Int]
      if (slot >= 0 && slot < size && buf(slot) == null) {
        val v = value.eval(input)
        if (v != null) buf(slot) = InternalRow.copyValue(v)
      }
    }
    buf
  }

  override def merge(buf: Array[Any], other: Array[Any]): Array[Any] = {
    var i = 0
    while (i < size) {
      if (buf(i) == null) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Any]): Any = new GenericArrayData(buf)

  @transient private lazy val toUnsafe = UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(buf: Array[Any]): Array[Byte] =
    toUnsafe(InternalRow(new GenericArrayData(buf))).getBytes

  override def deserialize(bytes: Array[Byte]): Array[Any] = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    // the elements point into `bytes`, which nothing reuses
    row.getArray(0).toObjectArray(value.dataType).asInstanceOf[Array[Any]]
  }

  override def withNewMutableAggBufferOffset(o: Int): FirstByIndex =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FirstByIndex =
    copy(inputAggBufferOffset = o)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FirstByIndex =
    copy(index = newChildren(0), value = newChildren(1))
}
