package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.TypeBridge.AbstractType
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.unsafe.Platform

/** One mergeable sketch: the SQL aggregate's name, argument types,
  * element type and usage line, plus the buffer algebra every build of
  * it folds through (Agarwal et al., "Mergeable Summaries", PODS 2012):
  * `zero` is a fresh buffer, `add` folds one row's non-null argument
  * values (Catalyst values: `UTF8String` for strings) into a buffer,
  * `merge` folds a second buffer into the first, `encode` gives a
  * buffer's finished array and `decode` rebuilds a buffer from one.
  *
  * The encoded array is the aggregate's result, its serialized partial
  * state (the array's bytes) and a streaming twin's running state, so
  * the four can never disagree on the format the answering kernels
  * read. [[graft.GraftExtensions]] registers every row in [[Sketch.all]]
  * as a SQL aggregate under its `name`, with arity `inputTypes.size`.
  */
final case class Sketch[B](name: String, inputTypes: Seq[AbstractType],
    elementType: DataType, usage: String,
    zero: () => B, add: (B, Seq[Any]) => Unit, merge: (B, B) => Unit,
    encode: B => UnsafeArrayData, decode: ArrayData => B) {

  def dataType: ArrayType = ArrayType(elementType, containsNull = false)

  def serialize(buf: B): Array[Byte] = {
    val arr = encode(buf)
    val bytes = new Array[Byte](arr.getSizeInBytes)
    arr.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    bytes
  }

  def deserialize(bytes: Array[Byte]): B = {
    val arr = new UnsafeArrayData()
    arr.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    decode(arr)
  }

  /** One micro-batch of a streaming twin: `values` (one argument each)
    * folded into the buffer `prior` encodes, or into a fresh one.
    */
  def fold(prior: Option[ArrayData], values: Iterator[Any]): UnsafeArrayData = {
    val buf = prior.fold(zero())(decode)
    values.foreach(v => add(buf, Seq(v)))
    encode(buf)
  }

  /** The aggregate node over `children`. */
  def call(children: Seq[Expression]): SketchAgg[B] = SketchAgg(this, children)

  /** Column API: this sketch aggregated over `args`. */
  def apply(args: Column*): Column =
    ColumnBridge.column(
      call(args.map(ColumnBridge.expression)).toAggregateExpression())
}

object Sketch {
  /** Every sketch row in this package. */
  lazy val all: Seq[Sketch[_]] = Seq(CmsSketchFunctions.sketch,
    HllSketchFunctions.sketch, KmvSketchFunctions.sketch,
    QdigestSketchFunctions.sketch, QdigestSketchFunctions.weighted)
}

/** The plan node of a [[Sketch]] aggregate: each task folds its rows
  * into the row's buffer, skipping a row with any null argument, and
  * partial buffers merge up the aggregation tree. It prints as the
  * row's name over its arguments and buffer offsets
  * (`partial_cms_sketch(word#1, 0, 0)`), which plan pins and plan
  * diffs read.
  */
case class SketchAgg[B](sketch: Sketch[B], children: Seq[Expression],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] with ExpectsInputTypes {

  // reject mistyped SQL calls at analysis time, not inside update()
  override def inputTypes: Seq[AbstractType] = sketch.inputTypes
  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = false
  override def prettyName: String = sketch.name
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = sketch.zero()

  override def update(buf: B, input: InternalRow): B = {
    val values = children.map(_.eval(input))
    if (!values.contains(null)) sketch.add(buf, values)
    buf
  }

  override def merge(b1: B, b2: B): B = { sketch.merge(b1, b2); b1 }

  override def eval(buf: B): Any = sketch.encode(buf)

  override def serialize(buf: B): Array[Byte] = sketch.serialize(buf)

  override def deserialize(bytes: Array[Byte]): B = sketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[B] =
    copy(children = newChildren)
}
