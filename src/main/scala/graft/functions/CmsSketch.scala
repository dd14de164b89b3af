package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Count-Min sketch AGGREGATE — the distributed-sketch shape a
  * 100 TB counting tier actually runs: each task folds its partition's
  * word stream into a constant d×w = 4×256 = 1024-long buffer, partial
  * buffers merge ASSOCIATIVELY up the aggregation tree (elementwise
  * add — the map-side-combine property that makes the sketch shuffle
  * exactly 1024 longs per partition regardless of vocabulary or row
  * count), and the final buffer answers point queries one-sided-high
  * (Cormode & Muthukrishnan 2005). This is the TypedImperativeAggregate
  * tier of the engine's UDAF surface (BoundedConcat covers the typed
  * Aggregator tier); the relational build in
  * [[graft.etl.CorpusStats.cmsFrequency]] computes the SAME cells
  * through groupBy — `cms_native` pins agg == relational cell-for-cell.
  *
  * The row hashes replicate the engine-portable md5 analog
  * ([[graft.etl.CorpusStats.cmsBuckets]]: first 8 lowercase-hex md5
  * chars of j||word as an unsigned int, mod 256) so the sketch is
  * bit-identical to the SQL builds in BOTH engines.
  */
object CmsSketch {
  val Depth = 4
  val Width = 256

  /** Point query: the sketch's one-sided-high estimate for `word` —
    * min over the d=4 rows of the cell the word hashes to (Cormode &
    * Muthukrishnan 2005 §4.1); `cells` is the row-major
    * 1024-long buffer [[CmsSketchAgg]] emits.
    */
  def lookup(cells: org.apache.spark.sql.catalyst.util.ArrayData,
      word: UTF8String): Long = {
    if (cells.numElements() != Depth * Width)
      throw new IllegalArgumentException(
        s"cms_lookup: expected a ${Depth * Width}-cell CMS sketch " +
          s"(from cms_sketch), got array<bigint> of ${cells.numElements()}")
    val w = word.toString
    var est = Long.MaxValue
    var j = 1
    while (j <= Depth) {
      val c = cells.getLong((j - 1) * Width + bucket(j, w))
      if (c < est) est = c
      j += 1
    }
    est
  }

  /** Same value as `conv(substring(md5(concat(j, word)), 1, 8), 16, 10)
    * % 256` in Spark SQL / the DuckDB oracle.
    */
  def bucket(j: Int, word: String): Int = {
    val md = Md5.get()
    md.reset()
    val d = md.digest((j.toString + word).getBytes("UTF-8"))
    // first 8 hex chars = first 4 bytes, unsigned
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % Width).toInt
  }
}

case class CmsSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  import CmsSketch._

  // reject mistyped SQL calls at analysis time, not inside update()
  override def inputTypes: Seq[org.apache.spark.sql.graft.TypeBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](Depth * Width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val w = v.asInstanceOf[UTF8String].toString
      var j = 1
      while (j <= Depth) {
        buf((j - 1) * Width + bucket(j, w)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(Depth * Width)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

object CmsSketchFunctions {
  /** `cms_lookup(sketch, word)` — the sketch's answering surface: without
    * it the 1024-cell array is an artifact you can only consume by
    * exploding; with it the sketch is queryable in SQL the way a
    * production counting tier is used (build once per window/partition,
    * point-query per candidate word).
    */
  private val Lookup = Kernel("cms_lookup", CmsSketch.getClass, "lookup",
    Seq(ArrayType(LongType, containsNull = false), StringType), LongType,
    usage = Some("cms_lookup(sketch, word) - one-sided-high point estimate from cms_sketch cells"))

  val kernels: Seq[Kernel] = Seq(Lookup)

  /** Column API: the 1024-cell sketch of a string column (row-major
    * d×w flattening: cell(j, b) at index (j−1)·256 + b).
    */
  def cmsSketch(word: Column): Column =
    ColumnBridge.column(
      CmsSketchAgg(ColumnBridge.expression(word)).toAggregateExpression())

  /** Column API: one-sided-high point estimate for `word` from a
    * sketch built by [[cmsSketch]].
    */
  def cmsLookup(sketch: Column, word: Column): Column = Lookup(sketch, word)()
}
