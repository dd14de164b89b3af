package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Count-Min sketch AGGREGATE — the distributed-sketch shape a
  * 100 TB counting tier actually runs: each task folds its partition's
  * word stream into a constant d×w = 4×256 = 1024-long buffer, partial
  * buffers merge ASSOCIATIVELY up the aggregation tree (elementwise
  * add — the map-side-combine property that makes the sketch shuffle
  * exactly 1024 longs per partition regardless of vocabulary or row
  * count), and the final buffer answers point queries one-sided-high
  * (Cormode & Muthukrishnan 2005). This is a [[Sketch]] row of the
  * engine's UDAF surface, aggregated by [[SketchAgg]] (BoundedConcat
  * covers the typed Aggregator tier); the relational build in
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
    * 1024-long buffer `cms_sketch` emits.
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

  /** Adds one occurrence of `word` to its cell in each of the d rows. */
  def add(cells: Array[Long], word: String): Unit = {
    var j = 1
    while (j <= Depth) {
      cells((j - 1) * Width + bucket(j, word)) += 1L
      j += 1
    }
  }

  /** Elementwise sum of `b` into `a`. */
  def merge(a: Array[Long], b: Array[Long]): Unit = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
  }
}

object CmsSketchFunctions {
  /** `cms_sketch(word)` — the d×w cells of a string column, merged by
    * elementwise add.
    */
  val sketch: Sketch[Array[Long]] = Sketch[Array[Long]]("cms_sketch",
    Seq(StringType), LongType,
    "cms_sketch(word) - d=4 x w=256 Count-Min sketch cells (aggregate)",
    zero = () => new Array[Long](CmsSketch.Depth * CmsSketch.Width),
    add = (cells, v) => CmsSketch.add(cells, v.head.toString),
    merge = CmsSketch.merge,
    encode = UnsafeArrayData.fromPrimitiveArray(_),
    decode = _.toLongArray())

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
  def cmsSketch(word: Column): Column = sketch(word)

  /** Column API: one-sided-high point estimate for `word` from a
    * sketch built by [[cmsSketch]].
    */
  def cmsLookup(sketch: Column, word: Column): Column = Lookup(sketch, word)()
}
