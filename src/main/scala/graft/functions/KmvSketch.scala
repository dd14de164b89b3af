package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native KMV (k-minimum-values / bottom-k, Bar-Yossef et al. 2002;
  * the Theta-sketch family of Dasgupta et al. 2016) AGGREGATE — the
  * third native sketch tier, covering the operation the other two
  * can't: SET ALGEBRA over distincts. [[CmsSketchAgg]] answers
  * frequencies, [[HllSketchAgg]] cardinalities; neither can estimate
  * |A ∩ B| across two corpora without rescanning. A KMV sketch — the
  * k smallest distinct hash values of a set — supports union (merge +
  * trim), and because every sketch is a uniform sample of the hash
  * space below its threshold θ, two sketches estimate their
  * intersection directly: count common values below min(θ_A, θ_B) and
  * divide by the sampled fraction. That is the 100 TB "how much does
  * corpus A overlap corpus B" primitive (contamination, cross-snapshot
  * dedup, vocabulary drift) at 8 KB per corpus instead of a
  * distinct-join.
  *
  * Fully DETERMINISTIC, unlike random-sample sketches: the "sample"
  * is the set of words whose engine-portable md5 hash
  * ([[HllSketch.hash64]], unsigned order) lands below the k-th
  * smallest — no RNG, no order sensitivity (k-smallest-of-set is
  * order- and partitioning-invariant; OpUnitSpec pins it). Merge =
  * sorted-merge + dedup + trim to k. When a set has < k distinct
  * values the sketch IS the set and every estimate is exact
  * (exactly k fills the sketch and switches to the estimator).
  *
  * Verification discipline: estimates divide through the hash-space
  * fraction (doubles), so verified queries emit exact twins plus
  * in-engine band flags (the [[graft.etl.Router.hllNative]] pattern);
  * the sketch contents are pinned by unit tests.
  */
object KmvSketch {
  val K = 1024

  /** Unsigned-ordered insert-if-small-enough set, capped at k. */
  type Buffer = java.util.TreeSet[java.lang.Long]

  def newBuffer(): Buffer =
    new java.util.TreeSet[java.lang.Long](
      (a: java.lang.Long, b: java.lang.Long) =>
        java.lang.Long.compareUnsigned(a, b))

  def add(buf: Buffer, h: Long): Unit = {
    buf.add(h)
    if (buf.size > K) buf.remove(buf.last())
  }

  /** The canonical serialized form: unsigned-ascending array of the
    * buffer's hashes — ONE definition of the buffer→sketch invariant
    * shared by the aggregate's eval, the streaming twin, and tests.
    */
  def toArray(buf: Buffer): Array[Long] = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  /** 2^64 as a double — the hash-space size the fraction divides by. */
  private val Space = java.lang.Math.scalb(1.0, 64)

  private def unsignedToDouble(h: Long): Double =
    if (h >= 0L) h.toDouble else h.toDouble + Space

  /** Reject arrays that are not well-formed KMV sketches (size ≤ k,
    * strictly unsigned-ascending) with a clear error instead of
    * computing garbage — e.g. a 1024-cell CMS buffer passed to
    * kmv_estimate has the right element type and even the right length
    * but its count cells repeat, failing strictness at the first
    * duplicate (r12 ADVICE). O(n) over ≤ 1024 elements; the estimate
    * walks the same array anyway.
    */
  def validate(arr: ArrayData, fn: String): Unit = {
    val n = arr.numElements()
    if (n > K) throw new IllegalArgumentException(
      s"$fn: expected a kmv_sketch array (≤ $K sorted hashes), got $n elements")
    var i = 1
    while (i < n) {
      if (java.lang.Long.compareUnsigned(arr.getLong(i - 1), arr.getLong(i)) >= 0)
        throw new IllegalArgumentException(
          s"$fn: array is not strictly unsigned-ascending at index $i — " +
            "not a kmv_sketch result")
      i += 1
    }
  }

  /** Distinct-count estimate from a sorted (unsigned ascending)
    * sketch array: exact when the sketch is not full (it holds the
    * whole set), else the classic (k−1) / fraction-below-kth-value.
    */
  def estimate(arr: ArrayData): Long = {
    validate(arr, "kmv_estimate")
    val n = arr.numElements()
    if (n < K) n.toLong
    else {
      val kth = unsignedToDouble(arr.getLong(n - 1))
      math.rint((K - 1).toDouble * Space / kth).toLong
    }
  }

  /** |A ∩ B| estimate: common values below θ = min(θ_A, θ_B), scaled
    * by the sampled fraction θ/2^64. θ_X = 2^64 when X is not full
    * (the sketch covers the whole hash space), else the value just
    * above the k-th minimum. Exact when both sketches are not full.
    */
  def commonEstimate(a: ArrayData, b: ArrayData): Long = {
    validate(a, "kmv_common"); validate(b, "kmv_common")
    val na = a.numElements(); val nb = b.numElements()
    val thetaA = if (na < K) Space else unsignedToDouble(a.getLong(na - 1))
    val thetaB = if (nb < K) Space else unsignedToDouble(b.getLong(nb - 1))
    val theta = math.min(thetaA, thetaB)
    // merge-walk the two sorted arrays counting common values < θ
    var i = 0; var j = 0; var common = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i); val vb = b.getLong(j)
      val c = java.lang.Long.compareUnsigned(va, vb)
      if (c == 0) {
        if (unsignedToDouble(va) < theta) common += 1
        i += 1; j += 1
      } else if (c < 0) i += 1
      else j += 1
    }
    if (theta >= Space) common
    else math.rint(common.toDouble * Space / theta).toLong
  }

  /** Union sketch: sorted-merge + dedup + trim to k — the SAME
    * operation [[KmvSketchAgg.merge]] performs on buffers, exposed
    * over finished sketch arrays so daily sketches roll up to monthly
    * ones without touching raw data (the HLL-union reaggregation
    * property, on the set-algebra tier). The result is exactly the
    * sketch a single pass over A ∪ B would build — merge is lossless
    * for bottom-k.
    */
  def mergeSketches(a: ArrayData, b: ArrayData): ArrayData = {
    validate(a, "kmv_merge"); validate(b, "kmv_merge")
    val na = a.numElements(); val nb = b.numElements()
    val out = new Array[Long](math.min(na + nb, K))
    var i = 0; var j = 0; var n = 0
    while (n < K && (i < na || j < nb)) {
      val take =
        if (i >= na) { val v = b.getLong(j); j += 1; v }
        else if (j >= nb) { val v = a.getLong(i); i += 1; v }
        else {
          val va = a.getLong(i); val vb = b.getLong(j)
          val c = java.lang.Long.compareUnsigned(va, vb)
          if (c == 0) { i += 1; j += 1; va }
          else if (c < 0) { i += 1; va }
          else { j += 1; vb }
        }
      out(n) = take; n += 1
    }
    new GenericArrayData(
      if (n < out.length) java.util.Arrays.copyOf(out, n) else out)
  }

  /** |A ∪ B| estimate = estimate of the merged sketch (exact when the
    * union fits in k).
    */
  def unionEstimate(a: ArrayData, b: ArrayData): Long =
    estimate(mergeSketches(a, b))

  /** |A ∖ B| estimate = |A| − |A ∩ B|, floored at 0 (the two estimates
    * are independent samples, so tiny negatives are possible when the
    * true difference is near 0). Exact when both sketches are un-full.
    */
  def diffEstimate(a: ArrayData, b: ArrayData): Long =
    math.max(0L, estimate(a) - commonEstimate(a, b))
}

case class KmvSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvSketch.Buffer]
  with UnaryLike[Expression] with ExpectsInputTypes {

  import KmvSketch._

  override def inputTypes: Seq[org.apache.spark.sql.graft.TypeBridge.AbstractType] =
    Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): Buffer = newBuffer()

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null)
      add(buf, HllSketch.hash64(v.asInstanceOf[UTF8String].toString))
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = {
    val it = b2.iterator()
    while (it.hasNext) add(b1, it.next())
    b1
  }

  override def eval(buf: Buffer): Any =
    new GenericArrayData(KmvSketch.toArray(buf))

  override def serialize(buf: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 8)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val buf = newBuffer()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf.add(bb.getLong)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

object KmvSketchFunctions {
  private val Sketch = ArrayType(LongType, containsNull = false)
  private def binary(name: String, method: String, out: DataType,
      usage: String) =
    Kernel(name, KmvSketch.getClass, method, Seq(Sketch, Sketch), out,
      usage = Some(usage))

  /** `kmv_estimate(sketch)` — distinct-count estimate (exact when the
    * sketch holds the whole set).
    */
  private val Estimate = Kernel("kmv_estimate", KmvSketch.getClass,
    "estimate", Seq(Sketch), LongType, usage = Some(
      "kmv_estimate(sk) - distinct-count estimate (exact when un-full)"))
  /** `kmv_common(a, b)` — |A ∩ B| estimate from two sketches (exact when
    * both are un-full): the set-algebra surface the KMV tier exists for.
    */
  private val Common = binary("kmv_common", "commonEstimate", LongType,
    "kmv_common(a, b) - distinct-intersection estimate from two sketches")
  /** `kmv_union(a, b)` — |A ∪ B| estimate = estimate(merge(a, b)); exact
    * when the union fits in k. With kmv_common and kmv_diff this
    * completes the inclusion–exclusion surface: any boolean combination
    * of two corpora's distinct sets answers from two 8 KB sketches.
    */
  private val Union = binary("kmv_union", "unionEstimate", LongType,
    "kmv_union(a, b) - distinct-union estimate from two sketches")
  /** `kmv_diff(a, b)` — |A ∖ B| estimate = |A| − |A ∩ B|, floored at 0;
    * exact when both sketches are un-full. The cross-snapshot NOVELTY
    * primitive: what did snapshot B bring that A didn't have.
    */
  private val Diff = binary("kmv_diff", "diffEstimate", LongType,
    "kmv_diff(a, b) - distinct-difference |A \\ B| estimate from two sketches")
  /** `kmv_merge(a, b)` — the union SKETCH itself (sorted-merge + dedup +
    * trim to k): the reaggregation surface — identical to what one pass
    * over A ∪ B would build, so periodic sketches roll up losslessly.
    */
  private val Merge = binary("kmv_merge", "mergeSketches", Sketch,
    "kmv_merge(a, b) - union sketch (lossless bottom-k rollup)")

  val kernels: Seq[Kernel] = Seq(Estimate, Common, Union, Diff, Merge)

  /** Column API: the bottom-k (k = 1024) hash sketch of a string column. */
  def kmvSketch(word: Column): Column =
    ColumnBridge.column(
      KmvSketchAgg(ColumnBridge.expression(word)).toAggregateExpression())

  /** Column API: distinct-count estimate from a sketch. */
  def kmvEstimate(sketch: Column): Column = Estimate(sketch)()

  /** Column API: |A ∩ B| estimate from two sketches. */
  def kmvCommon(a: Column, b: Column): Column = Common(a, b)()

  /** Column API: |A ∪ B| estimate from two sketches. */
  def kmvUnion(a: Column, b: Column): Column = Union(a, b)()

  /** Column API: |A ∖ B| estimate from two sketches. */
  def kmvDiff(a: Column, b: Column): Column = Diff(a, b)()

  /** Column API: the union sketch of two sketches (lossless rollup). */
  def kmvMerge(a: Column, b: Column): Column = Merge(a, b)()
}
