package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Native Q-DIGEST quantile sketch (Shrivastava, Buragohain, Agrawal &
  * Suri 2004) — the FOURTH native sketch tier, answering the question
  * the other three can't: the DISTRIBUTION of a value. CMS answers
  * frequency, HLL cardinality, KMV set algebra; none can say "what is
  * this corpus's p99 document length" without a per-slice sort. A
  * q-digest summarizes a multiset over the bounded integer universe
  * [0, 2^16) as counts on at most 3k dyadic-range tree nodes
  * (k = 1024 → ≤ 24 KB), supports point-buildable updates, FULL
  * mergeability with the rank-error guarantee preserved under ANY
  * merge tree (Agarwal, Cormode, Huang, Phillips, Wei & Yi, "Mergeable
  * Summaries", PODS 2012 — the property HLL's register max and KMV's
  * bottom-k share, here for quantiles), and answers any quantile with
  * rank error ≤ log₂(U)·n/k = n/64.
  *
  * Unlike the other three tiers the sketch CONTENTS are not
  * partitioning-invariant (compression folds depend on merge order),
  * so the verification discipline leans entirely on the error band:
  * verified queries emit EXACT quantile twins (the oracle recomputes
  * them by histogram rank selection — the median_price discipline)
  * plus in-engine booleans asserting the estimate's true rank lands
  * within the guaranteed band — deterministically TRUE for any merge
  * order because the bound is worst-case, not probabilistic. While
  * total mass n < k the compression threshold ⌊n/k⌋ is 0, the digest
  * is the exact value histogram, and every estimate is exact (at
  * n == k the threshold reaches 1 and lone count-1 leaves may fold
  * upward — the strict inequality matters; OpUnitSpec pins the exact
  * regime).
  *
  * Tree numbering: heap ids over [0, U); root 1 covers [0, U), node v
  * at depth d covers width U>>d starting at (v − 2^d)·(U>>d); leaves
  * are ids U + value. Serialized form: longs [id₁, c₁, id₂, c₂, …],
  * ids strictly ascending.
  */
object QdigestSketch {
  val Bits = 16
  val U: Int = 1 << Bits // value universe [0, U)
  val K = 1024 // compression factor: size ≤ 3K nodes, rank error ≤ Bits·n/K

  type Buffer = scala.collection.mutable.LongMap[Long]

  def newBuffer(): Buffer = scala.collection.mutable.LongMap.empty[Long]

  /** Clamp a value into the universe (negative → 0, ≥ U → U−1): the
    * sketch answers "where in [0, U) does the mass sit", and clamped
    * tails land on the boundary cells — the standard bounded-universe
    * contract, documented at the answering surface.
    */
  def clamp(x: Long): Int =
    if (x < 0L) 0 else if (x >= U.toLong) U - 1 else x.toInt

  def add(buf: Buffer, x: Long): Unit = addWeighted(buf, x, 1L)

  /** Weighted insert: the value carries `w` units of mass (a doc's
    * token count, a file's bytes) — quantiles then answer "below what
    * value does q of the MASS sit", the truncation-budget form. A
    * non-positive weight contributes nothing. Counts are plain sums,
    * so every invariant (merge, compression, mass conservation, the
    * rank band — now in mass units) carries over unchanged.
    */
  def addWeighted(buf: Buffer, x: Long, w: Long): Unit = {
    if (w <= 0L) return
    val leaf = (U + clamp(x)).toLong
    buf.update(leaf, buf.getOrElse(leaf, 0L) + w)
    // amortized compression keeps the in-flight buffer bounded even on
    // a partition whose distinct-value count approaches U
    if (buf.size > 6 * K) compress(buf)
  }

  /** Deterministic bottom-up compression: fold a sibling pair into its
    * parent whenever the triple's mass is ≤ ⌊n/K⌋ (the q-digest
    * invariant). Parent ids are visited in ascending numeric order per
    * level, deepest level first — a fixed traversal, so compression is
    * a pure function of the (multiset) buffer contents.
    */
  def compress(buf: Buffer): Unit = {
    var n = 0L
    buf.foreachValue(n += _)
    val t = n / K
    if (t <= 0L) return
    var d = Bits
    while (d >= 1) {
      val lo = 1L << d
      val hi = lo << 1
      val parents = buf.keys.filter(id => id >= lo && id < hi)
        .map(_ >> 1).toArray.distinct.sorted
      var i = 0
      while (i < parents.length) {
        val p = parents(i)
        val v = p << 1
        val s = v + 1
        val cv = buf.getOrElse(v, 0L)
        val cs = buf.getOrElse(s, 0L)
        val cp = buf.getOrElse(p, 0L)
        val tot = cv + cs + cp
        if (tot <= t) {
          buf.subtractOne(v); buf.subtractOne(s)
          if (tot > 0L) buf.update(p, tot) else buf.subtractOne(p)
        }
        i += 1
      }
      d -= 1
    }
  }

  /** Node-wise count sum of `b` into `a`, then one compression against
    * the combined mass.
    */
  def merge(a: Buffer, b: Buffer): Unit = {
    b.foreach { case (id, c) => a.update(id, a.getOrElse(id, 0L) + c) }
    compress(a)
  }

  /** Adds the `[id, count, …]` pairs of a serialized digest to `buf`. */
  def addPairs(buf: Buffer, arr: ArrayData): Buffer = {
    var i = 0
    while (i < arr.numElements()) {
      val id = arr.getLong(i)
      buf.update(id, buf.getOrElse(id, 0L) + arr.getLong(i + 1))
      i += 2
    }
    buf
  }

  def toArray(buf: Buffer): Array[Long] = {
    compress(buf)
    val ids = buf.keys.toArray.sorted
    val out = new Array[Long](ids.length * 2)
    var i = 0
    while (i < ids.length) {
      out(2 * i) = ids(i)
      out(2 * i + 1) = buf(ids(i))
      i += 1
    }
    out
  }

  /** Reject arrays that are not serialized q-digests: even length,
    * strictly ascending ids inside (0, 2U), positive counts.
    */
  def validate(arr: ArrayData, fn: String): Unit = {
    val m = arr.numElements()
    if (m % 2 != 0) throw new IllegalArgumentException(
      s"$fn: expected [id, count, …] pairs, got $m elements")
    var prev = 0L
    var i = 0
    while (i < m) {
      val id = arr.getLong(i)
      val c = arr.getLong(i + 1)
      if (id <= prev || id >= 2L * U || c <= 0L)
        throw new IllegalArgumentException(
          s"$fn: not a qdigest_sketch result (id=$id count=$c at $i)")
      prev = id
      i += 2
    }
  }

  def total(arr: ArrayData): Long = {
    validate(arr, "qdigest_n")
    var n = 0L
    var i = 1
    while (i < arr.numElements()) { n += arr.getLong(i); i += 2 }
    n
  }

  private def depth(id: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(id)

  /** Quantile estimate: walk the nodes in increasing upper-bound order
    * (narrower range first on ties) accumulating mass; report the
    * upper bound of the node where the cumulative count reaches the
    * target rank ⌈q·n⌉ (q in basis points). Guaranteed rank error
    * ≤ Bits·n/K — use [[rankSlack]] as the band.
    *
    * Per-call cost note (ADVICE r13): each call allocates the id/count
    * arrays and a boxed tuple-keyed sortBy over up to ~3·K nodes —
    * fine for the verified surfaces (a handful of answer rows per
    * query), but NOT a per-row hot-path primitive. If a future query
    * ever projects quantile() over a large frame, precompute the
    * (right-endpoint, depth) order once per sketch with a primitive
    * index sort and reuse buffers.
    */
  def quantile(arr: ArrayData, qBp: Int): Long = {
    validate(arr, "qdigest_quantile")
    if (qBp < 0 || qBp > 10000) throw new IllegalArgumentException(
      s"qdigest_quantile: q must be in [0, 10000] basis points, got $qBp")
    val m = arr.numElements() / 2
    if (m == 0) return 0L
    var n = 0L
    val ids = new Array[Long](m)
    val cnt = new Array[Long](m)
    var i = 0
    while (i < m) {
      ids(i) = arr.getLong(2 * i)
      cnt(i) = arr.getLong(2 * i + 1)
      n += cnt(i)
      i += 1
    }
    val target = math.max(1L, (qBp.toLong * n + 9999L) / 10000L)
    // sort by (right endpoint asc, depth desc = narrower first)
    val order = (0 until m).sortBy { j =>
      val d = depth(ids(j))
      val width = (U >> d).toLong
      val left = (ids(j) - (1L << d)) * width
      (left + width - 1L, -d)
    }
    var cum = 0L
    var last = 0L
    for (j <- order) {
      val d = depth(ids(j))
      val width = (U >> d).toLong
      val left = (ids(j) - (1L << d)) * width
      last = left + width - 1L
      cum += cnt(j)
      if (cum >= target) return last
    }
    last
  }

  /** The guaranteed worst-case rank slack for a digest of n values:
    * Bits·n/K (+1 for integer-floor headroom). A correct digest's
    * quantile estimate has |rank(est) − target| within this under ANY
    * merge order — the deterministic band verified queries assert.
    */
  def rankSlack(n: Long): Long = Bits.toLong * n / K + 1L

  /** Merged digest: counts sum node-wise, then one compression against
    * the combined mass — the "Mergeable Summaries" operation that
    * keeps the ε·n rank guarantee under arbitrary merge trees.
    */
  def mergeSketches(a: ArrayData, b: ArrayData): ArrayData = {
    validate(a, "qdigest_merge"); validate(b, "qdigest_merge")
    new GenericArrayData(toArray(addPairs(addPairs(newBuffer(), a), b)))
  }
}

object QdigestSketchFunctions {
  private def digest(name: String, inputs: Int, usage: String,
      add: (QdigestSketch.Buffer, Seq[Any]) => Unit) =
    Sketch[QdigestSketch.Buffer](name, Seq.fill(inputs)(LongType), LongType,
      usage, zero = () => QdigestSketch.newBuffer(), add = add,
      merge = QdigestSketch.merge,
      encode = buf => UnsafeArrayData.fromPrimitiveArray(QdigestSketch.toArray(buf)),
      decode = QdigestSketch.addPairs(QdigestSketch.newBuffer(), _))

  /** `qdigest_sketch(v)` — the q-digest of a long column (values clamp
    * into [0, 2^16)).
    */
  val sketch: Sketch[QdigestSketch.Buffer] = digest("qdigest_sketch", 1,
    "qdigest_sketch(v) - q-digest quantile sketch over [0, 2^16) (aggregate)",
    (buf, v) => QdigestSketch.add(buf, v.head.asInstanceOf[Long]))

  /** `qdigest_sketch_w(v, w)` — the MASS-weighted digest build: each
    * value contributes its weight (token count, bytes) instead of 1, so
    * `qdigest_quantile` answers mass-percentiles ("below what doc length
    * sits half the corpus's token mass" — the truncation-budget form).
    * It shares [[sketch]]'s buffer, merge and serialized layout, so the
    * two producers never diverge on the format `qdigest_merge` interops
    * across; the rank band reads in mass units (slack = 16·W/1024).
    */
  val weighted: Sketch[QdigestSketch.Buffer] = digest("qdigest_sketch_w", 2,
    "qdigest_sketch_w(v, w) - mass-weighted q-digest (aggregate)",
    (buf, v) => QdigestSketch.addWeighted(buf, v(0).asInstanceOf[Long],
      v(1).asInstanceOf[Long]))

  private val Digest = ArrayType(LongType, containsNull = false)

  /** `qdigest_quantile(sketch, q_bp)` — the answering surface: the value
    * estimate whose rank is within [[QdigestSketch.rankSlack]] of
    * ⌈q·n⌉.
    */
  private val Quantile = Kernel("qdigest_quantile", QdigestSketch.getClass,
    "quantile", Seq(Digest, IntegerType), LongType, usage = Some(
      "qdigest_quantile(sk, q_bp) - quantile-value estimate (rank error <= 16n/1024)"))
  /** `qdigest_n(sketch)` — the total mass the digest summarizes (exact:
    * counts are conserved by construction through every fold/merge).
    */
  private val N = Kernel("qdigest_n", QdigestSketch.getClass, "total",
    Seq(Digest), LongType,
    usage = Some("qdigest_n(sk) - exact total mass of a digest"))
  /** `qdigest_merge(a, b)` — node-wise count sum + one compression: the
    * lossless-mass rollup (daily digests → monthly percentiles without
    * raw data; rank guarantee preserved per Mergeable Summaries).
    */
  private val Merge = Kernel("qdigest_merge", QdigestSketch.getClass,
    "mergeSketches", Seq(Digest, Digest), Digest, usage = Some(
      "qdigest_merge(a, b) - merged digest (rank guarantee preserved)"))

  val kernels: Seq[Kernel] = Seq(Quantile, N, Merge)

  /** Column API: the q-digest of a long column (values clamp into
    * [0, 2^16)).
    */
  def qdigestSketch(v: Column): Column = sketch(v)

  /** Column API: the mass-weighted digest (v carries w units). */
  def qdigestSketchWeighted(v: Column, w: Column): Column = weighted(v, w)

  /** Column API: quantile-value estimate at q basis points. */
  def qdigestQuantile(sketch: Column, qBp: Column): Column =
    Quantile(sketch, qBp)()

  /** Column API: exact total mass of a digest. */
  def qdigestN(sketch: Column): Column = N(sketch)()

  /** Column API: merged digest of two digests. */
  def qdigestMerge(a: Column, b: Column): Column = Merge(a, b)()
}
