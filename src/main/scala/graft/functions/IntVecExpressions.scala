package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Compiled integer-vector kernels for the PQ/ANN family (round 18
  * optimization — the compiled-kernel discipline applied to the exact-
  * integer distance tier).
  *
  * What they replace: `transform(embedding, x -> cast(round(x*1000) as
  * bigint))` and `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L,
  * +)` — both HigherOrderFunctions, both CodegenFallback (interpreted
  * expression-tree walk + boxing per element). The quantization runs
  * once per corpus vector, but the squared-distance fold sits inside
  * codebook joins (corpus × M·K rows), where the interpreted walk
  * dominated knn_pq_trained's runtime.
  *
  * Bit-identical semantics: [[IntVecOps.quantizeMilli]] reproduces
  * `round(cast(x as double) * 1000)` exactly (same BigDecimal
  * HALF_UP rounding Spark's Round uses for doubles, same double
  * widening, same long cast); [[IntVecOps.sqDistLong]] is the same
  * left-to-right Σ(x−y)² over longs.
  */
object IntVecOps {

  /** array<float> → array<long> of round(x·1000) in Spark's Round
    * semantics (BigDecimal HALF_UP on the double product).
    */
  def quantizeMilli(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble * 1000.0
      out(i) = java.math.BigDecimal.valueOf(d)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ (a_i − b_i)² over the common prefix of two long arrays — the
    * exact integer sub-distance (arrays are equal-length at every call
    * site; min-length matches zip_with there).
    */
  def sqDistLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Sub-distance of quantized vector `x`'s m-th Sub-wide slice against
    * codeword k of the k-major flat codebook (K full seed vectors of
    * length M·Sub concatenated in k order) — the same Σ(x−c)² integer
    * math as the slice∘sqDistLong pair it replaces, including the
    * min-length clamp at ragged edges.
    */
  private def subDist(x: ArrayData, cbFlat: ArrayData, mi: Int, ki: Int,
      m: Int, sub: Int): Long = {
    val dim = m * sub
    val xoff = mi * sub
    val coff = ki * dim + mi * sub
    val n = math.min(math.min(sub, x.numElements() - xoff),
      cbFlat.numElements() - coff)
    var s = 0L
    var j = 0
    while (j < n) {
      val d = x.getLong(xoff + j) - cbFlat.getLong(coff + j)
      s += d * d
      j += 1
    }
    s
  }

  /** PQ encode of one quantized vector: per subquantizer m, the
    * codeword k minimizing the integer sub-distance, TIES TO LOW k
    * (strict less — identical to min(struct(du, k))), plus that best
    * distance. Returns (codes array<int>[M], du array<long>[M]) — one
    * in-row pass replacing the corpus × M·K codebook cross join + the
    * (vec_id, m)-keyed argmin exchange. `cbFlat` must hold k·m·sub
    * elements; Similarity.pqCodebook checks that once per codebook.
    */
  def pqEncode(x: ArrayData, cbFlat: ArrayData, m: Int, sub: Int,
      k: Int): InternalRow = {
    val codes = new Array[Int](m)
    val dus = new Array[Long](m)
    var mi = 0
    while (mi < m) {
      var bestK = 0
      var bestDu = Long.MaxValue
      var ki = 0
      while (ki < k) {
        val s = subDist(x, cbFlat, mi, ki, m, sub)
        if (s < bestDu) { bestDu = s; bestK = ki }
        ki += 1
      }
      codes(mi) = bestK
      dus(mi) = bestDu
      mi += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(codes), new GenericArrayData(dus)))
  }

  /** Per-query ADC lookup table: slot mi·K + ki = the integer
    * sub-distance of the query's mi-th slice to codeword ki (`cbFlat`
    * as in [[pqEncode]]).
    */
  def pqLut(x: ArrayData, cbFlat: ArrayData, m: Int, sub: Int,
      k: Int): ArrayData = {
    val out = new Array[Long](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        out(mi * k + ki) = subDist(x, cbFlat, mi, ki, m, sub)
        ki += 1
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** Σ_m lut[m·K + codes[m]] — the M-table-lookup ADC distance,
    * replacing the codes ⋈ LUT (m, code)-keyed join + (qid, vec_id)
    * re-aggregation.
    */
  def adcSum(codes: ArrayData, lut: ArrayData, k: Int): Long = {
    val m = codes.numElements()
    var s = 0L
    var mi = 0
    while (mi < m) {
      s += lut.getLong(mi * k + codes.getInt(mi))
      mi += 1
    }
    s
  }
}

object IntVecFunctions {
  private val Longs = ArrayType(LongType)

  /** round(x·1000) per element of an array<float>, as array<long>. */
  private val QuantizeMilli = Kernel("quantize_milli", IntVecOps.getClass,
    "quantizeMilli", Seq(ArrayType(FloatType)),
    ArrayType(LongType, containsNull = false))
  /** Exact integer squared L2 distance between two array<long> vectors. */
  private val SqDist = Kernel("sq_dist_long", IntVecOps.getClass,
    "sqDistLong", Seq(Longs, Longs), LongType)
  /** (codes, du) PQ encode of a quantized vector against a k-major flat
    * codebook column — the in-row argmin over all M subquantizers.
    */
  private val PqEncode = Kernel("pq_encode", IntVecOps.getClass, "pqEncode",
    Seq(Longs, Longs), StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false),
        nullable = false),
      StructField("du", ArrayType(LongType, containsNull = false),
        nullable = false))))
  /** M·K-slot integer ADC lookup table of a query vector. */
  private val PqLut = Kernel("pq_lut", IntVecOps.getClass, "pqLut",
    Seq(Longs, Longs), ArrayType(LongType, containsNull = false))
  /** Σ_m lut[m·K + codes[m]] — the ADC distance of one (codes, lut) pair. */
  private val AdcSum = Kernel("adc_sum", IntVecOps.getClass, "adcSum",
    Seq(ArrayType(IntegerType), Longs), LongType)

  val kernels: Seq[Kernel] = Seq(QuantizeMilli, SqDist, PqEncode, PqLut, AdcSum)

  /** Column API: round(x·1000) quantization of an array<float>. */
  def quantizeMilliF(a: Column): Column = QuantizeMilli(a)()

  /** Column API: exact integer Σ(a−b)² over array<long> columns. */
  def sqDistLongF(a: Column, b: Column): Column = SqDist(a, b)()

  /** Column API: (codes, du) PQ encode against a flat codebook. */
  def pqEncodeF(x: Column, cb: Column, m: Int, sub: Int, k: Int): Column =
    PqEncode(x, cb)(m, sub, k)

  /** Column API: M·K ADC lookup table of a query vector. */
  def pqLutF(x: Column, cb: Column, m: Int, sub: Int, k: Int): Column =
    PqLut(x, cb)(m, sub, k)

  /** Column API: ADC distance from (codes, lut). */
  def adcSumF(codes: Column, lut: Column, k: Int): Column =
    AdcSum(codes, lut)(k)
}
