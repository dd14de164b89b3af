package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, LongType, StringType}

/** Native HyperLogLog AGGREGATE (Flajolet et al. 2007; the m = 2^p
  * register layout and bias regime of Heule et al. 2013 §3 without the
  * empirical bias table) — the OTHER half of the engine's native
  * sketch tier: `cms_sketch` is the mergeable FREQUENCY shape,
  * this is the mergeable CARDINALITY shape. Each task folds its
  * partition into a constant m = 2^12 = 4096 BYTE register file,
  * partials merge by elementwise MAX up the aggregation tree (the
  * map-side-combine property again: 4 KB shuffled per partition
  * regardless of cardinality — vs exact countDistinct expanding every
  * (group, value) pair through the shuffle, THE reason this is the
  * 100 TB cardinality plan; [[graft.etl.Router.distinctSketch]]
  * demonstrates the same shape through Spark's built-in HLL++, this
  * one is graft-owned so its registers are engine-portable).
  *
  * Hashing is the engine-portable md5 analog (first 16 lowercase-hex
  * chars of the value = the top 64 bits of the digest, exactly
  * `conv(substring(md5(w), 1, 16), 16, 10)` in Spark SQL): p = 12
  * index bits from the TOP of the hash, rho = leading-zero run of the
  * remaining 52 bits + 1. Register content is therefore deterministic
  * across engines, partitionings, and merge orders.
  *
  * Verification discipline (Oracles.scala error-band note): the
  * ESTIMATE divides through an irrational harmonic mean, so it is
  * never an output column of a verified query — queries emit the
  * exact count plus an in-engine integer band flag, and the raw
  * register file is pinned by unit tests instead
  * ([[graft.etl.Router.distinctSketch]]'s exact discipline).
  */
object HllSketch {
  val P = 12
  val M: Int = 1 << P // 4096 registers

  /** Top 64 bits of md5(w) — the value of
    * `conv(substring(md5(w), 1, 16), 16, 10)` reinterpreted as a
    * signed long (conv yields the unsigned decimal; the BITS are
    * identical, which is all the sketch reads).
    */
  def hash64(w: String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(w.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** (register index, rho) of one value: index = top p bits, rho =
    * 1 + leading-zero run of the remaining 64−p bits (capped at
    * 64−p+1 when they are all zero).
    */
  def indexAndRho(w: String): (Int, Byte) = {
    val h = hash64(w)
    val idx = (h >>> (64 - P)).toInt
    val rest = h << P
    val rho =
      if (rest == 0L) (64 - P + 1).toByte
      else (java.lang.Long.numberOfLeadingZeros(rest) + 1).toByte
    (idx, rho)
  }

  /** Raises `w`'s register to its rho when that is higher. */
  def add(regs: Array[Byte], w: String): Unit = {
    val (idx, rho) = indexAndRho(w)
    if (rho > regs(idx)) regs(idx) = rho
  }

  /** Elementwise max of `b` into `a`. */
  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < a.length) {
      if (b(i) > a(i)) a(i) = b(i)
      i += 1
    }
  }

  /** Raw-estimate machinery, used by `hll_estimate` and the specs:
    * alpha_m · m² / Σ 2^(−reg)  with the small-range linear-counting
    * correction (Flajolet §4: E < 5m/2 and some register empty →
    * m·ln(m/V)). Bit-exact determinism is NOT claimed for the
    * estimate (doubles); verified queries only surface band flags.
    */
  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.scalb(1.0, -regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else e
    math.rint(corrected).toLong
  }

  /** [[estimate]] over the catalyst array value — the `hll_estimate`
    * kernel's static method.
    */
  def estimateData(a: org.apache.spark.sql.catalyst.util.ArrayData): Long =
    estimate(a.toByteArray())
}

object HllSketchFunctions {
  /** `hll_sketch(v)` — the register file of a string column, merged by
    * elementwise max.
    */
  val sketch: Sketch[Array[Byte]] = Sketch[Array[Byte]]("hll_sketch",
    Seq(StringType), ByteType,
    "hll_sketch(v) - p=12 HyperLogLog register file (aggregate, 4096 bytes)",
    zero = () => new Array[Byte](HllSketch.M),
    add = (regs, v) => HllSketch.add(regs, v.head.toString),
    merge = HllSketch.merge,
    encode = UnsafeArrayData.fromPrimitiveArray(_),
    decode = _.toByteArray())

  /** `hll_estimate(registers)` — the sketch's answering surface
    * (cms_lookup's rationale for the cardinality tier): harmonic-mean
    * estimate with the small-range linear-counting correction, as a
    * scalar over the register file so merged/persisted sketches stay
    * queryable in SQL. Estimate semantics per [[HllSketch.estimate]] —
    * NOT an exact-oracle value; verified queries band it in-engine.
    */
  private val Estimate = Kernel("hll_estimate", HllSketch.getClass,
    "estimateData", Seq(ArrayType(ByteType, containsNull = false)), LongType,
    usage = Some("hll_estimate(regs) - cardinality estimate from hll_sketch registers"))

  val kernels: Seq[Kernel] = Seq(Estimate)

  /** Column API: the 4096-byte HLL register file of a string column. */
  def hllSketch(word: Column): Column = sketch(word)

  /** Column API: cardinality estimate from a register file. */
  def hllEstimate(regs: Column): Column = Estimate(regs)()
}
