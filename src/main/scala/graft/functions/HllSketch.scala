package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native HyperLogLog AGGREGATE (Flajolet et al. 2007; the m = 2^p
  * register layout and bias regime of Heule et al. 2013 §3 without the
  * empirical bias table) — the OTHER half of the engine's native
  * sketch tier: [[CmsSketchAgg]] is the mergeable FREQUENCY shape,
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

case class HllSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  import HllSketch._

  override def inputTypes: Seq[org.apache.spark.sql.graft.TypeBridge.AbstractType] =
    Seq(StringType)
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hll_sketch"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val (idx, rho) = indexAndRho(v.asInstanceOf[UTF8String].toString)
      if (rho > buf(idx)) buf(idx) = rho
    }
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b1.length) {
      if (b2(i) > b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Byte]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

object HllSketchFunctions {
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
  def hllSketch(word: Column): Column =
    ColumnBridge.column(
      HllSketchAgg(ColumnBridge.expression(word)).toAggregateExpression())

  /** Column API: cardinality estimate from a register file. */
  def hllEstimate(regs: Column): Column = Estimate(regs)()
}
