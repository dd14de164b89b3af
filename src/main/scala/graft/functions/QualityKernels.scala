package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-document kernels for the quality-classifier TRAINING
  * path (round 18 optimization).
  *
  * [[QualityKernelOps.gopherPass]] is the gopher gate VERDICT as one
  * in-row pass — the one statement of the five rules, which
  * [[graft.etl.TextAnalysis.gopherPass]] (the streaming funnel's gate)
  * calls directly, producing values identical to the relational
  * `gopherRules` pipeline (word explode + two doc-keyed aggs + a
  * bigram rank window) that the trainer's label pass previously
  * executed per artifact build. Counts
  * use code points ([[UTF8String.numChars]]) exactly like Spark's
  * `length`.
  *
  * [[QualityKernelOps.hashedBagCounts]] is the hashed bag-of-words
  * feature map as one in-row pass: per word, bucket =
  * conv(substring(md5(lower(w)),1,8),16,10) % buckets — identical
  * values to the explode + md5 + groupBy(doc_id, b) count the trainer
  * previously shuffled, plus the constant bias slot (bucket `buckets`,
  * cnt 1) the old plan unioned in with a second corpus scan. Because a
  * document is one row, the per-doc counts complete IN-ROW: the
  * feature build becomes a pure map with ZERO shuffles.
  *
  * [[QualityKernelOps.charEntropySum]] and [[QualityKernelOps.charsetSize]]
  * are the character-entropy gate's arithmetic as one byte scan per row:
  * the 37 per-character counts the DuckDB oracle takes with
  * `length(t) - length(replace(t, c, ''))` and its left-fold entropy sum
  * ([[graft.etl.TextAnalysis.entropySumSql]]), bit for bit. Spelled
  * out as 37 replace pairs and 37 sum terms, whole-stage codegen puts
  * them in one method of 18-20 KB of bytecode, which HotSpot never
  * JIT-compiles.
  */
object QualityKernelOps {

  private def splitWords(text: UTF8String): Array[UTF8String] = {
    val b = text.getBytes
    val n = b.length
    var count = 0
    var inWord = false
    var i = 0
    while (i < n) {
      if (b(i) == 0x20) inWord = false
      else if (!inWord) { count += 1; inWord = true }
      i += 1
    }
    val out = new Array[UTF8String](count)
    var w = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == 0x20) {
        if (i > start) { out(w) = UTF8String.fromBytes(b, start, i - start); w += 1 }
        start = i + 1
      }
      i += 1
    }
    out
  }

  private val Stops: Array[UTF8String] =
    graft.etl.TextAnalysis.GopherStops.map(UTF8String.fromString).toArray

  /** The five gopher rule statistics of one document text, as
    * {n_words, sum_len, alpha_words, stop_hits, top2_chars} — the
    * integers the relational pipeline derived with a word explode, two
    * doc-keyed aggregations and a bigram rank window.
    */
  def gopherStats(text: UTF8String): Array[Long] = {
    val t = if (text == null) UTF8String.EMPTY_UTF8 else text
    val words = splitWords(t)
    val nWords = words.length.toLong
    var sumLen = 0L
    var alphaWords = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      sumLen += w.numChars()
      // rlike("[a-zA-Z]"): any ASCII letter byte anywhere in the word
      val wb = w.getBytes
      var j = 0
      var alpha = false
      while (j < wb.length && !alpha) {
        val c = wb(j)
        alpha = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        j += 1
      }
      if (alpha) alphaWords += 1
      i += 1
    }
    var stopHits = 0L
    i = 0
    while (i < Stops.length) {
      val s = Stops(i)
      var j = 0
      var found = false
      while (j < words.length && !found) { found = words(j).equals(s); j += 1 }
      if (found) stopHits += 1
      i += 1
    }
    // top bigram by (cnt desc, numChars desc); the chars metric is
    // cnt · numChars(bigram) — identical to the rank-window form
    var top2Chars = 0L
    if (words.length >= 2) {
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      i = 0
      while (i + 1 < words.length) {
        val bg = UTF8String.concat(words(i), UTF8String.fromString(" "), words(i + 1))
        val prev = m.get(bg)
        if (prev == null) m.put(bg, Array(1)) else prev(0) += 1
        i += 1
      }
      var bestCnt = 0L
      var bestLen = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0).toLong
        val l = e.getKey.numChars().toLong
        if (c > bestCnt || (c == bestCnt && l > bestLen)) { bestCnt = c; bestLen = l }
      }
      top2Chars = bestCnt * bestLen
    }
    Array(nWords, sumLen, alphaWords, stopHits, top2Chars)
  }

  /** The five-rule gopher verdict of one document text (null-safe:
    * callers pass the raw text column; null reads as "").
    */
  def gopherPass(text: UTF8String): Boolean = {
    val t = if (text == null) UTF8String.EMPTY_UTF8 else text
    val st = gopherStats(t)
    val nWords = st(0); val sumLen = st(1); val alphaWords = st(2)
    val stopHits = st(3); val top2Chars = st(4)
    val textLen = t.numChars().toLong
    (nWords >= 50 && nWords <= 100000) &&
      (nWords > 0 && sumLen >= nWords * 3 && sumLen <= nWords * 10) &&
      (nWords > 0 && alphaWords * 10 >= nWords * 8) &&
      stopHits >= 2 &&
      top2Chars * 5 <= textLen
  }

  /** [[gopherStats]] as an InternalRow for the struct expression. */
  def gopherStatsRow(text: UTF8String): InternalRow = {
    val st = gopherStats(text)
    InternalRow(st(0), st(1), st(2), st(3), st(4))
  }

  /** (b, cnt) hashed bag-of-words slots of one document, ascending b,
    * plus the trailing bias slot (b = buckets, cnt = 1). Bucket value
    * = first 8 md5 hex chars of lower(word) as an unsigned int, mod
    * `buckets` — identical to conv(substring(md5(lower(w)),1,8),16,10)
    * % buckets.
    */
  def hashedBagCounts(text: UTF8String, buckets: Int): ArrayData = {
    val t = if (text == null) UTF8String.EMPTY_UTF8 else text
    val words = splitWords(t)
    val cnt = new Array[Long](buckets)
    val md = Md5.get()
    val buf = new Array[Byte](16)
    var i = 0
    while (i < words.length) {
      val lb = words(i).toLowerCase.getBytes
      md.reset()
      md.update(lb)
      md.digest(buf, 0, 16)
      val v = ((buf(0) & 0xffL) << 24) | ((buf(1) & 0xffL) << 16) |
        ((buf(2) & 0xffL) << 8) | (buf(3) & 0xffL)
      cnt((v % buckets).toInt) += 1L
      i += 1
    }
    var nz = 1 // bias slot
    i = 0
    while (i < buckets) { if (cnt(i) > 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var o = 0
    i = 0
    while (i < buckets) {
      if (cnt(i) > 0L) { out(o) = InternalRow(i.toLong, cnt(i)); o += 1 }
      i += 1
    }
    out(o) = InternalRow(buckets.toLong, 1L)
    new GenericArrayData(out)
  }

  /** [[graft.etl.TextAnalysis.EntropyCharSet]] slot of each ASCII byte,
    * -1 for the others.
    */
  private val EntropySlot: Array[Int] = {
    val a = Array.fill(128)(-1)
    graft.etl.TextAnalysis.EntropyCharSet.zipWithIndex.foreach { case (c, i) => a(c) = i }
    a
  }

  /** Occurrences of each [[graft.etl.TextAnalysis.EntropyCharSet]]
    * character in `text`. A byte count is a code-point count here: in
    * UTF-8 an ASCII byte never occurs inside a multi-byte character, so
    * each count equals `length(t) - length(replace(t, c, ''))`.
    */
  private def charCounts(text: UTF8String): Array[Int] = {
    val cnt = new Array[Int](graft.etl.TextAnalysis.EntropyCharSet.size)
    val n = text.numBytes()
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (b >= 0 && EntropySlot(b) >= 0) cnt(EntropySlot(b)) += 1
      i += 1
    }
    cnt
  }

  /** The unrounded character entropy of `text` in nats: Σ over the
    * alphabet of -(c/len)·ln(c/len), len in code points, as the same
    * left fold from slot 0 that [[graft.etl.TextAnalysis.entropySumSql]]
    * spells out (a zero count adds 0.0), with Spark's `ln`
    * (`StrictMath.log`), so the double is identical. 0.0 for "".
    */
  def charEntropySum(text: UTF8String): Double = {
    val cnt = charCounts(text)
    val len = text.numChars().toDouble
    def term(c: Int): Double =
      if (c > 0) { val p = c.toDouble / len; -p * StrictMath.log(p) } else 0.0
    var s = term(cnt(0))
    var i = 1
    while (i < cnt.length) { s += term(cnt(i)); i += 1 }
    s
  }

  /** How many alphabet characters occur in `text`
    * ([[graft.etl.TextAnalysis.charsetSizeSql]]).
    */
  def charsetSize(text: UTF8String): Int = charCounts(text).count(_ > 0)

  /** Σ cnt · w[b] over (b, cnt) struct entries and a dense bucket-
    * indexed weight array.
    */
  def bagDot(bag: ArrayData, w: ArrayData): Long = {
    val n = bag.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val e = bag.getStruct(i, 2)
      s += e.getLong(1) * w.getLong(e.getLong(0).toInt)
      i += 1
    }
    s
  }
}

object QualityKernelFunctions {
  /** Boolean gopher-gate verdict of a text column, one compiled pass. */
  private val GopherPass = Kernel("gopher_pass_of", QualityKernelOps.getClass,
    "gopherPass", Seq(StringType), BooleanType)
  /** struct<n_words, sum_len, alpha_words, stop_hits, top2_chars> gopher
    * rule statistics of a text column, one compiled pass.
    */
  private val GopherStats = Kernel("gopher_stats_of", QualityKernelOps.getClass,
    "gopherStatsRow", Seq(StringType), StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("sum_len", LongType, nullable = false),
      StructField("alpha_words", LongType, nullable = false),
      StructField("stop_hits", LongType, nullable = false),
      StructField("top2_chars", LongType, nullable = false))))
  /** array<struct<b,cnt>> hashed bag-of-words (plus bias slot) of a text
    * column, one compiled pass.
    */
  private val HashedBag = Kernel("hashed_bag_counts", QualityKernelOps.getClass,
    "hashedBagCounts", Seq(StringType), ArrayType(
      StructType(Seq(StructField("b", LongType, nullable = false),
        StructField("cnt", LongType, nullable = false))),
      containsNull = false))
  /** Σ cnt · w[b] over a (b, cnt) bag-of-words array and a dense weight
    * array indexed by bucket — the linear-scorer dot product in-row.
    * Bit-identical to sum(w * cnt) over the exploded (doc_id, b) rows
    * joined against the 257-row weight frame (integer addition is
    * order-insensitive).
    */
  private val BagDot = Kernel("bag_dot", QualityKernelOps.getClass, "bagDot",
    Seq(ArrayType(StructType(Seq(
      StructField("b", LongType), StructField("cnt", LongType)))),
      ArrayType(LongType)), LongType)

  /** Unrounded character entropy (nats) of a text column, one scan. */
  private val CharEntropySum = Kernel("char_entropy_sum", QualityKernelOps.getClass,
    "charEntropySum", Seq(StringType), DoubleType)
  /** Alphabet characters present in a text column, one scan. */
  private val CharsetSize = Kernel("charset_size", QualityKernelOps.getClass,
    "charsetSize", Seq(StringType), IntegerType)

  val kernels: Seq[Kernel] = Seq(GopherPass, GopherStats, HashedBag, BagDot,
    CharEntropySum, CharsetSize)

  /** Column API: gopher-gate verdict of a text column (null-intolerant:
    * callers coalesce null text to "").
    */
  def gopherPassF(text: Column): Column = GopherPass(text)()

  /** Column API: the five gopher rule statistics as a struct (null-
    * intolerant: callers coalesce null text to "").
    */
  def gopherStatsF(text: Column): Column = GopherStats(text)()

  /** Column API: hashed bag-of-words (b, cnt) slots + bias slot. */
  def hashedBagCountsF(text: Column, buckets: Int): Column = {
    require(buckets >= 1)
    HashedBag(text)(buckets)
  }

  /** Column API: in-row bag ⋅ dense-weight dot product. */
  def bagDotF(bag: Column, w: Column): Column = BagDot(bag, w)()

  /** Column API: unrounded character entropy of a text column (null-
    * intolerant; 0.0 for ""). Callers round and apply the empty-text
    * null rule as Spark expressions.
    */
  def charEntropySumF(text: Column): Column = CharEntropySum(text)()

  /** Column API: alphabet characters present in a text column. */
  def charsetSizeF(text: Column): Column = CharsetSize(text)()
}
