package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Compiled single-pass kernels for the shingle/fingerprint hot path
  * (round 18 optimization; the GramClip discipline: never an
  * interpreted HOF in a hot path).
  *
  * What they replace, and why it was slow:
  *
  *  - `Shingles.shingleArray(c, k)` was k−1 chained `zip_with`s, each
  *    re-deriving `wordArray(c)` (split + filter) from scratch —
  *    HigherOrderFunctions evaluate INTERPRETED (CodegenFallback) and
  *    share no subexpressions, so one k=8 shingling paid ~2(k−1)
  *    splits plus k−1 interpreted zip passes per row.
  *  - `minhashSignatureWith` ran `numHashes` separate interpreted
  *    `array_min(transform(...))` passes over the shingle array — 8
  *    (or 256 on the fast tier) expression-tree walks per element,
  *    each allocating an intermediate hash array.
  *  - `simhashFrom`/`simhashWideFrom` ran one interpreted `transform`
  *    (md5 per word) plus 16/60 interpreted `aggregate` folds, each a
  *    full pass over the word-hash array.
  *
  * Each kernel below is ONE compiled loop per row, called as a static
  * method from generated code (whole-stage codegen stays intact).
  * Semantics are bit-identical to the declarative forms they replace —
  * same split/filter tokenization, same md5/xxhash64 values, same
  * string/long min ordering — so every DuckDB oracle is unchanged.
  */
object ShingleOps {

  private val HexChars = "0123456789abcdef".toCharArray

  private val EmptyArray = new GenericArrayData(new Array[Any](0))

  /** Non-empty words of `text` (split on the single space byte — 0x20
    * never occurs inside a multi-byte UTF-8 sequence, so byte scanning
    * matches `split(text, " ")` + drop-blanks exactly). Word values are
    * zero-copy slices of one backing byte array.
    */
  private def splitWords(text: UTF8String): Array[UTF8String] = {
    val b = text.getBytes
    val n = b.length
    // count words first: right-sized array, no growable buffer
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

  /** k-word shingle array of `text`: space-joined runs of k consecutive
    * non-empty words; empty array when the doc has <k words. k=1 is the
    * word array itself.
    */
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val w = splitWords(text)
    if (w.length < k) return EmptyArray
    val n = w.length - k + 1
    val out = new Array[Any](n)
    if (k == 1) {
      var i = 0
      while (i < n) { out(i) = w(i); i += 1 }
    } else {
      // rolling byte length of the k-word window: O(words), not O(k·words)
      var winBytes = k - 1 // separators
      var j = 0
      while (j < k) { winBytes += w(j).numBytes(); j += 1 }
      var i = 0
      while (i < n) {
        val buf = new Array[Byte](winBytes)
        var pos = 0
        j = 0
        while (j < k) {
          if (j > 0) { buf(pos) = 0x20; pos += 1 }
          val wb = w(i + j)
          wb.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += wb.numBytes()
          j += 1
        }
        out(i) = UTF8String.fromBytes(buf)
        if (i + k < w.length)
          winBytes += w(i + k).numBytes() - w(i).numBytes()
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  // "seed0:".."seed{n-1}:" prefix bytes, grown on demand and cached —
  // the fast tier uses n=256, and per-row allocation of 256 tiny
  // arrays would dominate the loop
  @volatile private var seedPrefixCache: Array[Array[Byte]] = Array.empty
  private def seedPrefixes(n: Int): Array[Array[Byte]] = {
    var p = seedPrefixCache
    if (p.length < n) {
      p = Array.tabulate(n)(i =>
        s"seed$i:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      seedPrefixCache = p
    }
    p
  }

  private def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Per-seed minimum of md5("seed<i>:" ++ shingle) over the shingle
    * array, as lowercase hex — element i is bit-identical to
    * `array_min(transform(sh, s => md5(concat(lit("seed<i>:"), s))))`:
    * lowercase hex is monotone in the digest bytes, so the byte-wise
    * unsigned min IS the string min. Null for an empty array (the
    * callers' size filter excludes those rows).
    */
  def minhashMd5(shs: ArrayData, n: Int): ArrayData = {
    val m = shs.numElements()
    if (m == 0) return null
    val pre = seedPrefixes(n)
    val md = Md5.get()
    val mins = new Array[Array[Byte]](n)
    var spare = new Array[Byte](16)
    var s = 0
    while (s < m) {
      val ub = shs.getUTF8String(s).getBytes
      var i = 0
      while (i < n) {
        md.reset()
        md.update(pre(i))
        md.update(ub)
        md.digest(spare, 0, 16)
        if (mins(i) == null) { mins(i) = spare; spare = new Array[Byte](16) }
        else if (lessUnsigned(spare, mins(i))) {
          val t = mins(i); mins(i) = spare; spare = t
        }
        i += 1
      }
      s += 1
    }
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val d = mins(i)
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = HexChars((d(j) >> 4) & 0xf)
        hex(2 * j + 1) = HexChars(d(j) & 0xf)
        j += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }

  // xxhash64("seed<i>:") under Spark's initial seed 42 — the running
  // seed the second child sees in xxhash64(lit("seed<i>:"), s)
  @volatile private var xxBaseCache: Array[Long] = Array.empty
  private def xxBases(n: Int): Array[Long] = {
    var b = xxBaseCache
    if (b.length < n) {
      b = Array.tabulate(n) { i =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          UTF8String.fromString(s"seed$i:"), 42L)
      }
      xxBaseCache = b
    }
    b
  }

  /** Per-seed minimum of xxhash64(lit("seed<i>:"), shingle) — the fast
    * tier's signature slots (signed long min, matching `array_min` over
    * LongType). Null for an empty array.
    */
  def minhashXx(shs: ArrayData, n: Int): ArrayData = {
    val m = shs.numElements()
    if (m == 0) return null
    val bases = xxBases(n)
    val mins = new Array[Long](n)
    var s = 0
    while (s < m) {
      val u = shs.getUTF8String(s)
      var i = 0
      while (i < n) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(u, bases(i))
        if (s == 0 || h < mins(i)) mins(i) = h
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins)
  }

  /** Number of non-empty words of `text` — `size(wordArray(text))`
    * without materializing the word array (one counting byte scan).
    */
  def wordCount(text: UTF8String): Long = {
    val b = text.getBytes
    val n = b.length
    var count = 0L
    var inWord = false
    var i = 0
    while (i < n) {
      if (b(i) == 0x20) inWord = false
      else if (!inWord) { count += 1; inWord = true }
      i += 1
    }
    count
  }

  private val EmptyUtf8 = UTF8String.fromString("")

  /** Span-clip of `text` at gram width k, given the start positions
    * (indices over the FILTERED word sequence — the same index space
    * `Shingles.wordShingles`' shingle_pos lives in) of the duplicated
    * k-grams: every word covered by any gram window [s, s+k-1] is
    * removed, and the survivors are re-joined with single spaces in
    * original order. Returns (n_words, n_removed, clean_text) — one
    * in-row pass replacing the coverage explode → distinct →
    * (doc,pos) anti join → collect_list/array_sort reassembly, with
    * identical values: marking a boolean coverage array then keeping
    * uncovered words IS the anti join + ordered string_agg, and
    * single-space joining matches array_join(words, " ") because
    * split-filtered words are never empty.
    */
  def clipSpans(text: UTF8String, starts: ArrayData, k: Int): InternalRow = {
    val w = splitWords(text)
    val n = w.length
    if (n == 0) return new GenericInternalRow(Array[Any](0L, 0L, EmptyUtf8))
    val covered = new Array[Boolean](n)
    val m = starts.numElements()
    var i = 0
    while (i < m) {
      var p = starts.getInt(i)
      if (p < 0) p = 0
      val end = math.min(p.toLong + k, n.toLong).toInt
      while (p < end) { covered(p) = true; p += 1 }
      i += 1
    }
    var kept = 0
    var bytes = 0
    i = 0
    while (i < n) {
      if (!covered(i)) { kept += 1; bytes += w(i).numBytes() }
      i += 1
    }
    if (kept == 0)
      return new GenericInternalRow(Array[Any](n.toLong, n.toLong, EmptyUtf8))
    val buf = new Array[Byte](bytes + kept - 1)
    var pos = 0
    var first = true
    i = 0
    while (i < n) {
      if (!covered(i)) {
        if (!first) { buf(pos) = 0x20; pos += 1 }
        w(i).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += w(i).numBytes()
        first = false
      }
      i += 1
    }
    new GenericInternalRow(
      Array[Any](n.toLong, (n - kept).toLong, UTF8String.fromBytes(buf)))
  }

  /** SimHash signature over the word array: per word, the first
    * `hexChars` hex chars of md5(word) as a value (= conv(substring(
    * md5(w),1,hexChars),16,10)); bit b of the signature is the sign of
    * Σ ±1 over words by bit parity. Bit-identical to the interpreted
    * transform + per-bit aggregate chain it replaces (integer addition
    * is order-insensitive). hexChars=4 → 16-bit tier, 15 → 60-bit.
    */
  def simhashSig(ws: ArrayData, hexChars: Int): Long = {
    val bits = hexChars * 4
    val cnt = new Array[Int](bits)
    val md = Md5.get()
    val buf = new Array[Byte](16)
    val m = ws.numElements()
    var s = 0
    while (s < m) {
      val ub = ws.getUTF8String(s).getBytes
      md.reset()
      md.update(ub)
      md.digest(buf, 0, 16)
      var h = 0L
      var nb = 0
      while (nb < hexChars) {
        val by = buf(nb >> 1)
        val nyb = if ((nb & 1) == 0) (by >> 4) & 0xf else by & 0xf
        h = (h << 4) | nyb
        nb += 1
      }
      var b = 0
      while (b < bits) {
        cnt(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      s += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (cnt(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }
}

object ShingleFunctions {
  private val Shingles = Kernel("word_shingle_array", ShingleOps.getClass,
    "shingles", Seq(StringType), ArrayType(StringType, containsNull = false))
  private val MinHash = Kernel("minhash_sigs", ShingleOps.getClass,
    "minhashMd5", Seq(ArrayType(StringType)),
    ArrayType(StringType, containsNull = false), mayReturnNull = true)
  private val MinHashFast = Kernel("minhash_sigs_fast", ShingleOps.getClass,
    "minhashXx", Seq(ArrayType(StringType)),
    ArrayType(LongType, containsNull = false), mayReturnNull = true)
  private val SimHash = Kernel("simhash_sig", ShingleOps.getClass,
    "simhashSig", Seq(ArrayType(StringType)), LongType)
  private val WordCount = Kernel("word_count", ShingleOps.getClass,
    "wordCount", Seq(StringType), LongType)
  private val SpanClip = Kernel("span_clip_struct", ShingleOps.getClass,
    "clipSpans", Seq(StringType, ArrayType(IntegerType)), StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false),
      StructField("clean_text", StringType, nullable = false))))

  val kernels: Seq[Kernel] =
    Seq(Shingles, MinHash, MinHashFast, SimHash, WordCount, SpanClip)

  /** Column API: k-word shingle array (k=1 → non-empty word array) —
    * one compiled pass replacing the chained-zip_with construction.
    * Output element order/values identical to `Shingles.shingleArray`.
    */
  def shinglesF(text: Column, k: Int): Column = {
    require(k >= 1 && k <= 24)
    Shingles(text)(k)
  }

  /** Column API: n md5 minhash slots over a shingle-array column (oracle
    * tier). Null on an empty array — callers filter those rows out,
    * exactly as the array_min form yielded null slots there.
    */
  def minhashF(sh: Column, n: Int): Column = MinHash(sh)(n)

  /** Column API: n xxhash64 minhash slots (fast tier). Null on empty. */
  def minhashFastF(sh: Column, n: Int): Column = MinHashFast(sh)(n)

  /** Column API: simhash signature over a word-array column at
    * `hexChars` md5 hex chars per word (4 → 16-bit tier, 15 → 60-bit
    * Manku tier).
    */
  def simhashF(words: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15)
    SimHash(words)(hexChars)
  }

  /** Column API: non-empty word count of a text column —
    * `size(wordArray(c))` as one counting scan, no array allocation.
    */
  def wordCountF(text: Column): Column = WordCount(text)()

  /** Column API: (n_words, n_removed, clean_text) span clip of a text
    * column given the duplicated-gram start positions (filtered-word
    * index space) — the in-row removal+reassembly kernel of
    * `Dedup.spanClipFrom`.
    */
  def spanClipF(text: Column, starts: Column, k: Int): Column = {
    require(k >= 1 && k <= 24)
    SpanClip(text, starts)(k)
  }
}
