package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Clipped character-n-gram match count for PAIRED text evals (the
  * chrF/BLEU clip Σ_g min(count_cand(g), count_ref(g)) over character
  * n-grams, Popović 2015 §2).
  *
  * Why an expression and not the gram-explode + (ref_id, n, gram)
  * clip join: the join shape is the right architecture when one
  * reference is matched by MANY candidates (grams shuffle once, each
  * match is an equi-join hit). A paired eval is 1:1 — every gram row
  * exists for exactly one comparison — so exploding 3 gram rows per
  * character only to join them back to their own pair pays a
  * corpus-sized shuffle for nothing (measured: 6.7 s at sf0.1,
  * ~150 M shuffled gram rows at 10×, the whole cost of the round-11
  * chrf_eval ship; the same argument subsequently moved BLEU/ROUGE's
  * word-gram clip in-row — see [[GramClip.clippedWords]]). Per-pair
  * hash-map counting inside the pair row is O(slice) with zero
  * shuffle, and at cluster scale it map-reduces perfectly: the only
  * movement left is the doc_id-keyed pair join.
  *
  * Counting is CODE-POINT based (each n-gram is n code points), the
  * same unit as Spark's `substring`/`length` and DuckDB's
  * `substr`/`length` — bit-identical to the gram-join formulation
  * this replaced and to the DuckDB oracle. The heavy loop lives in
  * [[GramClip.clipped]], a compiled static method the generated code
  * calls directly — whole-stage codegen stays intact around it (never
  * an interpreted HOF in a hot path; here the per-row work IS the hash
  * counting, so a static call costs the same as inlined generated code
  * without Janino-compiling a hash map).
  */
object GramClip {

  /** Σ_g min(count_cand(g), count_ref(g)) over WORD n-grams — the
    * BLEU/ROUGE clip. Tokenization matches `Shingles.wordArray` /
    * the oracle's `string_split`: split on single space, blanks
    * dropped; a gram is n consecutive words space-joined.
    */
  def clippedWords(cand: UTF8String, ref: UTF8String, n: Int): Long = {
    val ca = cand.toString.split(" ").filter(_.nonEmpty)
    val ra = ref.toString.split(" ").filter(_.nonEmpty)
    if (ca.length < n || ra.length < n) return 0L
    def counts(ws: Array[String]): java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      var i = 0
      while (i + n <= ws.length) {
        val sb = new java.lang.StringBuilder(ws(i))
        var j = 1
        while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
        val g = sb.toString
        val p = m.get(g)
        m.put(g, if (p == null) 1L else p + 1L)
        i += 1
      }
      m
    }
    val rc = counts(ra)
    val cc = counts(ca)
    var m = 0L
    val it = cc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val r = rc.get(e.getKey)
      if (r != null) m += math.min(e.getValue.longValue(), r.longValue())
    }
    m
  }

  /** Σ_g min(count_cand(g), count_ref(g)) over n-code-point grams. */
  def clipped(cand: UTF8String, ref: UTF8String, n: Int): Long = {
    val ca = cand.toString.codePoints().toArray
    val ra = ref.toString.codePoints().toArray
    if (ca.length < n || ra.length < n) return 0L
    val rc = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i + n <= ra.length) {
      val g = new String(ra, i, n)
      val p = rc.get(g)
      rc.put(g, if (p == null) 1L else p + 1L)
      i += 1
    }
    val cc = new java.util.HashMap[String, java.lang.Long]()
    i = 0
    while (i + n <= ca.length) {
      val g = new String(ca, i, n)
      val p = cc.get(g)
      cc.put(g, if (p == null) 1L else p + 1L)
      i += 1
    }
    var m = 0L
    val it = cc.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val r = rc.get(e.getKey)
      if (r != null) m += math.min(e.getValue.longValue(), r.longValue())
    }
    m
  }
}

/** Word-level Levenshtein distance for PAIRED evals — the WER core
  * (substitution/insertion/deletion at the word level) as ONE compiled
  * in-row DP instead of the relational re-encoding
  * ([[graft.etl.TextAnalysis.werEval]]: per-pair joint vocab, dense
  * alphabetical rank window, chr-encode, native string levenshtein).
  * The re-encoding is the cross-engine VERIFICATION vehicle — a
  * per-pair word↔byte bijection makes DuckDB's byte levenshtein
  * compute the word-level answer, so the oracle keeps it — but as an
  * execution plan it pays a corpus-sized vocab window + two
  * collect_list aggs for what is a 1:1 pair computation (the
  * GramClip lesson again). Here: split both operands (the
  * [[GramClip.clippedWords]] tokenization), two-row DP, O(|a|·|b|)
  * per pair with zero shuffle. Distances are identical to the
  * re-encoded form by construction (the bijection preserves
  * equality, which is all Levenshtein reads).
  */
object WordEdit {
  def distance(cand: UTF8String, ref: UTF8String): Long = {
    val a = cand.toString.split(" ").filter(_.nonEmpty)
    val b = ref.toString.split(" ").filter(_.nonEmpty)
    if (a.isEmpty) return b.length.toLong
    if (b.isEmpty) return a.length.toLong
    var prev = Array.tabulate(b.length + 1)(_.toLong)
    var cur = new Array[Long](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i.toLong
      var j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0L else 1L)
        val del = prev(j) + 1L
        val ins = cur(j - 1) + 1L
        cur(j) = math.min(sub, math.min(del, ins))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }
}

object GramClipFunctions {
  /** `clipped_gram_matches(cand, ref, n)` — the char-n-gram clip (chrF).
    * n is a column, so a mistyped SQL call (n passed as a string
    * literal) fails analysis here.
    */
  private val CharClip = Kernel("clipped_gram_matches", GramClip.getClass,
    "clipped", Seq(StringType, StringType, IntegerType), LongType,
    usage = Some("clipped_gram_matches(cand, ref, n) - sum_g min(count_c, count_r) over char n-grams"))
  /** `clipped_word_gram_matches(cand, ref, n)` — the BLEU/ROUGE clip over
    * space-tokenized word n-grams.
    */
  private val WordClip = Kernel("clipped_word_gram_matches", GramClip.getClass,
    "clippedWords", Seq(StringType, StringType, IntegerType), LongType,
    usage = Some("clipped_word_gram_matches(cand, ref, n) - sum_g min(count_c, count_r) over word n-grams"))
  /** `word_edit_distance(cand, ref)` — word-level Levenshtein (WER core). */
  private val WordEditDist = Kernel("word_edit_distance", WordEdit.getClass,
    "distance", Seq(StringType, StringType), LongType, usage = Some(
      "word_edit_distance(cand, ref) - word-level Levenshtein (WER core)"))

  val kernels: Seq[Kernel] = Seq(CharClip, WordClip, WordEditDist)

  /** Column API: clipped char-n-gram matches between two string columns. */
  def clipF(cand: Column, ref: Column, n: Column): Column =
    CharClip(cand, ref, n)()

  /** Column API: clipped word-n-gram matches (BLEU/ROUGE clip). */
  def wordClipF(cand: Column, ref: Column, n: Column): Column =
    WordClip(cand, ref, n)()

  /** Column API: word-level Levenshtein distance (WER core). */
  def wordEditF(cand: Column, ref: Column): Column = WordEditDist(cand, ref)()
}
