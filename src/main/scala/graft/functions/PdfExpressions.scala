package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** S9 PDF round-trip kernels — the `pdf_extract` oracle surface
  * (round 16, VERDICT r15 item 2: "narrow the S9 contract the way S5
  * was narrowed"). The [[graft.etl.HtmlExtract]] precedent applied to
  * PDF: build a REAL multi-page PDF around each document's words
  * (page tree, xref, Flate-compressed and plain content streams,
  * Tj text operators — reference cap semantics from
  * config/limits.yaml:91-92), run the REAL byte-level extractor
  * ([[graft.etl.PdfText]]: object table, FlateDecode inflate, page
  * walk, string-grammar tokenizer), and recover exactly the first 15
  * pages' text. The construction is self-inverting, so the DuckDB
  * oracle needs only the documents table — the parser is value-checked
  * without DuckDB reading a single PDF byte.
  *
  * Same codegen discipline as [[HtmlMainText]]/[[GramClip]]: the
  * builder and parser are compiled static calls, so whole-stage
  * codegen spans the scan→build→extract pipeline instead of breaking
  * on a ScalaUDF.
  */
object PdfBuild {
  import java.util.zip.Deflater

  /** Words per synthetic page — 4, so the corpus's 10-99-word docs
    * produce 3-25 pages and the reference's max_pages=15 cap BITES on
    * real rows (docs >60 words lose their tail) while short docs stay
    * whole. One home, read by the builder here and interpolated into
    * the DuckDB oracle.
    */
  val PageWords = 4

  /** The page texts of a document: non-empty words (the
    * [[graft.etl.Shingles.wordArray]] split semantics) in
    * [[PageWords]]-word groups; a wordless document still renders one
    * (empty) page, because a structurally valid PDF has ≥1 page.
    */
  def pageTexts(text: String): Vector[String] = {
    val words = Option(text).getOrElse("")
      .split(" ").filter(_.nonEmpty)
    if (words.isEmpty) Vector("")
    else words.grouped(PageWords).map(_.mkString(" ")).toVector
  }

  /** Byte-faithful literal-string escape (ADVICE r16 item 1 — the old
    * char passthrough silently mapped non-Latin-1 chars to '?' via
    * getBytes(ISO-8859-1) and let the literal tokens endobj/endstream
    * survive into uncompressed content streams, where they truncate
    * the lexical object scan). Printable ASCII passes through (\ ( )
    * escaped); every other byte is \ooo octal-escaped (standard PDF
    * string escapes, decoded by [[graft.etl.PdfText]]); the lexical
    * keywords get their first byte octal-escaped so no content stream
    * can fake an object/stream boundary.
    *
    * Single pass (round 19, guide §1.2 per-task work): manual octal
    * digits replace the per-byte printf Formatter, and the keyword
    * escapes happen inline — equivalent to the old two post-hoc
    * String.replace passes because the only multi-char escape outputs
    * (\\ \( \) \ooo) contain no letters, so "endstream"/"endobj" occur
    * in the escaped text exactly where they occur in the input bytes,
    * and the two keywords cannot overlap each other.
    */
  private def escBytes(bytes: Array[Byte]): String = {
    val n = bytes.length
    val sb = new java.lang.StringBuilder(n + 16)
    def matches(i: Int, kw: String): Boolean = {
      if (i + kw.length > n) return false
      var k = 0
      while (k < kw.length) {
        if (bytes(i + k) != kw.charAt(k).toByte) return false
        k += 1
      }
      true
    }
    var i = 0
    while (i < n) {
      val c = bytes(i) & 0xFF
      if (c == 'e' && matches(i, "endstream")) { sb.append("\\145ndstream"); i += 9 }
      else if (c == 'e' && matches(i, "endobj")) { sb.append("\\145ndobj"); i += 6 }
      else {
        if (c == 0x5C) sb.append("\\\\")
        else if (c == 0x28) sb.append("\\(")
        else if (c == 0x29) sb.append("\\)")
        else if (c >= 0x20 && c <= 0x7E) sb.append(c.toChar)
        else sb.append('\\').append(('0' + (c >> 6)).toChar)
          .append(('0' + ((c >> 3) & 7)).toChar).append(('0' + (c & 7)).toChar)
        i += 1
      }
    }
    sb.toString
  }

  /** Latin-1 text is carried as raw bytes (octal-escaped where
    * non-printable); anything wider goes as a PDF 2.0 UTF-8 text
    * string — BOM-prefixed UTF-8 bytes (ISO 32000-2 §7.9.2.2), which
    * [[graft.etl.PdfText]] recognizes and decodes — so the build →
    * extract round trip is exact for ALL of Unicode, not just the
    * ASCII synthetic corpus. A Latin-1 string that happens to START
    * with the BOM byte triple is forced onto the UTF-8 path too (the
    * decoder would otherwise strip its first three chars).
    */
  private def esc(s: String): String =
    if (s.exists(_ > 0xFF) || s.startsWith("\u00EF\u00BB\u00BF"))
      escBytes(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ s.getBytes("UTF-8"))
    else escBytes(s.getBytes("ISO-8859-1"))

  /** Reset-per-use thread-local Deflater (round 19): constructing a
    * native zlib stream per page dominated small-stream compression.
    * BEST_SPEED only changes the compressed bytes, never the inflated
    * content — the PDF bytes are internal to the build→extract round
    * trip (the queries project n_pages/pdf_text only), so the choice is
    * invisible to results.
    */
  private val localDeflater = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater = new Deflater(Deflater.BEST_SPEED)
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = localDeflater.get()
    d.reset()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream(b.length)
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    out.toByteArray
  }

  /** A structurally complete one-catalog PDF: page tree, per-page
    * /Contents streams (compressed where `compress(i)`), xref table
    * with byte-exact offsets, trailer. `%PDF` header first so
    * [[graft.etl.Multimodal.mediaKind]] routes it.
    */
  def makePdf(pageTexts: Seq[String], compress: Int => Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(256 * pageTexts.size)
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val offsets = scala.collection.mutable.ArrayBuffer[Int]()
    def obj(n: Int)(body: => Unit): Unit = {
      offsets += out.size(); w(s"$n 0 obj\n"); body; w("endobj\n")
    }
    w("%PDF-1.4\n")
    val nP = pageTexts.size
    val kids = (0 until nP).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    obj(1) { w("<< /Type /Catalog /Pages 2 0 R >>\n") }
    obj(2) { w(s"<< /Type /Pages /Kids [$kids] /Count $nP >>\n") }
    pageTexts.zipWithIndex.foreach { case (t, i) =>
      val pObj = 3 + 2 * i; val cObj = 4 + 2 * i
      obj(pObj) { w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]" +
        s" /Contents $cObj 0 R >>\n") }
      val content = s"BT /F1 12 Tf 72 720 Td (${esc(t)}) Tj ET"
      val data =
        if (compress(i)) deflate(content.getBytes("ISO-8859-1"))
        else content.getBytes("ISO-8859-1")
      obj(cObj) {
        w(s"<< /Length ${data.length}" +
          s"${if (compress(i)) " /Filter /FlateDecode" else ""} >>\nstream\n")
        out.write(data); w("\nendstream\n")
      }
    }
    val xrefOff = out.size()
    w(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach { o => // zero-padded width 10 without a printf Formatter
      val s = o.toString
      w("0000000000".substring(s.length) + s + " 00000 n \n")
    }
    w(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** UTF8String shim for generated code: the document's synthetic PDF,
    * odd pages Flate-compressed so BOTH stream paths of the extractor
    * run on every multi-page row.
    */
  def build(text: UTF8String): Array[Byte] =
    makePdf(pageTexts(if (text == null) "" else text.toString), _ % 2 == 1)
}

/** Shim for the extraction side (reference cap: max_pages=15): ONE
  * parse per row returning the (pages, text) struct — separate
  * pages/text expressions would parse every PDF twice (measured ~2×
  * the extraction cost at sf0.1).
  */
object PdfExtractFn {
  def extract(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val r = graft.etl.PdfText.extract(b, 15)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r.pages, UTF8String.fromString(r.text)))
  }
}

object PdfExprs {
  private val Build = Kernel("pdf_build", PdfBuild.getClass, "build",
    Seq(StringType), BinaryType)
  private val Extract = Kernel("pdf_extract", PdfExtractFn.getClass,
    "extract", Seq(BinaryType), StructType(Seq(
      StructField("n_pages", IntegerType, nullable = false),
      StructField("pdf_text", StringType, nullable = false))))

  val kernels: Seq[Kernel] = Seq(Build, Extract)

  /** Column API: synthetic PDF bytes of a text column. */
  def buildF(text: Column): Column = Build(text)()
  /** Column API: (n_pages, pdf_text) struct of a payload — physical
    * (pre-cap) page count + the first 15 pages' text, one parse.
    */
  def extractF(pdf: Column): Column = Extract(pdf)()
}
