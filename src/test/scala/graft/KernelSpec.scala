package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr, lit, when}
import graft.functions.{Kernel, PdfExprs}

/** Every compiled kernel row evaluated both ways: interpreted
  * (`NO_CODEGEN`, whole-stage codegen off) and compiled (`CODEGEN_ONLY`,
  * inside a whole-stage codegen stage). The two must agree row for row,
  * on a sample call and on a null input. The sample table must name
  * exactly the kernel table's rows, so a kernel added without a sample
  * fails here.
  */
class KernelSpec extends AnyFunSuite with SparkTestBase {

  /** Per kernel: its Int constants and its sample argument rows. A null
    * row (every argument null) is appended to each.
    */
  private case class Sample(consts: Seq[Int], rows: Seq[Seq[Column]])

  private def s(consts: Int*)(rows: Seq[String]*): Sample =
    Sample(consts, rows.map(_.map(expr)))

  private val text = "'the cat sat on the mat and the cat sat'"
  private val shingles = "array('a b', 'b c', 'c d')"
  private val noShingles = "CAST(array() AS array<string>)"
  private val kmvA = "array(1L, 5L, 9L)"
  private val kmvB = "array(5L, 9L, 12L)"
  private val digestA = "array(65537L, 2L, 65540L, 1L)"
  private val digestB = "array(65536L, 3L, 65540L, 4L)"
  private val floatsA = "array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT))"
  private val floatsB = "array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT))"
  // x has M=2 slices of Sub=2; the flat codebook holds K=2 codewords
  private val quantized = "array(1L, 2L, 3L, 4L)"
  private val codebook = "array(0L, 0L, 0L, 0L, 1L, 2L, 3L, 5L)"

  private val samples: Map[String, Sample] = Map(
    "word_shingle_array" -> s(2)(Seq(text)),
    "minhash_sigs" -> s(8)(Seq(shingles), Seq(noShingles)),
    "minhash_sigs_fast" -> s(8)(Seq(shingles), Seq(noShingles)),
    "simhash_sig" -> s(4)(Seq("array('the', 'cat', 'sat')")),
    "word_count" -> s()(Seq("'  the cat  sat '")),
    "span_clip_struct" -> s(2)(Seq("'a b c d e f'", "array(1, 3)")),
    "gopher_pass_of" -> s()(Seq(text)),
    "gopher_stats_of" -> s()(Seq(text)),
    "hashed_bag_counts" -> s(16)(Seq("'The cat the CAT'")),
    "char_entropy_sum" -> s()(Seq(text), Seq("''")),
    "charset_size" -> s()(Seq(text)),
    "bag_dot" -> s()(Seq("array(named_struct('b', 0L, 'cnt', 2L), " +
      "named_struct('b', 2L, 'cnt', 1L))", "array(5L, 7L, 11L)")),
    "quantize_milli" -> s()(Seq(
      "array(CAST(1.2345 AS FLOAT), CAST(-0.0005 AS FLOAT))")),
    "sq_dist_long" -> s()(Seq("array(1L, 2L, 3L)", "array(4L, 0L, 3L)")),
    "pq_encode" -> s(2, 2, 2)(Seq(quantized, codebook)),
    "pq_lut" -> s(2, 2, 2)(Seq(quantized, codebook)),
    "adc_sum" -> s(2)(Seq("array(1, 0)", "array(5L, 7L, 11L, 13L)")),
    "dot_product" -> s()(Seq(floatsA, floatsB)),
    "clipped_gram_matches" -> s()(Seq("'abab'", "'ab'", "2")),
    "clipped_word_gram_matches" -> s()(Seq("'the cat sat'", "'the cat'", "2")),
    "word_edit_distance" -> s()(Seq("'the cat sat'", "'the dog sat'")),
    "cms_lookup" -> s()(Seq("array_repeat(3L, 1024)", "'w'")),
    "hll_estimate" -> s()(Seq(
      "array(CAST(1 AS TINYINT), CAST(0 AS TINYINT), CAST(2 AS TINYINT))")),
    "kmv_estimate" -> s()(Seq(kmvA)),
    "kmv_common" -> s()(Seq(kmvA, kmvB)),
    "kmv_union" -> s()(Seq(kmvA, kmvB)),
    "kmv_diff" -> s()(Seq(kmvA, kmvB)),
    "kmv_merge" -> s()(Seq(kmvA, kmvB)),
    "qdigest_quantile" -> s()(Seq(digestA, "5000")),
    "qdigest_n" -> s()(Seq(digestA)),
    "qdigest_merge" -> s()(Seq(digestA, digestB)),
    "html_main_text" -> s()(Seq("'<html><body><nav>menu</nav><p>The main " +
      "text of this page is here, long enough to keep.</p></body></html>'")),
    "pdf_build" -> s()(Seq("'one two three four five six'")),
    "pdf_extract" -> Sample(Nil, Seq(Seq(
      PdfExprs.buildF(lit("one two three four five six seven eight nine"))))),
    "skip_url" -> s()(Seq("'https://a.com/doc.pdf'"), Seq("'https://a.com/page/9'")))

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** (id, result) rows of `k` over its sample rows plus the null row, and
    * whether the kernel's projection ran inside whole-stage codegen. The
    * arguments are CASE expressions over the row id, so nothing folds
    * to a constant at planning time.
    */
  private def run(k: Kernel, sample: Sample): (Seq[Row], Boolean) = {
    val n = sample.rows.size
    val args = sample.rows.head.indices.map { j =>
      sample.rows.indices.tail.foldLeft(when(col("id") === 0, sample.rows.head(j))) {
        (c, i) => c.when(col("id") === i, sample.rows(i)(j))
      }
    }
    val df = spark.range(0, n + 1, 1, 1)
      .select(col("id"), k(args: _*)(sample.consts: _*).as("out"))
    val rows = df.collect().toSeq.sortBy(_.getLong(0))
    val inCodegen = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w
    }.exists(_.toString.contains(k.name))
    (rows, inCodegen)
  }

  test("the sample table names exactly the kernel table's rows") {
    assert(samples.keySet == Kernel.all.map(_.name).toSet)
    assert(Kernel.all.map(_.name).distinct.size == Kernel.all.size)
  }

  test("every kernel evaluates the same interpreted and compiled, null " +
       "input included") {
    for (k <- Kernel.all) {
      val sample = samples(k.name)
      val (interpreted, wasCompiled) = withConf(
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
        run(k, sample)
      }
      val (compiled, inCodegen) = withConf(
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
          "spark.sql.codegen.wholeStage" -> "true") {
        run(k, sample)
      }
      assert(!wasCompiled, s"${k.name}: the interpreted run used codegen")
      assert(inCodegen, s"${k.name}: fell out of whole-stage codegen")
      assert(interpreted == compiled, s"${k.name}: interpreted != compiled")
      assert(interpreted.size == sample.rows.size + 1)
      assert(interpreted.last.isNullAt(1), s"${k.name}: null input, non-null out")
      assert(!interpreted.head.isNullAt(1), s"${k.name}: sample row is null")
    }
  }
}
