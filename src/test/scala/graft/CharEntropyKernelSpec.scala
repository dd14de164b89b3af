package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{coalesce, col, expr, length, lit, octet_length, round, when}
import graft.etl.TextAnalysis
import graft.functions.QualityKernelFunctions.{charEntropySumF, charsetSizeF}

/** The character-entropy kernels against the SQL the DuckDB oracle runs
  * ([[TextAnalysis.entropySumSql]], [[TextAnalysis.charsetSizeSql]]),
  * both evaluated by Spark on the same edge texts: the unrounded sums
  * must be the same double bit for bit, so the rounded entropies and the
  * charset sizes match too; and the two Spark surfaces
  * (`withCharEntropy`, `charEntropyFrom`) must carry those values.
  */
class CharEntropyKernelSpec extends AnyFunSuite with SparkTestBase {

  private val texts: Seq[(Long, String)] = Seq(
    0L -> "",
    1L -> null,
    2L -> "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    3L -> "THEQUICKBROWNFOX",
    4L -> "!?.,;:-()[]{}'\"/\\@#$%^&*",
    5L -> "naïve café — 日本語のテキスト and ümlaut 😀 text",
    6L -> "0 12 345 6789 000 111 2222 33 4",
    7L -> "the cat sat on the mat and the cat sat")

  /** (id, len, bytes, sql_sum, sql_n, sql_e, k_sum, k_n, k_e) per text,
    * by id; `*_e` is the rounded entropy under the empty-text null rule.
    */
  private lazy val rows: Map[Long, Row] = {
    import spark.implicits._
    val t = coalesce(col("text"), lit(""))
    val counts = TextAnalysis.EntropyCharSet.indices.map(i =>
      expr(TextAnalysis.entropyCountSql(i)).as(s"c_$i"))
    texts.toDF("id", "text").repartition(2)
      .select((Seq(col("id"), t.as("t"), length(t).as("len")) ++ counts): _*)
      .select(col("id"), col("len"), octet_length(col("t")).as("bytes"),
        expr(TextAnalysis.entropySumSql).as("sql_sum"),
        expr(TextAnalysis.charsetSizeSql).as("sql_n"),
        charEntropySumF(col("t")).as("k_sum"),
        charsetSizeF(col("t")).as("k_n"))
      .withColumn("sql_e", when(col("len") > 0, round(col("sql_sum"), 4)))
      .withColumn("k_e", when(col("len") > 0, round(col("k_sum"), 4)))
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
  }

  test("the kernels equal the oracle's SQL, bit for bit, on edge texts") {
    assert(rows.size == texts.size)
    for ((id, r) <- rows) {
      val sql = r.getAs[Double]("sql_sum")
      val k = r.getAs[Double]("k_sum")
      assert(java.lang.Double.doubleToRawLongBits(sql) ==
        java.lang.Double.doubleToRawLongBits(k), s"text $id: sum $sql vs $k")
      assert(r.getAs[Int]("sql_n") == r.getAs[Int]("k_n"), s"text $id: charset")
      assert(r.getAs[Any]("sql_e") == r.getAs[Any]("k_e"), s"text $id: entropy")
    }
  }

  test("the edge texts exercise what they name") {
    def e(id: Long): Any = rows(id).getAs[Any]("k_e")
    def n(id: Long): Int = rows(id).getAs[Int]("k_n")
    assert(e(0) == null && e(1) == null)        // empty and null: no entropy
    assert(e(2) == 0.0 && n(2) == 1)            // one repeated character
    assert(e(3) == 0.0 && n(3) == 0)            // upper case: outside the alphabet
    assert(e(4) == 0.0 && n(4) == 0)            // punctuation only
    assert(rows(5).getAs[Int]("bytes") > rows(5).getAs[Int]("len")) // multi-byte
    assert(n(6) == 11)                          // ten digits and the space
    assert(e(7).asInstanceOf[Double] > 1.0)
  }

  test("withCharEntropy and charEntropyFrom carry the oracle's values") {
    import spark.implicits._
    val docs = texts.toDF("doc_id", "text")
    val gate = TextAnalysis.withCharEntropy(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Any]("entropy")).toMap
    assert(gate == rows.map { case (id, r) => id -> r.getAs[Any]("sql_e") })
    val query = TextAnalysis.charEntropyFrom(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_charset"), r.getAs[Any]("entropy"))).toMap
    assert(query == rows.filter(_._2.getAs[Int]("len") > 0).map { case (id, r) =>
      id -> (r.getAs[Int]("sql_n"), r.getAs[Any]("sql_e")) })
  }
}
