package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.etl.Chunker

/** The GraftExtensions-registered SQL functions, driven through actual
  * SQL text.
  */
class SqlSurfaceSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("SQL row_number top-k subqueries plan the native GroupTopK too") {
    // the rewrite is expression-level, so plain SQL — not just the
    // DataFrame API — gets the heap operator
    Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("docs_v")
    val df = spark.sql(
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM docs_v) WHERE rn <= 3""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GroupTopK"), s"SQL pattern missed the rewrite:\n$p")
    assert(!p.contains("Window"), p)
    // and it computes the same rows as the un-rewritten window form
    // (rank() pattern is NOT rewritten — use it as the control)
    val control = spark.sql(
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    rank() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM docs_v) WHERE rn <= 3""".stripMargin)
    assert(control.queryExecution.executedPlan.toString.contains("Window"))
    assert(df.collect().toSet == control.collect().toSet)
  }

  test("dot_product is SQL-callable and matches the declarative form") {
    val got = spark.sql(
      "SELECT dot_product(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT))," +
        " array(CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT)))")
      .as[Double].head()
    assert(got == 1.5 * 3.0 + 2.0 * 0.5)
  }

  test("clipped gram matches are SQL-callable in both char and word " +
       "modes") {
    val c = spark.sql("SELECT clipped_gram_matches('abab', 'ab', 2)")
      .as[Long].head()
    assert(c == 1L) // cand has 'ab'x2 'ba'x1; ref clips 'ab' at 1
    val w = spark.sql(
      "SELECT clipped_word_gram_matches('the cat sat', 'the cat', 2)")
      .as[Long].head()
    assert(w == 1L) // 'the cat' matches; 'cat sat' doesn't
  }

  test("cms_sketch is SQL-callable as an aggregate: 1024 cells, total " +
       "mass = depth x rows") {
    val cells = spark.sql(
      "SELECT cms_sketch(w) FROM VALUES ('a'), ('b'), ('a') AS t(w)")
      .as[Seq[Long]].head()
    assert(cells.length == 1024)
    assert(cells.sum == 4L * 3) // every row lands in all 4 sketch rows
  }

  test("cms_lookup is SQL-callable over cms_sketch cells; mistyped " +
       "calls fail at analysis time (ExpectsInputTypes)") {
    val got = spark.sql(
      "SELECT cms_lookup(s, 'a') AS a, cms_lookup(s, 'b') AS b, " +
        "cms_lookup(s, 'zzz') AS z FROM " +
        "(SELECT cms_sketch(w) AS s FROM VALUES ('a'), ('b'), ('a') AS t(w))")
      .as[(Long, Long, Long)].head()
    assert(got._1 >= 2L && got._2 >= 1L && got._1 >= got._2, got.toString)
    // analysis-time rejection, not a runtime ClassCastException
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cms_lookup('notasketch', 'a')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT clipped_gram_matches('ab', 'ab', 'two')").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT clipped_word_gram_matches('a b', 'a', 'two')").collect()
    }
  }

  test("hll_sketch / hll_estimate are SQL-callable; tiny cardinality " +
       "is exact via linear counting; mistyped args fail analysis") {
    val est = spark.sql(
      "SELECT hll_estimate(hll_sketch(w)) FROM " +
        "VALUES ('a'), ('b'), ('a') AS t(w)").as[Long].head()
    assert(est == 2L, s"est=$est")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hll_estimate('notregisters')").collect()
    }
  }

  test("word_edit_distance is SQL-callable with word-level semantics") {
    val got = spark.sql(
      "SELECT word_edit_distance('the cat sat', 'the dog sat'), " +
        "word_edit_distance('cats', 'cat')").as[(Long, Long)].head()
    assert(got == ((1L, 1L)), got.toString)
  }

  test("kmv_sketch / kmv_estimate / kmv_common are SQL-callable; " +
       "mistyped args fail analysis") {
    val got = spark.sql(
      "SELECT kmv_estimate(a.sk) AS na, kmv_common(a.sk, b.sk) AS c FROM " +
        "(SELECT kmv_sketch(w) AS sk FROM VALUES ('a'), ('b'), ('a') AS t(w)) a, " +
        "(SELECT kmv_sketch(w) AS sk FROM VALUES ('b'), ('c') AS t(w)) b")
      .as[(Long, Long)].head()
    assert(got == ((2L, 1L)), got.toString)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT kmv_common('x', 'y')").collect()
    }
  }

  test("kmv_union / kmv_diff / kmv_merge are SQL-callable with " +
       "inclusion-exclusion semantics (exact on un-full sketches)") {
    // A = {a,b,c}, B = {b,c,d}: union 4, A\B 1, B\A 1, merge size 4
    val got = spark.sql(
      "SELECT kmv_union(a.sk, b.sk), kmv_diff(a.sk, b.sk), " +
        "kmv_diff(b.sk, a.sk), size(kmv_merge(a.sk, b.sk)), " +
        "kmv_estimate(kmv_merge(a.sk, b.sk)) FROM " +
        "(SELECT kmv_sketch(w) AS sk FROM VALUES ('a'), ('b'), ('c') AS t(w)) a, " +
        "(SELECT kmv_sketch(w) AS sk FROM VALUES ('b'), ('c'), ('d') AS t(w)) b")
      .as[(Long, Long, Long, Int, Long)].head()
    assert(got == ((4L, 1L, 1L, 4, 4L)), got.toString)
  }

  test("qdigest_sketch / qdigest_quantile / qdigest_n / qdigest_merge " +
       "are SQL-callable; mistyped args fail analysis") {
    val got = spark.sql(
      "SELECT qdigest_quantile(a.sk, 5000), qdigest_n(a.sk), " +
        "qdigest_quantile(qdigest_merge(a.sk, b.sk), 5000), " +
        "qdigest_n(qdigest_merge(a.sk, b.sk)) FROM " +
        "(SELECT qdigest_sketch(v) AS sk FROM VALUES (1L), (2L), (3L) AS t(v)) a, " +
        "(SELECT qdigest_sketch(v) AS sk FROM VALUES (4L), (5L) AS t(v)) b")
      .as[(Long, Long, Long, Long)].head()
    assert(got == ((2L, 3L, 3L, 5L)), got.toString)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT qdigest_quantile('x', 5000)").collect()
    }
    // weighted build: 1 unit at 10, 9 units at 20 → p50 mass sits at 20
    val w = spark.sql(
      "SELECT qdigest_quantile(sk, 5000), qdigest_n(sk) FROM " +
        "(SELECT qdigest_sketch_w(v, w) AS sk FROM " +
        " VALUES (10L, 1L), (20L, 9L) AS t(v, w))")
      .as[(Long, Long)].head()
    assert(w == ((20L, 10L)), w.toString)
    // a kmv-style sorted array is not a digest: ids/counts malformed
    val ex = intercept[Exception] {
      spark.sql("SELECT qdigest_n(array(5L, -1L))").collect()
    }
    assert(ex.getMessage.contains("qdigest"), ex.getMessage)
  }

  test("sketch answering functions REJECT arrays that are not their " +
       "sketch type instead of returning garbage") {
    // a cms_sketch buffer has the length kmv_estimate's K would accept
    // but fails strict unsigned-ascending validation immediately
    val ex1 = intercept[Exception] {
      spark.sql("SELECT kmv_estimate(array(2L, 1L))").collect()
    }
    assert(ex1.getMessage.contains("kmv"), ex1.getMessage)
    // cms_lookup demands exactly the 1024-cell buffer shape
    val ex2 = intercept[Exception] {
      spark.sql("SELECT cms_lookup(array(1L, 2L), 'w')").collect()
    }
    assert(ex2.getMessage.contains("cms_lookup"), ex2.getMessage)
  }

  test("score_link is SQL-callable with the X1 weights") {
    val got = spark.sql(
      "SELECT score_link('http://x/topic', 'plain', 'topic here', 'topic')")
      .as[Int].head()
    assert(got == 5) // url +3, context +2
  }

  test("skip_url is SQL-callable with the reference semantics") {
    val got = spark.sql(
      """SELECT skip_url('https://a.com/doc.pdf'),
        |       skip_url('https://a.com/LOGIN/x'),
        |       skip_url('https://a.com/x.PDF'),
        |       skip_url('https://a.com/page/9')""".stripMargin)
      .as[(Boolean, Boolean, Boolean, Boolean)].head()
    assert(got == ((true, true, false, false)))
  }

  test("every registered function rejects too few and too many " +
       "arguments at analysis time, naming itself and its arity") {
    assert(GraftExtensions.functions.size == 22)
    for (f <- GraftExtensions.functions; n <- Seq(f.arity - 1, f.arity + 1)) {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT ${f.name}(${Seq.fill(n)("NULL").mkString(", ")})")
          .collect()
      }
      assert(ex.getMessage.contains(f.name), ex.getMessage)
      assert(ex.getMessage.contains(s"requires ${f.arity} parameters"),
        ex.getMessage)
    }
  }

  test("skip_url and dot_product reject mistyped arguments at analysis " +
       "time") {
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT skip_url(42)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_product(array(1.5D), array(2.0D))").collect()
    }
  }

  test("chunk_text generator matches Chunker.chunk exactly") {
    val docs = Seq(
      (1L, "abcdefghij" * 30), // 300 chars
      (2L, "short"),
      (3L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_surface_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, c.chunk_idx, c.chunk
        |FROM sql_surface_docs
        |LATERAL VIEW chunk_text(text, 100, 20) c AS chunk_idx, chunk
        |""".stripMargin)
      .as[(Long, Int, String)].collect().toSet
    val viaApi = Chunker.chunk(docs, col("text"), 100, 20)
      .select(col("doc_id"), col("chunk_idx"), col("chunk"))
      .as[(Long, Int, String)].collect().toSet
    assert(viaSql == viaApi)
    assert(viaSql.exists(_._1 == 3L)) // empty doc still yields one chunk
  }
}
