package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.etl.QualityTrain

/** The trainer's three queries on corpora whose train, valid or test
  * slice is degenerate. The shipped weights, the curve and the
  * held-out confusion row must keep their NULLs and zeros exactly:
  * an empty train slice leaves every weight NULL, an empty test slice
  * leaves the confusion sums NULL. Expected rows were recorded from
  * the trainer that staged its weight vector as a 257-row frame.
  */
class QualityTrainSpec extends AnyFunSuite with SparkTestBase {

  private val vocab = Seq("river", "stone", "cloud", "garden", "window",
    "silver", "market", "forest", "bridge", "candle", "meadow", "harbor",
    "lantern", "orchard", "valley", "pepper", "copper", "ribbon", "saddle",
    "thunder", "velvet", "willow", "anchor", "basket", "cellar", "falcon",
    "ginger", "hollow", "island", "jasper", "kettle", "ladder", "mirror",
    "needle", "oyster", "pillar", "quartz", "rocket", "summit", "tunnel")

  /** 63 words with three stopwords: passes the gopher gate. */
  private def passText(i: Int): String = {
    val r = new scala.util.Random(i)
    (Seq.fill(60)(vocab(r.nextInt(vocab.size))) ++ Seq("the", "and", "of"))
      .mkString(" ")
  }

  /** 5 words: fails the gopher gate. */
  private def failText(i: Int): String = {
    val r = new scala.util.Random(1000 + i)
    Seq.fill(5)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** The first `n` doc ids whose split bucket lies in [lo, hi). */
  private def idsIn(lo: Int, hi: Int, n: Int): Seq[Long] = {
    import spark.implicits._
    spark.range(0, 2000)
      .select(col("id"), graft.etl.Splits.hashBucket(col("id"), "split:").as("bk"))
      .filter(col("bk") >= lo && col("bk") < hi).orderBy("id")
      .select("id").as[Long].take(n).toSeq
  }

  private lazy val train = idsIn(0, 80, 10)
  private lazy val valid = idsIn(80, 90, 4)
  private lazy val heldOut = idsIn(90, 100, 4)

  /** Alternating pass/fail documents over `ids`. */
  private def mixed(ids: Seq[Long]): Seq[(Long, String)] =
    ids.zipWithIndex.map { case (id, i) =>
      id -> (if (i % 2 == 0) passText(id.toInt) else failText(id.toInt))
    }

  /** (weights null count, non-null sum, md5 of the bucket:weight lines),
    * curve rows and eval rows of a corpus of `docs`.
    */
  private def trained(docs: Seq[(Long, String)])
      : ((Int, Long, String), Seq[String], Seq[String]) = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_qt_")
    try {
      docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(d.resolve("documents.parquet").toString)
      val dir = d.toString
      val w = QualityTrain.qualityTrain(spark, dir).collect()
      val lines = w.map(r => s"${r.get(0)}:${r.get(1)}").mkString("\n")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(lines.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val weights = (w.count(_.isNullAt(1)),
        w.filterNot(_.isNullAt(1)).map(_.getLong(1)).sum, md5)
      val curve = QualityTrain.qualityTrainCurve(spark, dir).collect()
        .map(_.mkString(",")).toSeq
      val eval = QualityTrain.qualityTrainEval(spark, dir).collect()
        .map(_.mkString(",")).toSeq
      (weights, curve, eval)
    } finally {
      graft.etl.Memos.clearAll()
      Harness.deleteRecursively(d.toFile)
    }
  }

  private def flat(train: Long, valid: Long): Seq[String] =
    (0 to QualityTrain.Rounds).map(r => s"$r,$train,$valid")

  test("fixtures: the texts carry the intended gopher labels") {
    assert(graft.etl.TextAnalysis.gopherPass(passText(3)))
    assert(!graft.etl.TextAnalysis.gopherPass(failText(3)))
    assert(train.size == 10 && valid.size == 4 && heldOut.size == 4)
  }

  test("empty train slice: every weight NULL, mistakes 0 on train and " +
      "every valid doc on valid") {
    val (w, curve, eval) = trained(mixed(valid ++ heldOut))
    assert(w == ((QualityTrain.Buckets + 1, 0L, "caf2873646fb3701c471bb5027441d3a")))
    assert(curve == flat(0, 4))
    assert(eval == Seq("0,4,2,0,0,2,5000,0,0"))
  }

  test("single-class train slice: finite warm start, the same rows as " +
      "the frame-staged trainer") {
    val (w, curve, eval) = trained(
      train.map(id => id -> passText(id.toInt)) ++ mixed(valid) ++ mixed(heldOut))
    assert(w == ((0, -2044161L, "dc04861a56450c04ca22e295743d2b49")))
    assert(curve == flat(0, 2))
    assert(eval == Seq("0,4,2,4,2,0,5000,5000,10000"))
  }

  test("empty test slice: n_heldout 0, the confusion sums and the " +
      "rates they divide stay NULL") {
    val (w, curve, eval) = trained(mixed(train) ++ mixed(valid))
    assert(w == ((0, -1119112L, "6946ee157b6f9a15242b909ff2901f1f")))
    assert(curve == flat(5, 2))
    assert(eval == Seq("0,0,null,null,null,null,0,null,null"))
  }
}
