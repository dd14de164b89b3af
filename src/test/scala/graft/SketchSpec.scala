package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Sketch

/** Every [[Sketch]] row's buffer algebra, table-driven over
  * [[Sketch.all]]: the serialized form round-trips, the zero buffer is
  * the merge identity, and the partitioning-invariant sketches build
  * the same array however the rows are split. The sample table must
  * name exactly the sketch rows, so a row added without a sample fails
  * here.
  */
class SketchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val words = (1 to 3000).map(i => s"w${i * 7919 % 2500}")
  // 3000 values of mass 1 or 1..5: past the q-digest compression
  // threshold (n >= 1024), so the built buffers hold folded nodes
  private val values = (1 to 3000).map(i => i.toLong * 7919L % 70000L)

  /** Per row: its argument tuples, as Catalyst values. */
  private val samples: Map[String, Seq[Seq[Any]]] = Map(
    "cms_sketch" -> words.map(w => Seq(UTF8String.fromString(w))),
    "hll_sketch" -> words.map(w => Seq(UTF8String.fromString(w))),
    "kmv_sketch" -> words.map(w => Seq(UTF8String.fromString(w))),
    "qdigest_sketch" -> values.map(v => Seq(v)),
    "qdigest_sketch_w" -> values.map(v => Seq(v, 1L + v % 5L)))

  /** The rows whose finished array does not depend on how the rows
    * were split (q-digest compression follows the merge order).
    */
  private val partitioningInvariant = Set("cms_sketch", "hll_sketch", "kmv_sketch")

  private def built[B](s: Sketch[B]): B = {
    val buf = s.zero()
    samples(s.name).foreach(v => s.add(buf, v))
    buf
  }

  private def encoded[B](s: Sketch[B], buf: B): Seq[Any] =
    s.encode(buf).toSeq[Any](s.elementType)

  test("the sample table names exactly the sketch rows") {
    assert(samples.keySet == Sketch.all.map(_.name).toSet)
    assert(Sketch.all.map(_.name).distinct.size == Sketch.all.size)
  }

  test("every row: deserialize(serialize(b)) == b and merge(zero, b) == b") {
    def check[B](s: Sketch[B]): Unit = {
      val b = built(s)
      val bytes = s.serialize(b)
      assert(encoded(s, s.deserialize(bytes)) == encoded(s, b), s.name)
      val z = s.zero()
      s.merge(z, b)
      assert(encoded(s, z) == encoded(s, b), s.name)
      assert(encoded(s, b).nonEmpty, s.name)
    }
    Sketch.all.foreach(s => check(s))
  }

  test("partitioning-invariant rows build the same array from 1 and 7 partitions") {
    val df = words.toDF("w")
    for (s <- Sketch.all if partitioningInvariant(s.name)) {
      val one = df.coalesce(1).agg(s(col("w"))).head().getSeq[Any](0)
      val seven = df.repartition(7).agg(s(col("w"))).head().getSeq[Any](0)
      assert(one == seven, s.name)
    }
  }

  test("a SQL call with the wrong argument count fails with WRONG_NUM_ARGS") {
    for (s <- Sketch.all) {
      val args = Seq.fill(s.inputTypes.size + 1)("v").mkString(", ")
      val ex = intercept[AnalysisException] {
        spark.sql(s"SELECT ${s.name}($args) FROM VALUES (1L) AS t(v)").collect()
      }
      assert(ex.getCondition.startsWith("WRONG_NUM_ARGS"), s"${s.name}: ${ex.getMessage}")
    }
  }
}
