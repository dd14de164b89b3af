package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Compiled float-vector dot product.
  *
  * The declarative form — aggregate(zip_with(a, b, *), 0.0, +) — is
  * semantically right but HigherOrderFunctions evaluate INTERPRETED
  * (CodegenFallback): per element that is an expression-tree walk plus
  * boxing, and inside a join condition it dominated the similarity
  * queries' runtime. This static method is one tight primitive loop that
  * generated code calls directly: same left-to-right double accumulation
  * over float→double widened products, so results are bit-identical to
  * the declarative form AND to the DuckDB oracle's sum(x*y) over
  * unnested pairs.
  */
object VectorOps {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

object VectorFunctions {
  private val Dot = Kernel("dot_product", VectorOps.getClass, "dot",
    Seq(ArrayType(FloatType), ArrayType(FloatType)), DoubleType,
    usage = Some("dot_product(a, b) - float-vector dot product"))

  val kernels: Seq[Kernel] = Seq(Dot)

  /** Column API for the compiled dot product over array<float>. */
  def dotF(a: Column, b: Column): Column = Dot(a, b)()

  def normF(a: Column): Column = sqrt(dotF(a, a))
}
