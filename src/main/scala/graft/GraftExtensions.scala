package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Expression, ExpressionInfo, If, Least, Literal, RLike}
import org.apache.spark.sql.graft.ErrorBridge
import org.apache.spark.sql.types.IntegerType
import graft.functions.{ChunkText, CmsSketchAgg, HllSketchAgg, Kernel, KmvSketchAgg, QdigestSketchAgg, QdigestSketchWeightedAgg}

/** SQL surface of the engine's custom pieces, registered through
  * SparkSessionExtensions (spark.sql.extensions-compatible, so a
  * cluster deployment gets them via config; local sessions use
  * `.withExtensions(new GraftExtensions)`).
  *
  * The functions are [[GraftExtensions.functions]]: every
  * [[graft.functions.Kernel]] row with a usage line (its usage string is
  * the function's documentation, `DESCRIBE FUNCTION` prints it), the
  * five native sketch aggregates, the `chunk_text` generator and
  * `score_link`. Each is registered with its arity, and a call with any
  * other argument count fails analysis with WRONG_NUM_ARGS.
  *
  * Planner surface: [[graft.plans.GroupTopKStrategy]] (round 3) plans
  * the native [[graft.plans.GroupTopK]] top-k-per-group operator —
  * bounded per-group heaps, O(n log k), instead of the full window
  * sort.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughGroupTopK)
    // transparent rewrite: Filter(rn<=k, Window(row_number)) → GroupTopK,
    // so the standard DataFrame top-k idiom gets the heap plan for free
    e.injectOptimizerRule(_ => graft.plans.RewriteRankFilterToGroupTopK)

    GraftExtensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo("graft", null, f.name, f.usage, ""),
        (exprs: Seq[Expression]) => {
          if (exprs.size != f.arity)
            throw ErrorBridge.wrongNumArgs(f.name, f.arity, exprs.size)
          f.build(exprs)
        }))
    }
  }
}

object GraftExtensions {
  /** One SQL function: name, usage line, arity and its builder over
    * exactly `arity` argument expressions.
    */
  final case class SqlFunction(name: String, usage: String, arity: Int,
      build: Seq[Expression] => Expression)

  val functions: Seq[SqlFunction] =
    Kernel.all.flatMap(k => k.usage.map(u =>
      SqlFunction(k.name, u, k.inputTypes.size, args => k.call(args)))) ++ Seq(
      SqlFunction("chunk_text",
        "chunk_text(body, size, overlap) - overlapping chunks", 3,
        a => ChunkText(a(0), a(1), a(2))),
      SqlFunction("score_link",
        "score_link(url, anchor, context, topic) - relevance 0-10", 4,
        scoreLink),
      SqlFunction("cms_sketch",
        "cms_sketch(word) - d=4 x w=256 Count-Min sketch cells (aggregate)", 1,
        a => CmsSketchAgg(a(0))),
      SqlFunction("hll_sketch",
        "hll_sketch(v) - p=12 HyperLogLog register file (aggregate, 4096 bytes)", 1,
        a => HllSketchAgg(a(0))),
      SqlFunction("kmv_sketch",
        "kmv_sketch(v) - bottom-k (k=1024) distinct-hash set sketch (aggregate)", 1,
        a => KmvSketchAgg(a(0))),
      SqlFunction("qdigest_sketch",
        "qdigest_sketch(v) - q-digest quantile sketch over [0, 2^16) (aggregate)", 1,
        a => QdigestSketchAgg(a(0))),
      SqlFunction("qdigest_sketch_w",
        "qdigest_sketch_w(v, w) - mass-weighted q-digest (aggregate)", 2,
        a => QdigestSketchWeightedAgg(a(0), a(1))))

  /** X1 relevance as a raw catalyst tree (a Column-built tree would
    * arrive unresolved through the function-registry path); mirrors
    * Urls.scoreLink.
    */
  private def scoreLink(a: Seq[Expression]): Expression = {
    def hit(e: Expression, pts: Int): Expression =
      If(RLike(e, a(3)), Literal(pts), Literal(0))
    Cast(Least(Seq(Literal(10),
      Add(Add(hit(a(0), 3), hit(a(1), 5)), hit(a(2), 2)))),
      IntegerType)
  }
}
