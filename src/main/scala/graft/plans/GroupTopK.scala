package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.IntegerType

/** Whole-operator extension tier (builder brief ladder (c)): a native
  * top-k-per-group operator — custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`, registered through `SparkSessionExtensions`
  * (GraftExtensions.injectPlannerStrategy).
  *
  * WHY a physical operator: Spark expresses "top k per group" as
  * row_number() over a window + filter. Spark 4's InferWindowGroupLimit
  * improves that plan (WindowGroupLimitExec drops rows beyond k per
  * group), but WindowGroupLimitExec REQUIRES SORTED INPUT — the
  * physical plan is Sort → WindowGroupLimit(partial) → exchange →
  * Sort → WindowGroupLimit(final) → Window: every input partition is
  * still fully sorted, O(n log n), before a single row is dropped
  * (verify with PlanDump on topk_per_lang). This operator keeps a
  * bounded k-row heap per group and never sorts beyond it — O(n log k)
  * with no Sort node at all, the same reason TakeOrderedAndProject
  * exists for the global-limit case. Reference semantics: T2/A5 top-N
  * reporting (commands/crawl.md report caps).
  *
  * Distribution contract instead of hand-planned shuffles: the exec
  * declares `ClusteredDistribution(groupCols)` and lets Spark insert
  * the hash exchange — so AQE, exchange reuse, and partition coalescing
  * all still apply. A map-side partial top-k (same heap before the
  * exchange, like partial aggregation) is the next refinement; the
  * correctness contract is identical.
  */
case class GroupTopK(
    groupCols: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  // rankAttr is CREATED here, not read from the child — without this the
  // analyzer's missing-input check rejects the plan
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

object GroupTopK {
  /** df grouped by `groupCols`, ordered inside each group by `order`
    * (must be a total order for determinism — add a tie-break), keeping
    * the best `k` rows per group plus a dense 1-based rank column.
    */
  def topK(df: DataFrame, groupCols: Seq[String], order: Seq[(String, Boolean)],
      k: Int, rankName: String = "rn"): DataFrame = {
    val child = df.queryExecution.analyzed
    def attr(n: String) = child.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n in ${child.output.map(_.name)}"))
    val sortOrders = order.map { case (n, asc) =>
      if (asc) SortOrder(attr(n), org.apache.spark.sql.catalyst.expressions.Ascending)
      else SortOrder(attr(n), org.apache.spark.sql.catalyst.expressions.Descending)
    }
    val rank = AttributeReference(rankName, IntegerType, nullable = false)()
    PlanBridge.ofRows(df.sparkSession,
      GroupTopK(groupCols.map(attr), sortOrders, k, rank, child))
  }
}

/** Optimizer rule (injectOptimizerRule): restore filter pushdown
  * through the custom node. Catalyst's PushDownPredicates only knows
  * built-in operators — without this rule any Filter above a GroupTopK
  * is stuck there and the predicate never reaches the parquet scan.
  * Pushing is safe exactly for conjuncts that reference ONLY group
  * columns: top-k within a group is independent of every other group,
  * so dropping whole groups before or after ranking is equivalent.
  * Conjuncts touching ranked/other columns stay above (they could
  * change which rows rank).
  */
object PushFilterThroughGroupTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, g: GroupTopK) =>
      val groupAttrs = AttributeSet(g.groupCols.flatMap(_.references))
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.references.nonEmpty && p.references.subsetOf(groupAttrs))
      if (push.isEmpty) f
      else {
        val pushed = g.copy(child = Filter(push.reduce(And), g.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner rule: GroupTopK → final GroupTopKExec over a map-side
  * PartialGroupTopKExec — the partial-aggregation trick applied to
  * top-k: each input partition pre-prunes to its local k best per
  * group BEFORE the exchange, so the shuffle carries at most
  * k × |groups| rows per map partition instead of every row. The final
  * exec then merges co-located survivors and assigns ranks. Correct
  * because per-group top-k is a semilattice: topk(A ∪ B) =
  * topk(topk(A) ∪ topk(B)).
  */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopK(g, o, k, rank, child) =>
      GroupTopKExec(g, o, k, rank,
        PartialGroupTopKExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side pre-prune: local k best per group per partition, no rank,
  * no distribution requirement (runs before the exchange the final
  * exec's ClusteredDistribution induces).
  */
case class PartialGroupTopKExec(
    groupCols: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): PartialGroupTopKExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val kk = k
    val childOutput = child.output
    val groupExprs = groupCols
    val sortOrders = order
    child.execute().mapPartitions({ iter =>
      val heaps = GroupTopKExec.topKHeaps(iter, groupExprs, sortOrders,
        childOutput, kk)
      // the exchange above this node consumes UnsafeRows — heap rows are
      // copies of whatever the child emitted, so re-project defensively
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      heaps.iterator.flatMap { case (_, heap) => heap.iterator.map(toUnsafe) }
    }, preservesPartitioning = true)
  }
}

case class GroupTopKExec(
    groupCols: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rankAttr)

  /** Groups must be co-located; Spark plans the exchange (or reuses an
    * existing compatible partitioning — e.g. after a groupBy on the
    * same keys there is NO extra shuffle).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupCols.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupCols) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val kk = k
    val childOutput = child.output
    val groupExprs = groupCols
    val sortOrders = order
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val heaps = GroupTopKExec.topKHeaps(iter, groupExprs, sortOrders,
        childOutput, kk)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      heaps.iterator.flatMap { case (_, heap) =>
        // dequeueAll yields worst-first; reverse to best-first for ranks
        val bestFirst: Seq[InternalRow] = heap.dequeueAll.reverse
        bestFirst.iterator.zipWithIndex.map { case (r, i) =>
          outProj(joined(r, new GenericInternalRow(Array[Any](i + 1))))
        }
      }
    }, preservesPartitioning = true)
  }
}

object GroupTopKExec {
  /** Shared heap builder for the partial and final phases: one pass over
    * `iter`, a bounded k-row max-heap per group. The heap keeps its
    * WORST element on top (max-heap under `order`: compare(a,b) < 0 ⇔
    * a ranks before b), so admission is an O(log k) peek-compare.
    */
  private[plans] def topKHeaps(
      iter: Iterator[InternalRow],
      groupExprs: Seq[Expression],
      order: Seq[SortOrder],
      childOutput: Seq[Attribute],
      k: Int): mutable.LinkedHashMap[InternalRow, mutable.PriorityQueue[InternalRow]] = {
    val groupProj = UnsafeProjection.create(groupExprs, childOutput)
    val ordering = GenerateOrdering.generate(order, childOutput)
    val heaps = mutable.LinkedHashMap.empty[InternalRow, mutable.PriorityQueue[InternalRow]]
    while (iter.hasNext) {
      val row = iter.next()
      val key = groupProj(row)
      val heap = heaps.getOrElse(key, null) match {
        case null =>
          val h = mutable.PriorityQueue.empty[InternalRow](ordering)
          heaps.put(key.copy(), h)
          h
        case h => h
      }
      if (heap.size < k) heap.enqueue(row.copy())
      else if (ordering.compare(row, heap.head) < 0) {
        heap.dequeue(); heap.enqueue(row.copy())
      }
    }
    heaps
  }
}

/** Optimizer rule (injectOptimizerRule): transparently rewrite the
  * universal top-k-per-group idiom —
  *
  *   Filter(rn <= k, Window(row_number() over (partition by g order by o)))
  *
  * — into the native [[GroupTopK]] operator, so EVERY query written
  * with the standard DataFrame pattern gets the bounded-heap physical
  * plan (no Sort, map-side partial pruning) without opting in. This is
  * the extension-tier counterpart of Spark's own InferWindowGroupLimit:
  * that rule still fully sorts each partition below
  * WindowGroupLimitExec; this one removes the Window node entirely.
  *
  * Fires only when the rewrite is exactly semantics-preserving:
  *  - the Window computes a SINGLE row_number expression (anything
  *    else still needs WindowExec),
  *  - the partition spec is non-empty (a global row_number is the
  *    serial case GroupTopK refuses by design) and an order exists,
  *  - the filter contains a conjunct bounding rn from above by a
  *    positive int literal (rn <= k, rn < k, k >= rn, k > rn, rn = 1).
  * Bound conjuncts are absorbed by k (the smallest bound wins, so
  * rn <= 5 AND rn <= 3 → k = 3); all other conjuncts — including
  * further rn predicates like rn >= 2 — stay in a Filter above, which
  * is correct because GroupTopK emits exactly the rows with final
  * rank 1..k with their rank values. The row_number output attribute
  * is REUSED as the GroupTopK rank attribute, so downstream references
  * resolve unchanged. If Spark's InferWindowGroupLimit ran first, its
  * WindowGroupLimit child is stripped (the heap subsumes the
  * pre-prune).
  */
object RewriteRankFilterToGroupTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo,
    GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal,
    RowNumber, WindowExpression}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window, WindowGroupLimit}
  import org.apache.spark.sql.types.IntegerType

  private def boundOf(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType))
      if a.semanticEquals(rn) => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(k)
    case GreaterThan(Literal(k: Int, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(k - 1)
    case EqualTo(a: Attribute, Literal(1, IntegerType))
      if a.semanticEquals(rn) => Some(1)
    case EqualTo(Literal(1, IntegerType), a: Attribute)
      if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, w: Window)
        if w.partitionSpec.nonEmpty && w.orderSpec.nonEmpty =>
      w.windowExpressions match {
        case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) =>
          val rn = a.toAttribute
          val conjuncts = splitConjunctivePredicates(cond)
          val bounds = conjuncts.flatMap(c => boundOf(c, rn))
          if (bounds.isEmpty || bounds.min <= 0) f
          else {
            val child = w.child match {
              case wgl: WindowGroupLimit => wgl.child
              case c => c
            }
            val topk = GroupTopK(w.partitionSpec, w.orderSpec, bounds.min, rn, child)
            val keep = conjuncts.filter(c => boundOf(c, rn).isEmpty)
            keep.reduceOption(And).map(Filter(_, topk)).getOrElse(topk)
          }
        case _ => f
      }
  }
}
