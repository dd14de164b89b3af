package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.TypeBridge.AbstractType
import org.apache.spark.sql.types.DataType

/** One compiled per-row kernel: a static method on a Scala object plus
  * the Catalyst typing of its call. Every scalar kernel in this package
  * is one such row next to its static method, and a Column API function
  * that checks its int constants once, at build time. Never an
  * interpreted HOF in a hot path: the method holds the loop, and the
  * generated code calls it directly, so whole-stage codegen stays intact
  * around it.
  *
  * `inputTypes` are checked at analysis time: a mistyped SQL call fails
  * with an AnalysisException instead of a ClassCastException inside
  * generated code. A row with `usage` is registered as a SQL function by
  * [[graft.GraftExtensions]] under its `name`, with arity
  * `inputTypes.size`.
  *
  * `mayReturnNull` marks a method that returns null on some non-null
  * input (the MinHash kernels on an empty array). Every other kernel is
  * null-intolerant: null in, null out, the method never sees a null.
  * The flag feeds `nullable` and `nullIntolerant`, and through those the
  * `IsNotNull` constraints the optimizer infers, so it must describe the
  * method exactly.
  */
final case class Kernel(name: String, obj: Class[_], method: String,
    inputTypes: Seq[AbstractType], dataType: DataType,
    mayReturnNull: Boolean = false, usage: Option[String] = None) {

  /** The call node over `children`, with `consts` appended as Int
    * literals after them.
    */
  def call(children: Seq[Expression], consts: Seq[Int] = Nil): KernelCall =
    KernelCall(name, obj, method, inputTypes, dataType, mayReturnNull,
      consts, children)

  /** Column API: this kernel over `args`, then `consts`. */
  def apply(args: Column*)(consts: Int*): Column =
    ColumnBridge.column(call(args.map(ColumnBridge.expression), consts))
}

object Kernel {
  /** Every kernel row in this package: the SQL surface registers from
    * it, and the kernel spec evaluates each row interpreted and
    * compiled.
    */
  lazy val all: Seq[Kernel] = Seq(
    ShingleFunctions.kernels, QualityKernelFunctions.kernels,
    IntVecFunctions.kernels, VectorFunctions.kernels,
    GramClipFunctions.kernels, CmsSketchFunctions.kernels,
    HllSketchFunctions.kernels, KmvSketchFunctions.kernels,
    QdigestSketchFunctions.kernels, HtmlMainTextExpr.kernels,
    PdfExprs.kernels, UrlFunctions.kernels).flatten
}

/** The plan node of a [[Kernel]] call. It prints as the kernel's name
  * over its children and constants (`minhash_sigs(sh#1, 8)`), which is
  * what plan pins and plan diffs read; evaluation, interpreted and
  * compiled, is Spark's `StaticInvoke` of the method over the children
  * followed by the constants as literals. The delegate is rebuilt
  * whenever the children change (binding, rewrites), so it always reads
  * this node's children.
  */
case class KernelCall(name: String, obj: Class[_], method: String,
    inputTypes: Seq[AbstractType], dataType: DataType,
    mayReturnNull: Boolean, consts: Seq[Int], children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  @transient private lazy val invoke = StaticInvoke(obj, dataType, method,
    children ++ consts.map(Literal(_)), propagateNull = true,
    returnNullable = mayReturnNull)

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] =
    (children ++ consts).iterator
  override def nullable: Boolean = mayReturnNull || children.exists(_.nullable)
  override def nullIntolerant: Boolean = !mayReturnNull
  override def foldable: Boolean = children.forall(_.foldable)
  // the delegate's interpreted path fills one argument array per call,
  // so interpreted projections must take a fresh copy per use
  override def stateful: Boolean = true

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.doGenCode(ctx, ev)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

/** The one thread-local MD5 digest every md5-hashing kernel and sketch
  * in this package uses (callers reset it before each digest).
  */
private[functions] object Md5 {
  private val local = ThreadLocal.withInitial(() =>
    java.security.MessageDigest.getInstance("MD5"))

  def get(): java.security.MessageDigest = local.get()
}
