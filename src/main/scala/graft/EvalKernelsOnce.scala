package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AliasHelper, And, Attribute, AttributeSet, ConditionalExpression, Expression, HigherOrderFunction, NamedExpression, NamedLambdaVariable, Or, PredicateHelper, SubqueryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DataType

/**
 * Evaluates each repeated graft kernel call (an expression whose class
 * lives in `graft.functions`) once per row. Filter pushdown inlines a
 * projected kernel result into every predicate term that reads it, and
 * codegen runs every copy (gopher_gate's Filter held 14 GopherStats
 * calls); Spark's common-expression rewrite splits one projection over
 * two Projects that each call the kernel.
 *
 * For each run of Projects and the node under it, a call read more than
 * once is computed in a new Project, wrapped in [[Hoisted]], and every
 * reader takes its attribute. Under a Filter, kernel-free conjuncts go
 * below the new Project (scan pushdown is unchanged) and the others are
 * walked in order: a call one of them evaluates on every row (outside
 * AND/OR's right side, CASE/IF/COALESCE branches but the first, and
 * lambdas) moves over a Filter of the conjuncts before it, so no row
 * runs a kernel it did not run before; a call only behind such a guard
 * stays. Then a call the lowest Project evaluates on every row moves
 * under it. Nested calls move innermost first, one Project per level.
 *
 * A pre-CBO rule ([[GraftExtensions]]): it runs after the fixed-point
 * pushdown batch, which would inline the new attribute straight back.
 */
object EvalKernelsOnce extends Rule[LogicalPlan] with PredicateHelper with AliasHelper {

  def isKernel(e: Expression): Boolean = e.getClass.getName.startsWith("graft.functions.")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.expressions.exists(_.exists(isKernel)))) plan
    else plan.transformDown {
      case p: Project =>
        val (chain, below) = projectsOver(p)
        rewrite(chain, below).getOrElse(p)
      case f: Filter => rewrite(Nil, f).getOrElse(f)
    }

  /** The unbroken run of Projects from `p` down, and the node under it. */
  private def projectsOver(p: LogicalPlan): (List[Project], LogicalPlan) = p match {
    case q: Project => val (chain, below) = projectsOver(q.child); (q :: chain, below)
    case other => (Nil, other)
  }

  /** `chain` over `below` with its repeated kernel calls evaluated once,
   *  or None when nothing moves. Each Project of the chain below the
   *  top passes the hoisted attributes up; with no chain, a new top
   *  Project keeps the Filter's output. */
  private def rewrite(chain: List[Project], below: LogicalPlan): Option[LogicalPlan] = {
    var lists: Seq[Seq[NamedExpression]] =
      if (chain.isEmpty) Seq(below.output) else chain.map(_.projectList)
    var hoisted = Seq.empty[Attribute]
    var rest = Seq.empty[Expression]

    /** `e` of list `i` over the lowest Project's input: a call on a column
     *  a lower Project computes is that computation's call. */
    def inlined(e: Expression, i: Int): Expression =
      lists.drop(i + 1).foldLeft(e) { (x, list) =>
        replaceAlias(x, getAliasMap(list.filterNot(_.exists(_.isInstanceOf[Hoisted]))))
      }
    def everyCall: Seq[Expression] =
      rest ++ lists.zipWithIndex.flatMap { case (list, i) => list.map(inlined(_, i)) }

    /** `base` under one new Project per nesting level of the `first`
     *  calls, with `rest` and `lists` reading their attributes. */
    def lift(base: LogicalPlan, first: => Seq[Expression]): LogicalPlan = {
      var top = base
      var level = hoistable(first, everyCall, top.outputSet)
      while (level.nonEmpty) {
        val aliases = level.map(k => Alias(Hoisted(k), "kernel")())
        def read(e: Expression, inline: Expression => Expression) = e.transformDown {
          case k if isKernel(k) => aliases
            .find(_.child.children.head.semanticEquals(inline(k))).fold(k)(_.toAttribute)
        }
        rest = rest.map(read(_, identity))
        lists = lists.zipWithIndex.map { case (list, i) =>
          list.map(read(_, inlined(_, i)).asInstanceOf[NamedExpression])
        }
        hoisted ++= aliases.map(_.toAttribute)
        top = Project(top.output ++ aliases, top)
        level = hoistable(first, everyCall, top.outputSet)
      }
      top
    }

    def filter(conjuncts: Seq[Expression], child: LogicalPlan): LogicalPlan =
      if (conjuncts.isEmpty) child else Filter(conjuncts.reduce(And), child)
    val filtered = below match {
      case f: Filter if f.condition.deterministic =>
        val (free, reads) = splitConjunctivePredicates(f.condition)
          .partition(!_.exists(isKernel))
        var base = filter(free, f.child)
        var passed = Seq.empty[Expression]
        rest = reads
        while (rest.nonEmpty) {
          val guarded = filter(passed, base)
          val lifted = lift(guarded, rest.take(1))
          if (lifted ne guarded) {
            base = lifted
            passed = Nil
          }
          passed :+= rest.head
          rest = rest.tail
        }
        filter(passed, base)
      case other => other
    }
    val lifted = lift(filtered, if (chain.isEmpty) Nil else lists.last)
    if (hoisted.isEmpty) None
    else Some(lists.zipWithIndex.foldRight(lifted) { case ((list, i), child) =>
      Project(if (i == 0) list else list ++ hoisted, child)
    })
  }

  /** The innermost kernel calls that `first` evaluates on every row and
   *  that `all` reads at least twice. */
  private def hoistable(first: Seq[Expression], all: Seq[Expression],
      available: AttributeSet): Seq[Expression] = {
    val copies = all
      .flatMap(_.collect { case k if isKernel(k) => k.canonicalized })
      .groupBy(identity).view.mapValues(_.size).toMap
    val repeated = first.flatMap(alwaysEvaluated)
      .filter(k => copies.getOrElse(k.canonicalized, 0) > 1 && k.deterministic &&
        k.references.subsetOf(available) && !k.exists(e =>
          e.isInstanceOf[NamedLambdaVariable] || e.isInstanceOf[SubqueryExpression]))
    val distinct = repeated.groupBy(_.canonicalized).values.map(_.head).toSeq
    distinct.filterNot(k => distinct.exists(o =>
      (o ne k) && k.children.exists(_.exists(_.semanticEquals(o)))))
  }

  /** Kernel calls in `e` that every evaluation of `e` runs. */
  private def alwaysEvaluated(e: Expression): Seq[Expression] = {
    val inner = e match {
      case b @ (_: And | _: Or) => alwaysEvaluated(b.children.head)
      case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(alwaysEvaluated)
      case h: HigherOrderFunction => h.arguments.flatMap(alwaysEvaluated)
      case other => other.children.flatMap(alwaysEvaluated)
    }
    if (isKernel(e)) e +: inner else inner
  }

  /** `child`, evaluated where it stands: it reports itself
   *  non-deterministic, so no later pushdown or project collapse (in
   *  the optimizer or in scan planning) copies it back into readers. */
  case class Hoisted(child: Expression) extends UnaryExpression {
    override lazy val deterministic: Boolean = false
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def eval(input: InternalRow): Any = child.eval(input)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      child.genCode(ctx)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
