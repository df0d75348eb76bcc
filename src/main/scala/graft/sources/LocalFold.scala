package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BindReferences, Expression, IntegerLiteral, Literal, PlanExpression, Predicate}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.AggregatingAccumulator
import org.apache.spark.sql.graft.Shim

/** Catalog SQL answered on the driver: the rows a rewrite or the scan
  * splice decoded there ([[graft.core.LocalScan]]) are a `LocalRelation`
  * marked by [[mark]], and the plan above it folds into one more
  * `LocalRelation`, so the statement runs no Spark job.
  *
  * Spark's own `ConvertToLocalRelation` runs in a batch before graft's
  * rules, so it never sees these relations; it is applied here to each
  * projection, and a limit keeps its rows' prefix. A filter folds through
  * an interpreted predicate (the key literals change with every
  * statement, and a generated one would compile a class each time), a
  * union of local relations concatenates, and a group-less aggregate
  * folds through Spark's
  * `AggregatingAccumulator` (the evaluator behind `Observation`), which
  * interprets any declarative or imperative aggregate function with the
  * session's confs — an ANSI overflow raises the error Spark's aggregate
  * raises.
  */
private[sources] object LocalFold {
  private val Tag = TreeNodeTag[Unit]("graft.driverLocal")

  /** `l`, marked as rows graft decoded on the driver. */
  def mark(l: LocalRelation): LocalRelation = { l.setTagValue(Tag, ()); l }

  def marked(p: LogicalPlan): Boolean = p match {
    case l: LocalRelation => l.getTagValue(Tag).isDefined
    case _ => false
  }

  /** `p` folded bottom-up wherever every child of a node is a marked
    * relation; the result is one marked `LocalRelation` when all of `p`
    * folds.
    */
  def apply(p: LogicalPlan): LogicalPlan = p.transformUp {
    case n if n.children.nonEmpty && n.children.forall(marked) =>
      step(n) match {
        case l: LocalRelation => mark(l)
        case other => other
      }
  }

  /** Whether [[apply]] folds `n` once its children are local relations. */
  def folds(n: LogicalPlan): Boolean = n match {
    case Filter(cond, _) => !ConvertToLocalRelation.hasUnevaluableExpr(cond)
    case Project(list, _) => !list.exists(ConvertToLocalRelation.hasUnevaluableExpr)
    case LocalLimit(IntegerLiteral(_), _) | GlobalLimit(IntegerLiteral(_), _) => true
    case Aggregate(groups, exprs, _, _) => groups.isEmpty && exprs.forall(e =>
      e.deterministic && !e.exists(_.isInstanceOf[PlanExpression[_]]) &&
        e.collect { case ae: AggregateExpression => ae }.forall(ae =>
          !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
            case _: DeclarativeAggregate | _: ImperativeAggregate => true
            case _ => false
          })))
    case u: Union => !u.byName && !u.allowMissingCol
    case _ => false
  }

  private def step(n: LogicalPlan): LogicalPlan = n match {
    case _ if !folds(n) => n
    case Filter(cond, l: LocalRelation) =>
      val p = Predicate.createInterpreted(BindReferences.bindReference(cond, l.output))
      p.initialize(0)
      l.copy(data = l.data.filter(p.eval))
    case LocalLimit(IntegerLiteral(k), l: LocalRelation) => l.copy(data = l.data.take(k))
    case GlobalLimit(IntegerLiteral(k), l: LocalRelation) => l.copy(data = l.data.take(k))
    case a @ Aggregate(_, exprs, l: LocalRelation, _) =>
      val acc = AggregatingAccumulator(exprs, l.output)
      l.data.foreach(acc.add)
      LocalRelation(a.output, Seq(acc.value.copy()))
    case u: Union =>
      LocalRelation(u.output, u.children.flatMap(_.asInstanceOf[LocalRelation].data))
    case p: Project => ConvertToLocalRelation(p)
  }

  /** `conds`, which reference a scan relation's own output, as one
    * predicate over the snapshot schema's column names — the row test a
    * [[graft.core.LocalScan]] read applies during its decode.
    */
  def onSnapshot(conds: Seq[Expression]): Column =
    Shim.col(conds.reduceOption(And).getOrElse(Literal.TrueLiteral).transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
}
