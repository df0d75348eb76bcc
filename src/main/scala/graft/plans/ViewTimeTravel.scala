package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.TimestampType

import graft.sources.GraftTable

/** SQL time travel for REGISTERED SNAPSHOT VIEWS (r20) — the
  * [[graft.core.KVIndex.createOrReplaceView]] surface gets the same
  * `FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF t` the catalog tables
  * have ([[graft.sources.GraftCatalog.loadTable]]).
  *
  * Spark's analyzer refuses time travel on temp views outright, so the
  * clause can never reach an optimizer rule — instead the statement is
  * intercepted at PARSE time ([[graft.sources.GraftSqlParser]] hands every
  * delegate-parsed plan through [[rewrite]]): a `RelationTimeTravel` whose
  * single-part name is a temp view whose plan IS a graft table relation
  * (what `createOrReplaceView` registers) is replaced by the relation of
  * the same index pinned at the floored snapshot
  * ([[graft.sources.GraftTable.asOf]], the catalog's own floor). The view
  * plan is the registry: a name rebound to any other frame keeps Spark's
  * own refusal, and a manifest-log floor lookup reads NO data files.
  */
object ViewTimeTravel {

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft view time travel: $msg")

  /** The graft table a temp view's plan is, if it is one. */
  private def viewTable(spark: SparkSession, name: String): Option[GraftTable] =
    spark.sessionState.catalog.getRawTempView(name).flatMap(_.plan)
      .map(EliminateSubqueryAliases(_)).collect {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          r.table.asInstanceOf[GraftTable]
      }

  /** Splice time-traveled view relations into a freshly parsed plan;
    * identity when the plan carries no time-travel clause on a graft view.
    */
  def rewrite(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    if (spark == null) return plan
    // WithSubqueries: a time-traveled view inside IN (SELECT …) / EXISTS
    // lives in a subquery expression a plain transform never visits
    plan.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, tsOpt, verOpt)
          if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        viewTable(spark, name).fold(tt: LogicalPlan) { t =>
          val at = verOpt.map(Left(_)).getOrElse(Right(micros(spark, name,
            tsOpt.getOrElse(fail(s"no timestamp or version on view '$name'")))))
          SubqueryAlias(name, DataSourceV2Relation.create(
            GraftTable.asOf(t.storeRef, t.manifestRef.id, at), None, None))
        }
    }
  }

  /** The instant of a `TIMESTAMP AS OF` expression, in microseconds. */
  private def micros(spark: SparkSession, name: String,
                     e: org.apache.spark.sql.catalyst.expressions.Expression): Long = {
    // the same evaluation contract as Spark's own TimeTravelSpec: a
    // foldable expression cast to TIMESTAMP in the session timezone.
    // An unresolved FUNCTION call (timestamp_millis(...), make_date(...))
    // resolves through a nested one-row analysis so the view path
    // accepts the same instants the catalog path does; anything that
    // still cannot fold-and-evaluate at parse time (current_timestamp()
    // and friends) gets the literal-spelling refusal instead of
    // mis-evaluating.
    val resolved =
      if (e.resolved) e
      else try {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
        spark.sessionState.analyzer.execute(
          Project(Seq(Alias(e, "__graft_ts")()), OneRowRelation())) match {
          case Project(Seq(a: Alias), _) => a.child
          case other => fail(
            s"TIMESTAMP AS OF on view '$name': '${e.sql}' resolved to an " +
              s"unexpected shape ($other)")
        }
      } catch {
        case ae: org.apache.spark.sql.AnalysisException => fail(
          s"TIMESTAMP AS OF on view '$name': '${e.sql}' does not resolve " +
            s"— ${ae.getMessage}")
      }
    if (!resolved.foldable) fail(
      s"TIMESTAMP AS OF on view '$name' needs a literal timestamp " +
        s"expression, got '${e.sql}' — spell the instant out")
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val v =
      try Cast(resolved, TimestampType, Some(tz)).eval(null)
      catch {
        case _: UnsupportedOperationException => fail(
          s"TIMESTAMP AS OF on view '$name' needs a literal timestamp " +
            s"expression, got '${e.sql}' — it cannot evaluate at parse time")
      }
    if (v == null) fail(
      s"TIMESTAMP AS OF on view '$name': '${e.sql}' does not parse as a timestamp")
    v.asInstanceOf[Long]
  }
}
