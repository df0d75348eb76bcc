package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning, PushDownPredicates}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans.{DeclareOrderedStrategy, PruneSnapshotFiles, PushThroughDeclareOrdered}

/** The one installation path of graft's Catalyst rules and planner
  * strategies. Every entry point — a library read that declares an order
  * or cuts legs, a catalog table, a graft SQL statement — calls
  * [[install]], which sets the complete ordered lists at once, so the
  * order never depends on which path a session reached first.
  *
  * The rules live in `spark.experimental.extraOptimizations`: Spark runs
  * that list as the "User Provided Optimizers" batch, the only
  * fixed-point batch after V2 scan push-down, and the rewrites match
  * `DataSourceV2ScanRelation`, which `injectOptimizerRule`'s batch never
  * sees.
  */
object GraftRules {

  val strategies: Seq[SparkStrategy] = Seq(DeclareOrderedStrategy, GraftDmlStrategy)

  val optimizations: Seq[Rule[LogicalPlan]] = Seq(
    GraftOrderedScan,
    // the AS-OF idiom runs BEFORE the join rule: it matches the strictly
    // larger Filter(rn=1, Window(join)) fragment and must see it before
    // the join rule could consume the join underneath
    GraftAsOfIdiom,
    GraftCoRangeJoin,
    // group-less aggregates belong to the count-range rule; the
    // prefix-cluster rewrite requires a non-empty grouping and runs after
    GraftCountRange,
    GraftPrefixCluster,
    PushThroughDeclareOrdered,
    // stock rules re-run in the same fixed-point batch: the marker
    // commutes above only EXPOSE pushdown opportunities — these carry the
    // predicate / narrow schema the rest of the way down the stitch into
    // the parquet scans
    PushDownPredicates,
    ColumnPruning,
    CollapseProject,
    PruneSnapshotFiles)

  /** Idempotent: appends graft's lists after any entries of other
    * libraries, once.
    */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.containsSlice(strategies))
        x.extraStrategies = x.extraStrategies.filterNot(strategies.contains) ++ strategies
      if (!x.extraOptimizations.containsSlice(optimizations))
        x.extraOptimizations =
          x.extraOptimizations.filterNot(optimizations.contains) ++ optimizations
    }
  }
}
