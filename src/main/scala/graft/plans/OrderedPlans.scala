package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graft.Shim

/** Makes the snapshot layout's order VISIBLE to Catalyst.
  *
  * `KVIndex.inOrdered` stitches per-file scans in manifest order, which is
  * already the global key order with no exchange — but to Catalyst the
  * stitched union is unordered, so a downstream `orderBy(key)` would
  * re-sort (and re-shuffle) data that is already ordered. [[DeclareOrdered]]
  * is a zero-cost marker node whose physical twin re-emits its child's
  * rows unchanged while DECLARING the ordering — the flat-layout analogue
  * of the reference tree's intrinsically ordered iteration surface
  * (reference `Index.scala:583-664`), expressed through Spark's own
  * `outputOrdering`/`outputPartitioning` contract so the stock
  * `EnsureRequirements` + `RemoveRedundantSorts` rules elide the sort.
  *
  * Safety: [[ManifestOrderedPartitioning]] satisfies ONLY
  * `OrderedDistribution` (what a global sort requires). It deliberately
  * does NOT satisfy `ClusteredDistribution`, so a join between two
  * declared-ordered frames still plans its exchanges — two snapshots'
  * file boundaries are not co-partitioned, and claiming otherwise would
  * zip mismatched partitions and corrupt join results.
  */
final case class DeclareOrdered(child: LogicalPlan, ordering: Seq[SortOrder])
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): DeclareOrdered =
    copy(child = newChild)
}

/** Partition-ordered range layout: partition i holds keys strictly below
  * partition i+1 (manifest-disjoint files), rows sorted within. Enough for
  * `OrderedDistribution`; nothing else.
  */
final case class ManifestOrderedPartitioning(ordering: Seq[SortOrder],
                                             numPartitions: Int) extends Partitioning {
  override def satisfies0(required: Distribution): Boolean = required match {
    case OrderedDistribution(req) => SortOrder.orderingSatisfies(ordering, req)
    case _ => super.satisfies0(required)
  }
}

/** The CLUSTERED twin of [[DeclareOrdered]], for leg plans cut at
  * PREFIX-GROUP boundaries ([[graft.core.KVIndex.probeLegPlans]] with
  * `kl = prefix length`): no two rows sharing the prefix sit in different
  * partitions, and partitions ascend at FULL-KEY grain (a cut at the
  * prefix is a degenerate full-key cut). The physical twin claims
  * [[PrefixRangePartitioning]] so a GROUP BY / Window PARTITION BY on
  * (a superset of) the `clusterOrdering` prefix elides its hash exchange
  * and an ORDER BY on any prefix of `rangeOrdering` elides its global
  * sort's exchange — both by SEMANTIC comparison (the stock
  * `RangePartitioning.satisfies0` answers `OrderedDistribution` by EXACT
  * SortOrder equality, qualifier included, which a rewrite claiming
  * relation attributes against consumer-qualified references can never
  * meet reliably). Intra-partition order is NOT claimed (a raw
  * `readFiles` leg concatenates files in the reader's size-packed
  * order), so sorts above run locally. Joins above stay SAFE the same
  * way the zip join's claim does: the partitioning hands
  * EnsureRequirements a `RangeShuffleSpec`, compatible with nothing, so
  * a join always replans its own exchanges. Rests on the engine's
  * non-null key contract.
  */
final case class DeclareRangeLaid(child: LogicalPlan,
                                  clusterOrdering: Seq[SortOrder],
                                  rangeOrdering: Seq[SortOrder]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): DeclareRangeLaid =
    copy(child = newChild)
}

/** Partition layout of prefix-grain legs: equal `clusterOrdering`-prefix
  * rows share a partition (boundaries are cut at that grain), and
  * partitions ascend by the full `rangeOrdering` (cross-partition order
  * is decided at the prefix already, so every longer prefix of the key
  * list ranges too). Satisfies `ClusteredDistribution` whose clustering
  * covers the prefix, and `OrderedDistribution` over any prefix of
  * `rangeOrdering` — both semantically.
  */
final case class PrefixRangePartitioning(clusterOrdering: Seq[SortOrder],
                                         rangeOrdering: Seq[SortOrder],
                                         numPartitions: Int) extends Partitioning {
  override def satisfies0(required: Distribution): Boolean = required match {
    case OrderedDistribution(req) =>
      SortOrder.orderingSatisfies(rangeOrdering, req)
    case c: org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution =>
      // honor spark.sql.requireAllClusterKeysForDistribution: the user is
      // forcing exact-key distribution (skew mitigation) — a prefix-grain
      // claim that covers only SOME cluster keys must stand aside even
      // though its co-location is semantically valid
      (!c.requireAllClusterKeys || c.clustering.forall(ck =>
        clusterOrdering.exists(_.child.semanticEquals(ck)))) &&
      clusterOrdering.forall(so =>
        c.clustering.exists(_.semanticEquals(so.child)))
    case _ => super.satisfies0(required)
  }
  override def createShuffleSpec(
      distribution: org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution)
      : org.apache.spark.sql.catalyst.plans.physical.ShuffleSpec =
    org.apache.spark.sql.catalyst.plans.physical.RangeShuffleSpec(
      numPartitions, distribution)
}

final case class DeclareRangeLaidExec(child: SparkPlan,
                                      clusterOrdering: Seq[SortOrder],
                                      rangeOrdering: Seq[SortOrder])
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = Nil
  override def outputPartitioning: Partitioning =
    PrefixRangePartitioning(clusterOrdering, rangeOrdering,
      child.outputPartitioning.numPartitions)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def supportsColumnar: Boolean = child.supportsColumnar
  override protected def doExecuteColumnar(): RDD[org.apache.spark.sql.vectorized.ColumnarBatch] =
    child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): DeclareRangeLaidExec =
    copy(child = newChild)
}

final case class DeclareOrderedExec(child: SparkPlan, ordering: Seq[SortOrder])
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = ordering
  override def outputPartitioning: Partitioning =
    ManifestOrderedPartitioning(ordering, child.outputPartitioning.numPartitions)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def supportsColumnar: Boolean = child.supportsColumnar
  override protected def doExecuteColumnar(): RDD[org.apache.spark.sql.vectorized.ColumnarBatch] =
    child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): DeclareOrderedExec =
    copy(child = newChild)
}

/** Defeats Spark 4's union partition FUSION for the stitched leg unions.
  *
  * Since SPARK-48245, `UnionExec` whose children all report the same
  * partitioning executes as a `SQLPartitioningAwareUnionRDD` that zips
  * partition i ACROSS children — a union of `coalesce(1)` legs (the
  * manifest stitch, the co-range join legs) therefore collapses to ONE
  * task running every leg sequentially: correct (children are visited in
  * order) but serial, the opposite of the one-task-per-leg layout the
  * leg construction exists to produce. This passthrough reports
  * `UnknownPartitioning`, which sends the parent union down its plain
  * concatenating branch: partition i = leg i, one task each. Rows,
  * ordering and columnar support pass through untouched.
  */
final case class UnfuseUnion(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): UnfuseUnion =
    copy(child = newChild)
}

final case class UnfuseUnionExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def outputPartitioning: Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
      child.outputPartitioning.numPartitions)
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def supportsColumnar: Boolean = child.supportsColumnar
  override protected def doExecuteColumnar(): RDD[org.apache.spark.sql.vectorized.ColumnarBatch] =
    child.executeColumnar()
  override protected def withNewChildInternal(newChild: SparkPlan): UnfuseUnionExec =
    copy(child = newChild)
}

object DeclareOrderedStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DeclareOrdered =>
      DeclareOrderedExec(planLater(d.child), d.ordering) :: Nil
    case DeclareRangeLaid(child, po, ro) =>
      DeclareRangeLaidExec(planLater(child), po, ro) :: Nil
    case UnfuseUnion(child) =>
      UnfuseUnionExec(planLater(child)) :: Nil
    case g: GrowPrefixTopK =>
      GrowPrefixTopKExec(g.limit, planLater(g.child)) :: Nil
    case ZipPartitionsJoin(l, r, lk, rk, jt, cl, cr) =>
      ZipPartitionsJoinExec(planLater(l), planLater(r), lk, rk, jt, cl, cr) :: Nil
    case AsOfZipJoin(l, r, le, re, lt, rt, lrs, rrs, lo, st, tol) =>
      AsOfZipJoinExec(planLater(l), planLater(r), le, re, lt, rt, lrs, rrs,
        lo, st, tol) :: Nil
    case _ => Nil
  }
}

/** Filter pushdown THROUGH the ordering declaration. [[DeclareOrdered]] is
  * a custom logical node, so the stock `PushDownPredicates` stops at it —
  * a filter a consumer stacks on `inOrdered()` (or a SQL predicate above
  * an ordered catalog scan's stitch) would otherwise evaluate ABOVE the
  * scans, reading every snapshot byte. A filter cannot change the
  * per-partition order, so it commutes freely with the declaration; this
  * rule swaps them, and the companion stock `PushDownPredicates` instance
  * registered alongside it (same fixed-point batch) carries the predicate
  * on down through the Sort/Coalesce/Union stitch to the parquet relations,
  * where physical planning turns it into `PushedFilters`.
  */
object PushThroughDeclareOrdered
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Attribute
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, d: DeclareOrdered) if cond.deterministic =>
      d.copy(child = Filter(cond, d.child))
    // the clustered marker commutes identically: a filter changes neither
    // the per-partition order nor which partition a surviving row sits in
    case Filter(cond, DeclareRangeLaid(child, co, ro)) if cond.deterministic =>
      DeclareRangeLaid(Filter(cond, child), co, ro)
    // projections: the marker survives only while every CLUSTER-ordering
    // attribute is still projected (the claim would otherwise dangle); the
    // range ordering trims to its longest surviving prefix
    case Project(ps, DeclareRangeLaid(child, co, ro)) if ps.forall(_.deterministic) =>
      val kept = ps.collect { case a: Attribute => a.exprId }.toSet
      def survives(so: SortOrder): Boolean = so.child match {
        case a: Attribute => kept.contains(a.exprId)
        case _ => false
      }
      if (co.forall(survives))
        DeclareRangeLaid(Project(ps, child), co, ro.takeWhile(survives))
      else Project(ps, child)
    // a filter cannot change partitioning either, so it commutes with the
    // per-leg union-fusion breaker the same way — without this, a
    // predicate pushed through the stitch Union would STOP at each leg's
    // marker instead of reaching the parquet scans
    case Filter(cond, UnfuseUnion(child)) if cond.deterministic =>
      UnfuseUnion(Filter(cond, child))
    // PROJECTIONS commute too — the column-pruning twin of the filter
    // cases. The stock ColumnPruning stops at every custom node, so a
    // `SELECT two, cols ... ORDER BY k` stitch would otherwise read every
    // column of every leg's parquet scan; pushing the Project below the
    // markers lets the stock rules carry the narrow schema into the
    // scans (`ReadSchema`). Neither marker computes anything, so the
    // rewrite is behavior-free; for the ordering declaration the marker
    // only survives when every ordering attribute is still projected —
    // otherwise no downstream ORDER BY on the key can resolve anyway,
    // and the declaration is dropped with nothing to elide.
    case Project(ps, UnfuseUnion(child)) if ps.forall(_.deterministic) =>
      UnfuseUnion(Project(ps, child))
    case Project(ps, d: DeclareOrdered) if ps.forall(_.deterministic) =>
      val kept = ps.collect { case a: Attribute => a.exprId }.toSet
      def survives(so: SortOrder): Boolean = so.child match {
        case a: Attribute => kept.contains(a.exprId)
        case _ => false
      }
      val surviving = d.ordering.takeWhile(survives)
      if (surviving.length == d.ordering.length)
        d.copy(child = Project(ps, d.child))
      // a SURVIVING PREFIX is still a valid cross-partition claim (an
      // ORDER BY g above a (g, k) stitch elides)
      else if (surviving.nonEmpty)
        d.copy(child = Project(ps, d.child), ordering = surviving)
      else Project(ps, d.child)
    // through the co-range ZIP JOIN as well: the node is custom, so the
    // stock rules stop at it — `SELECT a.k, b.v FROM a JOIN b` would read
    // every column of BOTH snapshots' legs. A projection narrows each leg
    // to its referenced columns plus its join keys (the per-leg merge
    // needs them); the stock rules below then carry the narrow schema
    // through each leg's markers into the scans. Only fires while it
    // still narrows a side, so the fixed point terminates.
    case p @ Project(ps, ZipPartitionsJoin(l, r, lk, rk, jt, cl, cr))
        if ps.forall(_.deterministic) =>
      val refs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        ps.flatMap(_.references))
      // a coalesced pair whose output slot is unreferenced drops entirely
      // (keeping it would pin an unread column in BOTH legs' scans); key
      // pairs always stay — the merge and the layout claims need them
      val keepCoal = cl.zip(cr).filter { case (a, _) =>
        refs.contains(a) || lk.exists(_.exprId == a.exprId) }
      def needed(side: LogicalPlan, keys: Seq[Attribute]): Seq[Attribute] =
        side.output.filter(a => refs.contains(a) || keys.exists(_.exprId == a.exprId))
      val ln = needed(l, lk ++ keepCoal.map(_._1))
      // the right partners of surviving coalesced pairs are read by the
      // join's output projection even though they are not join output
      val rn = needed(r, rk ++ keepCoal.map(_._2))
      if (ln.length < l.output.length || rn.length < r.output.length ||
          keepCoal.length < cl.length)
        Project(ps, ZipPartitionsJoin(Project(ln, l), Project(rn, r), lk, rk, jt,
          keepCoal.map(_._1), keepCoal.map(_._2)))
      else p
    // the AS-OF zip join gets the same treatment: narrow each leg to its
    // referenced columns plus the merge's key columns (equi + ts + rest)
    case p @ Project(ps, j @ AsOfZipJoin(l, r, le, re, lt, rt, lrs, rrs, lo, st, tol))
        if ps.forall(_.deterministic) =>
      val refs = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        ps.flatMap(_.references))
      def needed(side: LogicalPlan, keep: Seq[Attribute]): Seq[Attribute] =
        side.output.filter(a => refs.contains(a) || keep.exists(_.exprId == a.exprId))
      val ln = needed(l, (le :+ lt) ++ lrs)
      val rn = needed(r, (re :+ rt) ++ rrs)
      if (ln.length < l.output.length || rn.length < r.output.length)
        Project(ps, AsOfZipJoin(Project(ln, l), Project(rn, r), le, re, lt, rt,
          lrs, rrs, lo, st, tol))
      else p
    // LEFT conjuncts slide into the left leg for both as-of types (the
    // output's left rows are a subset of the input's, and each left row's
    // match is derived from the RIGHT side alone, so dropping left rows
    // early changes nothing else). RIGHT conjuncts NEVER push: unlike an
    // equi join, filtering the right input can PROMOTE an earlier right
    // row to "latest match" — a right filter above the join removes rows,
    // below the join it rewrites matches.
    case f @ Filter(cond, AsOfZipJoin(l, r, le, re, lt, rt, lrs, rrs, lo, st, tol)) =>
      val lset = org.apache.spark.sql.catalyst.expressions.AttributeSet(l.output)
      val (lPush, rest) = graft.core.KeyRange.conjuncts(cond).partition(c =>
        c.deterministic && c.references.nonEmpty && c.references.subsetOf(lset))
      if (lPush.isEmpty) f
      else {
        import org.apache.spark.sql.catalyst.expressions.And
        val nl = Filter(lPush.reduce(And), l)
        val nj = AsOfZipJoin(nl, r, le, re, lt, rt, lrs, rrs, lo, st, tol)
        rest.reduceOption(And).map(Filter(_, nj)).getOrElse(nj)
      }
    // a deterministic conjunct referencing ONE side slides into that leg,
    // restoring scan-level evaluation (parquet PushedFilters / row-group
    // pruning) for the residual predicates above the join. Left conjuncts
    // push for every supported type (the output's left rows are a subset
    // of the input's, and a left-only conjunct evaluates identically on a
    // null-extended row); right conjuncts ONLY for INNER — filtering the
    // right input of a left-outer join turns matches into null-extensions
    // (and semi/anti outputs carry no right columns to reference).
    case f @ Filter(cond, ZipPartitionsJoin(l, r, lk, rk, jt, cl, cr)) =>
      val coal = cl.zip(cr)
      val lset = org.apache.spark.sql.catalyst.expressions.AttributeSet(l.output)
      val rset = org.apache.spark.sql.catalyst.expressions.AttributeSet(r.output)
      val cs = graft.core.KeyRange.conjuncts(cond)
      // a conjunct referencing ONLY coalesced KEY slots pushes to BOTH
      // sides (the partner substituted on the right): pair rows carry
      // equal keys, one-sided rows exactly the surviving side's — so
      // filtering both inputs drops precisely the output rows the
      // predicate drops, and the diff-then-filter pattern evaluates its
      // key bound at the leg scans (parquet pushdown) instead of over
      // the whole join
      val coalKeySlots = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        coal.map(_._1).filter(a => lk.exists(_.exprId == a.exprId)))
      val (bothPush, cs1) =
        if (coal.isEmpty) (Nil, cs)
        else cs.partition(c => c.deterministic && c.references.nonEmpty &&
          c.references.subsetOf(coalKeySlots))
      val partner = coal.map { case (a, b) => a.exprId -> b }.toMap
      val bothPushR = bothPush.map(_.transform {
        case a: Attribute if partner.contains(a.exprId) => partner(a.exprId)
      })
      // a conjunct may slide into a side only when that side's input rows
      // are NOT null-extended into the output: filtering the preserved
      // side commutes, filtering the other side turns matches into
      // null-extensions. Left pushes except for full/right outer; right
      // pushes for inner and right outer.
      val (lPush, rest1) =
        if (jt == org.apache.spark.sql.catalyst.plans.FullOuter ||
            jt == org.apache.spark.sql.catalyst.plans.RightOuter) (Nil, cs1)
        else cs1.partition(c =>
          c.deterministic && c.references.nonEmpty && c.references.subsetOf(lset))
      val (rPush, rest) =
        if (jt == org.apache.spark.sql.catalyst.plans.Inner ||
            jt == org.apache.spark.sql.catalyst.plans.RightOuter)
          rest1.partition(c =>
            c.deterministic && c.references.nonEmpty && c.references.subsetOf(rset))
        else (Nil, rest1)
      if (lPush.isEmpty && rPush.isEmpty && bothPush.isEmpty) f
      else {
        import org.apache.spark.sql.catalyst.expressions.And
        val nl = (lPush ++ bothPush).reduceOption(And).map(Filter(_, l)).getOrElse(l)
        val nr = (rPush ++ bothPushR).reduceOption(And).map(Filter(_, r)).getOrElse(r)
        val nzj = ZipPartitionsJoin(nl, nr, lk, rk, jt, cl, cr)
        rest.reduceOption(And).map(Filter(_, nzj)).getOrElse(nzj)
      }
  }
}

object OrderedPlans {
  /** Restore `out`'s exprIds over a replacement plan by NAME (snapshot
    * schemas have unique names) — the stacks replay above this.
    */
  private[graft] def aliasTo(out: Seq[Attribute], legs: LogicalPlan): LogicalPlan = {
    val byName = legs.output.map(a => a.name -> a).toMap
    Project(out.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)), legs)
  }

  /** Wrap one stitched LEG in the union-fusion breaker (see
    * [[UnfuseUnion]]): the enclosing union keeps one task per leg.
    */
  def unfused(df: DataFrame): DataFrame = {
    graft.sources.GraftRules.install(df.sparkSession)
    Shim.ofRows(df.sparkSession, UnfuseUnion(df.queryExecution.analyzed))
  }

  /** Wraps `df` (whose rows genuinely arrive in `keyCols` order across
    * partition index — the caller's contract) in the ordering declaration,
    * installing graft's rules on the session ([[graft.sources.GraftRules]]).
    */
  def declareOrdered(df: DataFrame, keyCols: Seq[String], reverse: Boolean): DataFrame = {
    val spark = df.sparkSession
    graft.sources.GraftRules.install(spark)
    val child = df.queryExecution.analyzed
    val dir = if (reverse) Descending else Ascending
    val ordering = keyCols.map { c =>
      val attr = child.output.find(_.name == c)
        .getOrElse(sys.error(s"declareOrdered: missing key column $c"))
      SortOrder(attr, dir)
    }
    Shim.ofRows(spark, DeclareOrdered(child, ordering))
  }
}
