package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending, IntegerLiteral, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.core.{KVIndex, KeyRange, LocalScan}
import graft.plans.DeclareOrdered
import graft.plans.OrderedPlans.aliasTo

/** Ordering through the DSV2 path: `SELECT ... FROM cat.indexId ORDER BY
  * key` (or a registered view, the same relation) plans the exchange-free
  * manifest stitch instead of a global sort.
  *
  * A graft scan never plans as a `BatchScanExec` — [[SpliceGraftScan]]
  * turns it into a plain file read — so a `SupportsReportOrdering` report
  * would reach nothing, and the report is made at the LOGICAL level
  * instead: when a global `Sort` on a leading-key prefix sits (through
  * deterministic filters and projections) over a [[GraftScan]] whose
  * snapshot layout is disjoint-ordered, the scan relation is replaced by
  * the ordered stitch of the scan's own covering files (its pushed
  * leading-key bounds, [[GraftScan.pushedKeyBounds]]), wrapped in
  * [[graft.plans.DeclareOrdered]] — whose physical twin satisfies
  * `OrderedDistribution`, so the stock `EnsureRequirements` plans no
  * exchange and `RemoveRedundantSorts` elides the sort. Every filter
  * stays above the stitch (the scan returns them all as residual) and
  * the stock rules push it into the leg scans.
  *
  * Below the driver bound the covering files decode on the driver
  * instead ([[graft.core.LocalScan]], the library's `range`/`headOrdered`
  * tier), forward or reversed, so the rows already arrive in the sort's
  * order: the `Sort` itself goes, no [[graft.plans.DeclareOrdered]] is
  * emitted, and the filters, projections and limit above fold into the
  * rows ([[LocalFold]]) — the statement runs no Spark job.
  *
  * The rewrite declines (leaving the stock sort) when the scan already
  * collapsed to an aggregate row or limit prefix, when file ranges
  * overlap, or when the sort shape is anything but a plain
  * ascending/descending leading-key prefix with default null ordering —
  * claiming an order the RDD does not guarantee would corrupt results,
  * so eligibility is strict.
  *
  * A second rung (r18) handles `ORDER BY <key prefix> LIMIT n`: the
  * stitch is cut to the manifest FILE PREFIX covering the first n rows
  * ([[graft.core.KVIndex.topKStitchFrame]]) — `LIMIT 10` reads one file
  * instead of every covering file. Pure LEADING-KEY range predicates
  * ride along (keyset pagination: `WHERE k > last ORDER BY k LIMIT
  * page` reads ~one file per page at any snapshot size) — boundary
  * files never count toward the n-row guarantee and the predicate
  * replays above the stitch. Any other Filter between limit and scan
  * has unknown selectivity and declines to the bare-sort rung's
  * zero-exchange full read.
  */
object GraftOrderedScan extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // `ORDER BY <key prefix> LIMIT n` (r18): re-plan the scan under the
    // sort as the MANIFEST TOP-K stitch — only the ⌈n/rowsPerFile⌉ files
    // covering the first n rows in key order are read (disjoint layout:
    // every later row sorts beyond all of them), where the stock plan's
    // TakeOrderedAndProject scans every covering file. The Sort node
    // stays and elides via the DeclareOrdered claim exactly like the
    // bare-sort rung; the Limit above trims the prefix's surplus rows.
    // When the driver tier reads the prefix, its rows already arrive in
    // key order: the Sort goes and the limit folds into them.
    // STRICTER eligibility than the bare sort: any predicate between the
    // limit and the scan (a Filter node, or bounds pushed INTO the scan)
    // could drop prefix rows while later files still hold survivors, so
    // the row-count accounting only trusts predicate-free scans. On
    // decline the node is left intact and the bare-sort case below still
    // rewrites the inner Sort on this same pass — full covering read,
    // but zero-exchange.
    // the LocalLimit literal is BOUND and required equal to the global
    // limit: the file-prefix guarantee covers exactly n rows, so a future
    // planner shape with localN != n (today Spark always emits equal
    // limits, and OFFSET shapes interpose nodes that decline the pattern)
    // must not silently under-read — it declines to the bare-sort rung
    case gl @ GlobalLimit(IntegerLiteral(n), ll @ LocalLimit(IntegerLiteral(localN), s: Sort))
        if s.global && n > 0 && localN == n =>
      sortShape(s.order).flatMap { case (sortAttrs, reverse) =>
        topKThrough(s.child, sortAttrs, reverse, n)
      } match {
        case Some(Left(local)) => LocalFold(gl.copy(child = ll.copy(child = local)))
        case Some(Right(nc)) => gl.copy(child = ll.copy(child = s.copy(child = nc)))
        case None => gl
      }
    case s: Sort if s.global =>
      sortShape(s.order).flatMap { case (sortAttrs, reverse) =>
        rewriteThrough(s.child, sortAttrs, reverse)
      } match {
        case Some(Left(local)) => LocalFold(local)
        case Some(Right(nc)) => s.copy(child = nc)
        case None => s
      }
  }

  /** A rewritten sort input: Left, rows the driver decoded in the sort's
    * order (the sort goes); Right, the declared ordered stitch (the sort
    * stays and elides).
    */
  private type Read = Either[LogicalPlan, LogicalPlan]

  /** `r` under the unary `node`, on whichever side it is. */
  private def under(node: LogicalPlan)(r: Read): Read = {
    def wrap(c: LogicalPlan) = node.withNewChildren(Seq(c))
    r.fold(c => Left(wrap(c)), c => Right(wrap(c)))
  }

  /** The sort must be plain attributes, one uniform direction, default
    * null ordering — anything fancier keeps the stock sort.
    */
  private def sortShape(order: Seq[SortOrder])
      : Option[(Seq[AttributeReference], Boolean)] = {
    val attrs = order.map(_.child).collect { case a: AttributeReference => a }
    if (attrs.size != order.size || order.isEmpty) return None
    val dirs = order.map(_.direction).distinct
    if (dirs.size != 1) return None
    if (!order.forall(so => so.nullOrdering == so.direction.defaultNullOrdering))
      return None
    Some((attrs, dirs.head == Descending))
  }

  /** Walk down order-preserving nodes only: deterministic filters and
    * deterministic projections. A projection may COMPUTE columns — it
    * stays order-preserving per row — but the sort attributes must trace
    * to the relation's own outputs by exprId, which the eligibility
    * check below enforces (an aliased or computed sort column fails the
    * id lookup and the rewrite declines).
    */
  private def rewriteThrough(p: LogicalPlan, sortAttrs: Seq[AttributeReference],
                             reverse: Boolean): Option[Read] = p match {
    case f @ Filter(cond, child) if cond.deterministic =>
      rewriteThrough(child, sortAttrs, reverse).map(under(f))
    case pr @ Project(exprs, child) if exprs.forall(_.deterministic) =>
      rewriteThrough(child, sortAttrs, reverse).map(under(pr))
    case PlainGraftScan(rel, g) =>
      val (lo, hi) = g.pushedKeyBounds
      rewriteRelation(rel, g, sortAttrs, reverse, g.bound.getOrElse(lit(true)), Int.MaxValue)(
        _.orderedStitchFrame(reverse, lo, hi))
    case _ => None
  }

  /** The top-k walk: deterministic Projects, plus Filters whose every
    * conjunct is a LEADING-KEY comparison against a literal — the keyset
    * pagination shape (`WHERE k > last ORDER BY k LIMIT page`). Such a
    * predicate drops rows only at the range's edges, so the file-prefix
    * cut stays computable: files strictly inside the range contribute
    * their full manifest row counts, boundary files are read but never
    * counted (GraftScanBuilder keeps EVERY filter residual, so the exact
    * predicate is guaranteed to replay above the swapped-in stitch). Any
    * other Filter — non-key columns, ORs, expressions — has unknown
    * selectivity and declines to the bare-sort rung.
    */
  private def topKThrough(p: LogicalPlan, sortAttrs: Seq[AttributeReference],
                          reverse: Boolean, n: Int,
                          conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
      : Option[Read] = p match {
    case pr @ Project(exprs, child) if exprs.forall(_.deterministic) =>
      topKThrough(child, sortAttrs, reverse, n, conds).map(under(pr))
    case f @ Filter(cond, child) if cond.deterministic =>
      topKThrough(child, sortAttrs, reverse, n, conds :+ cond).map(under(f))
    case PlainGraftScan(rel, g) => topKRelation(rel, g, sortAttrs, reverse, n, conds)
    case _ => None
  }

  /** Pure leading-key range conditions take the exact file-prefix cut
    * with their (inclusive over-approximate) bounds; read on the driver,
    * the conditions themselves are the decode's row test, so it stops at
    * n matches. Conditions with any OTHER conjunct shape fall to the r19
    * grow-the-prefix EXEC rung ([[growPrefixRelation]]) instead of
    * declining outright.
    */
  private def topKRelation(rel: DataSourceV2ScanRelation, g: GraftScan,
                           sortAttrs: Seq[AttributeReference], reverse: Boolean,
                           n: Int,
                           conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[Read] = {
    val leadName = g.manifestRef.keyCols.head
    val lead = rel.output.find(_.name == leadName).getOrElse(return None)
    val r = KeyRange.of(conds, 1) {
      case a: AttributeReference if a.exprId == lead.exprId => Some(0)
      case _ => None
    }
    if (r.residual.isEmpty)
      rewriteRelation(rel, g, sortAttrs, reverse, LocalFold.onSnapshot(conds), n)(
        _.topKStitchFrame(n, reverse, r.lead._1, r.lead._2))
    else growPrefixRelation(rel, g, sortAttrs, reverse, n, conds).map(Right(_))
  }

  /** `spark.graft.sql.topk.growPrefix` (default true) gates the exec-time
    * rung; `spark.graft.sql.topk.growMaxRows` (default 100000) caps the
    * LIMIT it accepts — the collected prefix lives on the driver (the
    * TakeOrderedAndProject collect bound), so a huge LIMIT keeps the
    * stock distributed plan.
    */
  private def growPrefixEnabled: Boolean = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.topk.growPrefix", "true")
    raw.trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"spark.graft.sql.topk.growPrefix must be true or false, got '$other'")
    }
  }
  private def growMaxRows: Long = org.apache.spark.sql.internal.SQLConf.get
    .getConfString("spark.graft.sql.topk.growMaxRows", "100000").trim.toLong

  /** The r19 FILTERED top-k rung: `WHERE <residual> ORDER BY <key prefix>
    * LIMIT n` — the residual's selectivity is unknowable statically, so
    * instead of an optimizer-time file cut the scan is re-planned as the
    * residual-filtered full covering stitch under a
    * [[graft.plans.GrowPrefixTopK]] exec node that pulls key-ordered leg
    * partitions in doubling batches until n survivors exist. Leading-key
    * range conjuncts still prune the covering set; ALL conjuncts replay
    * inside the node's child (and again above it, harmlessly — they are
    * required deterministic). Declines: rewrite disabled, n over the
    * driver-residency cap, any conjunct referencing a non-scan attribute
    * (a computed column from an interior Project could not re-resolve
    * over the stitch), subquery predicates (they would execute inside
    * AND above the node), or no residual at all (the exact rung already
    * handled it).
    */
  private def growPrefixRelation(rel: DataSourceV2ScanRelation, g: GraftScan,
                                 sortAttrs: Seq[AttributeReference],
                                 reverse: Boolean, n: Int,
                                 conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{And, PlanExpression}
    if (!growPrefixEnabled || n > growMaxRows) return None
    val relIds = rel.output.map(_.exprId).toSet
    if (!conds.forall(c => c.deterministic &&
        c.references.forall(r => relIds.contains(r.exprId)) &&
        !c.exists(_.isInstanceOf[PlanExpression[_]]))) return None
    // COMPOSITE prune bounds (r20): per-column ranges over the key-PREFIX
    // columns tighten the covering prune with full-tuple compares — a
    // `lead = x AND second >= y` predicate drops boundary files a
    // lead-only cut must keep (growCoveringStitch documents why the
    // conjunctive bounds imply the lexicographic ones); every conjunct
    // replays regardless (the prune is an inclusive over-approx)
    val keyAttrs = g.manifestRef.keyCols
      .map(c => rel.output.find(_.name == c))
      .takeWhile(_.isDefined).map(_.get)
    val (lo, hi) = KeyRange.of(conds, keyAttrs.size) {
      case a: AttributeReference =>
        Some(keyAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
      case _ => None
    }.pruneTuple
    val keyCols = g.manifestRef.keyCols
    val outByName = rel.output.map(a => a.name -> a).toMap
    val declared = keyCols.takeWhile(outByName.contains)
    val sortNames = sortAttrs.map(_.name)
    val eligible = sortNames == declared.take(sortNames.size) &&
      sortAttrs.forall(a => outByName.get(a.name).exists(_.exprId == a.exprId))
    if (!eligible) return None
    val ix = new KVIndex(g.storeRef, g.manifestRef)
    ix.growCoveringStitch(reverse, lo, hi).map { stitched =>
      val filtered = Filter(conds.reduce(And(_, _)),
        aliasTo(rel.output, stitched.queryExecution.analyzed))
      val dir = if (reverse) Descending else Ascending
      val ordering = declared.map(c => SortOrder(outByName(c), dir))
      DeclareOrdered(graft.plans.GrowPrefixTopK(n, filtered), ordering)
    }
  }

  /** The sort input `read` picks for the scan relation `rel`, when the
    * sort is a prefix of the declarable key ordering: a local read of the
    * rows passing `pred` (at most `limit`), or the declared stitch.
    */
  private def rewriteRelation(rel: DataSourceV2ScanRelation, g: GraftScan,
                              sortAttrs: Seq[AttributeReference], reverse: Boolean,
                              pred: Column, limit: Int)(
                              read: KVIndex => Option[Either[LocalScan, DataFrame]])
      : Option[Read] = {
    val keyCols = g.manifestRef.keyCols
    val outByName = rel.output.map(a => a.name -> a).toMap
    // the declarable ordering: the longest keyCols prefix present in the
    // relation output (a gap breaks the prefix — [k2] alone says nothing
    // about global order)
    val declared = keyCols.takeWhile(outByName.contains)
    // eligibility: the query's sort columns are exactly a prefix of the
    // declarable ordering, referencing the relation's own attributes
    val sortNames = sortAttrs.map(_.name)
    val eligible = sortNames == declared.take(sortNames.size) &&
      sortAttrs.forall(a => outByName.get(a.name).exists(_.exprId == a.exprId))
    if (!eligible) return None
    // either side is projected down to the relation's (possibly pruned)
    // output, keeping the relation's exprIds so everything above keeps
    // resolving
    read(new KVIndex(g.storeRef, g.manifestRef)).map {
      case Left(local) =>
        GraftScan.lastPlannedFiles = local.numFiles
        Left(aliasTo(rel.output, LocalFold.mark(local.relation(pred, limit, reverse))))
      case Right(stitched) =>
        val dir = if (reverse) Descending else Ascending
        val ordering = declared.map(c => SortOrder(outByName(c), dir))
        Right(DeclareOrdered(aliasTo(rel.output, stitched.queryExecution.analyzed), ordering))
    }
  }
}
