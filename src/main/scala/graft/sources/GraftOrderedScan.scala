package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, Descending, IntegerLiteral, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.core.KVIndex
import graft.plans.DeclareOrdered

/** Ordering through the DSV2 path: `SELECT ... FROM cat.indexId ORDER BY
  * key` plans the exchange-free manifest stitch instead of a global sort.
  *
  * The V1Scan bridge carries no ordering contract (`SupportsReportOrdering`
  * reports are consumed by `BatchScanExec`, which the bridge never plans),
  * so the report is made at the LOGICAL level instead: when a global
  * `Sort` on a leading-key prefix sits (through deterministic filters and
  * projections) over a [[GraftScan]] whose snapshot layout
  * is disjoint-ordered, the scan relation is replaced by the same
  * ordered-stitch plan the view path uses, wrapped in
  * [[graft.plans.DeclareOrdered]] — whose physical twin satisfies
  * `OrderedDistribution`, so the stock `EnsureRequirements` plans no
  * exchange and `RemoveRedundantSorts` elides the sort. SQL predicates
  * still prune manifest files: the stitch carries the
  * `SnapshotFilePrune` marker and the companion push rules move filters
  * into it.
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
      sortShape(s.order) match {
        case Some((sortAttrs, reverse)) =>
          topKThrough(s.child, sortAttrs, reverse, n)
            .map(nc => gl.copy(child = ll.copy(child = s.copy(child = nc))))
            .getOrElse(gl)
        case None => gl
      }
    case s: Sort if s.global =>
      sortShape(s.order) match {
        case Some((sortAttrs, reverse)) =>
          rewriteThrough(s.child, sortAttrs, reverse)
            .map(n => s.copy(child = n)).getOrElse(s)
        case None => s
      }
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
                             reverse: Boolean): Option[LogicalPlan] = p match {
    case f @ Filter(cond, child) if cond.deterministic =>
      rewriteThrough(child, sortAttrs, reverse).map(n => f.copy(child = n))
    case pr @ Project(exprs, child) if exprs.forall(_.deterministic) =>
      rewriteThrough(child, sortAttrs, reverse).map(n => pr.copy(child = n))
    case rel: DataSourceV2ScanRelation => rel.scan match {
      // V2ScanRelationPushDown wraps every V1Scan before planning
      case org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(g: GraftScan, _, _)
          if g.plainScan =>
        rewriteRelation(rel, g, sortAttrs, reverse, _.orderedStitchFrame(reverse))
      case g: GraftScan if g.plainScan =>
        rewriteRelation(rel, g, sortAttrs, reverse, _.orderedStitchFrame(reverse))
      case _ => None
    }
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
      : Option[LogicalPlan] = p match {
    case pr @ Project(exprs, child) if exprs.forall(_.deterministic) =>
      topKThrough(child, sortAttrs, reverse, n, conds).map(nc => pr.copy(child = nc))
    case f @ Filter(cond, child) if cond.deterministic =>
      topKThrough(child, sortAttrs, reverse, n, conds :+ cond)
        .map(nc => f.copy(child = nc))
    case rel: DataSourceV2ScanRelation => rel.scan match {
      case org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(g: GraftScan, _, _)
          if g.plainScan =>
        topKRelation(rel, g, sortAttrs, reverse, n, conds)
      case g: GraftScan if g.plainScan =>
        topKRelation(rel, g, sortAttrs, reverse, n, conds)
      case _ => None
    }
    // the VIEW path (r18 symmetry, the DeclareOrdered source tag): a
    // registered snapshot's ordered stitch gets the same file-prefix
    // cut. Interior pushed-below Filters join the key-range validation
    // (they replay above the new prefix stitch), interior Projects
    // replay, the prune marker drops — the GraftPrefixCluster pattern.
    case d: graft.plans.DeclareOrdered if d.source.isDefined =>
      topKView(d, sortAttrs, reverse, n, conds)
    case _ => None
  }

  private def topKView(d: graft.plans.DeclareOrdered,
                       sortAttrs: Seq[AttributeReference], reverse: Boolean,
                       n: Int,
                       conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    val src = d.source.get
    var interior = Seq.empty[org.apache.spark.sql.catalyst.expressions.Expression]
    def dig(q: LogicalPlan): (LogicalPlan, LogicalPlan => LogicalPlan) = q match {
      case f: Filter if f.condition.deterministic =>
        interior :+= f.condition
        val (leaf, rb) = dig(f.child)
        (leaf, (nl: LogicalPlan) => f.copy(child = rb(nl)))
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        val (leaf, rb) = dig(pr.child)
        (leaf, (nl: LogicalPlan) => pr.copy(child = rb(nl)))
      case sp: graft.plans.SnapshotFilePrune => dig(sp.child)
      case leaf => (leaf, identity[LogicalPlan] _)
    }
    val (leaf, rbIn) = dig(d.child)
    val keyCols = src.manifest.keyCols
    val outByName = d.output.map(a => a.name -> a).toMap
    val declared = keyCols.takeWhile(outByName.contains)
    val sortNames = sortAttrs.map(_.name)
    val eligible = sortNames == declared.take(sortNames.size) &&
      sortAttrs.forall(a => outByName.get(a.name).exists(_.exprId == a.exprId))
    if (!eligible) return None
    val leadName = keyCols.head
    val lead = leaf.output.find(_.name == leadName).getOrElse(return None)
    // split plan-level conjuncts (exterior = between the Limit and `d`,
    // interior = inside d's replayed stack) into leading-key ranges
    // (bounds: they prune the covering set) and RESIDUALS. No residual →
    // the exact n-row file-prefix cut; residuals → the grow-the-prefix
    // exec rung (r19), same as the catalog path. A leading-key conjunct
    // matches by the LEAF's exprId OR d's own output exprId for the key
    // name: exterior predicates reference d.output while the stitch's
    // alias Project carries a different leaf id for the same column —
    // both are the key by construction (the stitch never renames), and
    // which one a predicate holds depends only on rule-registration
    // order (how far PushDownPredicates sank it before this rule ran),
    // which must never change the chosen plan.
    val dLead = outByName(leadName)
    def isLeadEither(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case a: AttributeReference =>
          a.exprId == lead.exprId || a.exprId == dLead.exprId
        case _ => false
      }
    val extConjs = conds.flatMap(GraftCoRangeJoin.conjuncts)
    val intConjs = interior.flatMap(GraftCoRangeJoin.conjuncts)
    def isKr(c: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      keyRangeBounds(Seq(c), isLeadEither).isDefined
    val planResidual = (extConjs ++ intConjs).filterNot(isKr)
    val (loP, hiP) =
      keyRangeBounds((extConjs ++ intConjs).filter(isKr), isLeadEither)
        .getOrElse((None, None))
    // the push-through rules may have carried predicates INTO the stitch
    // (per-leg Filters inside the union) by a later fixed-point
    // iteration — rows they drop would RESURRECT if the leaf were
    // swapped for a fresh stitch. Leading-key ranges (matched by NAME —
    // inside the stitch only our own scans live, no renames) are
    // SYNTHESIZED as an equivalent range above the new leaf; any OTHER
    // leaf-internal conjunct joins the residual set and forces the grow
    // rung, reproduced on the new leaf by the same by-name remap (their
    // per-leg exprIds cannot replay across the swap).
    val isLeafName: org.apache.spark.sql.catalyst.expressions.Expression => Boolean = {
      case a: AttributeReference => a.name == leadName
      case _ => false
    }
    val leafConjs = leaf.collect { case f: Filter => f.condition }
      .flatMap(GraftCoRangeJoin.conjuncts)
    val (leafRanges, leafResidual) =
      leafConjs.partition(c => keyRangeBounds(Seq(c), isLeafName).isDefined)
    val (loL, hiL) = keyRangeBounds(leafRanges, isLeafName).getOrElse((None, None))
    val grow = planResidual.nonEmpty || leafResidual.nonEmpty
    if (grow) {
      // exterior conjuncts re-evaluate inside the node (survivor
      // counting) and need d-output-resolvable references; leaf-internal
      // residuals remap by name onto the fresh stitch; subquery
      // predicates decline (they would execute inside AND above);
      // leaf-internal predicates never passed dig's determinism check,
      // so require it here
      val dIds = d.output.map(_.exprId).toSet
      val leafNames = leaf.output.map(_.name).toSet
      if (!growPrefixEnabled || n > growMaxRows ||
          (extConjs ++ intConjs ++ leafConjs).exists(c => !c.deterministic ||
            c.exists(_.isInstanceOf[PlanExpression[_]])) ||
          !extConjs.forall(_.references.forall(r => dIds.contains(r.exprId))) ||
          !leafResidual.forall(_.references.forall(r => leafNames.contains(r.name))))
        return None
    }
    def merge(a: Option[(Any, Boolean)], b: Option[(Any, Boolean)],
              lower: Boolean): Option[(Any, Boolean)] = (a, b) match {
      case (Some((av, ai)), Some((bv, bi))) =>
        val c = graft.core.KeyOrd.compare(Seq(av), Seq(bv))
        if (c == 0) Some((av, ai && bi))
        else if ((c > 0) == lower) Some((av, ai)) else Some((bv, bi))
      case _ => a.orElse(b)
    }
    val lo = merge(loP, loL, lower = true)
    val hi = merge(hiP, hiL, lower = false)
    val ix = new KVIndex(src.store, src.manifest)
    val frame =
      if (grow) ix.growCoveringStitch(reverse,
        lo.map(v => Seq(v._1)), hi.map(v => Seq(v._1)))
      else ix.topKStitchFrame(n, reverse, lo.map(_._1), hi.map(_._1))
    frame.map { stitched =>
      import org.apache.spark.sql.catalyst.expressions.{And, Expression, Literal}
      val aliased = GraftCoRangeJoin.aliasTo(
        leaf.output, stitched.queryExecution.analyzed)
      // reproduce the leaf-internal drops on the new leaf: ranges from
      // loL/hiL, residuals (grow only) by by-name remap, deduped across
      // the per-leg copies (plan-level filters replay through rbIn and
      // the exterior stack instead)
      val aliasByName = aliased.output.map(a => a.name -> a).toMap
      val leadNew = aliasByName(leadName)
      val synth: Seq[Expression] =
        loL.map { case (v, inc) =>
          val l = Literal.create(v, lead.dataType)
          if (inc) org.apache.spark.sql.catalyst.expressions
            .GreaterThanOrEqual(leadNew, l)
          else org.apache.spark.sql.catalyst.expressions.GreaterThan(leadNew, l)
        }.toSeq ++ hiL.map { case (v, inc) =>
          val l = Literal.create(v, lead.dataType)
          if (inc) org.apache.spark.sql.catalyst.expressions
            .LessThanOrEqual(leadNew, l)
          else org.apache.spark.sql.catalyst.expressions.LessThan(leadNew, l)
        }.toSeq
      val remapped: Seq[Expression] =
        if (!grow) Nil
        else leafResidual.map(_.transform {
          case a: AttributeReference => aliasByName(a.name)
        }).distinctBy(_.canonicalized)
      val drops = synth ++ remapped
      val newLeaf =
        if (drops.isEmpty) aliased
        else Filter(drops.reduce(And(_, _)), aliased)
      val dir = if (reverse) Descending else Ascending
      val ordering = declared.map(c => SortOrder(outByName(c), dir))
      // source = None on the REPLACEMENT: the cut is done — a sourced
      // marker under the same Limit(Sort) would re-fire this rule every
      // fixed-point iteration (fresh exprIds each time, so the batch
      // never converges — observed as a wedged optimizer)
      if (!grow) DeclareOrdered(rbIn(newLeaf), ordering, source = None)
      else {
        // grow-the-prefix: interior conjuncts replay at their original
        // positions via rbIn; EXTERIOR ones (key ranges included — the
        // covering prune is over-approximate at the boundary files) are
        // re-evaluated on top so the node counts exactly the rows the
        // whole filtered subtree emits. They replay again above the
        // node, harmlessly (deterministic).
        val inNode = rbIn(newLeaf)
        val counted =
          if (extConjs.isEmpty) inNode
          else Filter(extConjs.reduce(And(_, _)), inNode)
        DeclareOrdered(graft.plans.GrowPrefixTopK(n, counted), ordering,
          source = None)
      }
    }
  }

  /** Validate the collected Filter conditions as pure leading-key ranges
    * and extract the (inclusive over-approximate) bounds; conditions with
    * any OTHER conjunct shape fall to the r19 grow-the-prefix EXEC rung
    * ([[growPrefixRelation]]) instead of declining outright.
    */
  private def topKRelation(rel: DataSourceV2ScanRelation, g: GraftScan,
                           sortAttrs: Seq[AttributeReference], reverse: Boolean,
                           n: Int,
                           conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[LogicalPlan] = {
    val leadName = g.manifestRef.keyCols.head
    val lead = rel.output.find(_.name == leadName).getOrElse(return None)
    keyRangeBounds(conds, byId(lead)) match {
      case Some((lo, hi)) =>
        rewriteRelation(rel, g, sortAttrs, reverse,
          _.topKStitchFrame(n, reverse, lo.map(_._1), hi.map(_._1)))
      case None => growPrefixRelation(rel, g, sortAttrs, reverse, n, conds, lead)
    }
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
                                 conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                                 lead: org.apache.spark.sql.catalyst.expressions.Attribute)
      : Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{And, PlanExpression}
    if (!growPrefixEnabled || n > growMaxRows) return None
    if (conds.isEmpty) return None
    val relIds = rel.output.map(_.exprId).toSet
    if (!conds.forall(c => c.deterministic &&
        c.references.forall(r => relIds.contains(r.exprId)) &&
        !c.exists(_.isInstanceOf[PlanExpression[_]]))) return None
    // leading-key range conjuncts prune the covering set; the rest are
    // the residual whose survivors the exec counts
    val conjs = conds.flatMap(GraftCoRangeJoin.conjuncts)
    val (kr, residual) = conjs.partition(c =>
      keyRangeBounds(Seq(c), byId(lead)).isDefined)
    if (residual.isEmpty) return None // pure key ranges — the exact rung's case
    // COMPOSITE prune bounds (r20): per-column ranges over the key-PREFIX
    // columns tighten the covering prune with full-tuple compares — a
    // `lead = x AND second >= y` predicate drops boundary files a
    // lead-only cut must keep (growCoveringStitch documents why the
    // conjunctive bounds imply the lexicographic ones). The tuple extends
    // only over CONSECUTIVE bounded columns from the lead (a bound on k2
    // without one on k1 prunes nothing); the bound conjuncts stay in the
    // residual replay regardless (the prune is an inclusive over-approx).
    val keyAttrs = g.manifestRef.keyCols
      .map(c => rel.output.find(_.name == c))
      .takeWhile(_.isDefined).map(_.get)
    val perCol = keyAttrs.map { a =>
      val mine = conjs.filter(c => keyRangeBounds(Seq(c), byId(a)).isDefined)
      keyRangeBounds(mine, byId(a)).getOrElse((None, None))
    }
    val loVals = perCol.map(_._1).takeWhile(_.isDefined).map(_.get._1)
    val hiVals = perCol.map(_._2).takeWhile(_.isDefined).map(_.get._1)
    val lo = if (loVals.isEmpty) None else Some(loVals)
    val hi = if (hiVals.isEmpty) None else Some(hiVals)
    val keyCols = g.manifestRef.keyCols
    val outByName = rel.output.map(a => a.name -> a).toMap
    val declared = keyCols.takeWhile(outByName.contains)
    val sortNames = sortAttrs.map(_.name)
    val eligible = sortNames == declared.take(sortNames.size) &&
      sortAttrs.forall(a => outByName.get(a.name).exists(_.exprId == a.exprId))
    if (!eligible) return None
    val ix = new KVIndex(g.storeRef, g.manifestRef)
    ix.growCoveringStitch(reverse, lo, hi).map { stitched =>
      val src = stitched.queryExecution.analyzed
      val srcByName = src.output.map(a => a.name -> a).toMap
      val aliases = rel.output.map(o =>
        Alias(srcByName(o.name), o.name)(exprId = o.exprId))
      val filtered = Filter(conds.reduce(And(_, _)), Project(aliases, src))
      val dir = if (reverse) Descending else Ascending
      val ordering = declared.map(c => SortOrder(outByName(c), dir))
      // source = None: the cut is done (the topKView convergence rule)
      DeclareOrdered(graft.plans.GrowPrefixTopK(n, filtered), ordering,
        source = None)
    }
  }

  /** Validate `conds` as pure leading-key ranges (the `isLead` matcher
    * decides what counts as the leading key — exprId for plan-level
    * filters, name for stitch-internal ones) and intersect to one
    * [lo, hi] with INCLUSIVITY per bound; None on any other conjunct
    * shape (unknown selectivity — the caller declines).
    */
  private[sources] def keyRangeBounds(
      conds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      isLead: org.apache.spark.sql.catalyst.expressions.Expression => Boolean)
      : Option[(Option[(Any, Boolean)], Option[(Any, Boolean)])] = {
    import org.apache.spark.sql.catalyst.expressions._
    def lv(l: Literal): Any =
      graft.core.KeyOrd.normLiteral(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType))
    var lo: Option[(Any, Boolean)] = None
    var hi: Option[(Any, Boolean)] = None
    def tighten(v: Any, inc: Boolean, lower: Boolean): Unit = {
      val cur = if (lower) lo else hi
      val next = cur match {
        case None => Some((v, inc))
        case Some((cv, cinc)) =>
          val c = graft.core.KeyOrd.compare(Seq(v), Seq(cv))
          if (c == 0) Some((cv, cinc && inc)) // tie: strict is tighter
          else if ((c > 0) == lower) Some((v, inc)) // tighter value wins
          else Some((cv, cinc))
      }
      if (lower) lo = next else hi = next
    }
    val conjuncts = conds.flatMap(GraftCoRangeJoin.conjuncts)
    val allKeyRanges = conjuncts.forall {
      case EqualTo(a, l: Literal) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = true)
        tighten(lv(l), inc = true, lower = false); true
      case EqualTo(l: Literal, a) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = true)
        tighten(lv(l), inc = true, lower = false); true
      case GreaterThan(a, l: Literal) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = false, lower = true); true
      case GreaterThanOrEqual(a, l: Literal) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = true); true
      case LessThan(a, l: Literal) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = false, lower = false); true
      case LessThanOrEqual(a, l: Literal) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = false); true
      case GreaterThan(l: Literal, a) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = false, lower = false); true
      case GreaterThanOrEqual(l: Literal, a) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = false); true
      case LessThan(l: Literal, a) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = false, lower = true); true
      case LessThanOrEqual(l: Literal, a) if isLead(a) && l.value != null =>
        tighten(lv(l), inc = true, lower = true); true
      case IsNotNull(a) if isLead(a) => true // keys are non-null by contract
      case _ => false
    }
    if (allKeyRanges) Some((lo, hi)) else None
  }

  private def byId(lead: org.apache.spark.sql.catalyst.expressions.Attribute)
      : org.apache.spark.sql.catalyst.expressions.Expression => Boolean = {
    case a: AttributeReference => a.exprId == lead.exprId
    case _ => false
  }

  private def rewriteRelation(rel: DataSourceV2ScanRelation, g: GraftScan,
                              sortAttrs: Seq[AttributeReference],
                              reverse: Boolean,
                              frame: KVIndex => Option[org.apache.spark.sql.DataFrame])
      : Option[LogicalPlan] = {
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
    val ix = new KVIndex(g.storeRef, g.manifestRef)
    frame(ix).map { stitched =>
      val src = stitched.queryExecution.analyzed
      val srcByName = src.output.map(a => a.name -> a).toMap
      // project the full-schema stitch down to the relation's (possibly
      // pruned) output, keeping the relation's exprIds so everything
      // above keeps resolving (the PruneSnapshotFiles pattern)
      val aliases = rel.output.map(o => Alias(srcByName(o.name), o.name)(exprId = o.exprId))
      val dir = if (reverse) Descending else Ascending
      val ordering = declared.map(c => SortOrder(outByName(c), dir))
      DeclareOrdered(Project(aliases, src), ordering,
        Some(new graft.plans.SnapshotSource(g.storeRef, g.manifestRef)))
    }
  }
}
