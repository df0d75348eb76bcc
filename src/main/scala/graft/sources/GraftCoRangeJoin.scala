package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

import graft.core.{KVIndex, KeyRange, ProbeRoute}
import graft.plans.ZipPartitionsJoin
import graft.plans.OrderedPlans.aliasTo

/** Exchange-free key-equi-joins through the DSV2 path: `SELECT ... FROM
  * cat.a JOIN cat.b ON a.<keys> = b.<keys>` plans the co-range zip join
  * ([[graft.core.KVIndex.coRangeJoin]]) instead of shuffling both sides —
  * the JOIN twin of [[GraftOrderedScan]]'s ordering rewrite, and the
  * layout capability `SupportsReportPartitioning` cannot express for a
  * RANGE-laid source (`KeyGroupedPartitioning` partitions hold one key
  * value each; a range leg holds an interval — see the design note on
  * `coRangeJoin`).
  *
  * Join types: INNER, the LEFT-preserving snapshot-diff family
  * (LEFT OUTER / LEFT SEMI / LEFT ANTI — `WHERE [NOT] EXISTS` on the key
  * plans as semi/anti), RIGHT OUTER, and FULL OUTER (the two-snapshot
  * diff). Key ranges only one side covers ride separate union branches
  * (pass-through for anti, null-extension for the outer types) so they
  * skip the join entirely.
  *
  * Eligibility is strict — the stock join stays whenever:
  *  - the join type is anything else, or its condition is anything but a
  *    conjunction of plain attribute equalities covering a LEADING PREFIX
  *    (possibly all) of BOTH indexes' key column lists positionally. A
  *    prefix join cuts every leg boundary as a prefix tuple, so rows
  *    sharing the join key never split across legs — `a JOIN b ON
  *    a.k1 = b.k1` over composite-keyed snapshots plans exchange-free;
  *    a non-key / gapped / tail-only equality declines;
  *  - either side is not a plain [[GraftScan]] relation (aggregate/limit
  *    pushdown collapsed it), possibly under deterministic Filters —
  *    which are kept, re-applied above the replaced side;
  *  - either snapshot's layout cannot guarantee disjoint file ranges.
  *
  * When the two-graft rewrite declines but ONE side is a graft scan, the
  * PROBE rewrite ([[probeRewrite]]) takes over: the arbitrary side is
  * routed onto the snapshot's leg boundaries and the snapshot never
  * moves — see [[dispatch]].
  */
object GraftCoRangeJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(l, r, jt, Some(cond), _) if ZipPartitionsJoin.supports(jt) =>
      dispatch(j, l, r, cond, jt).getOrElse(j)
  }

  /** Two-graft-side zip join first (both sides exchange-free); when that
    * declines (or only ONE side is a graft scan), the PROBE join: the
    * non-graft side is routed onto the snapshot's leg boundaries — one
    * RDD-level partitioner shuffle of the probe side alone, the snapshot
    * never moves and the SQL plan stays exchange-free. This is the most
    * common real-user join shape (facts vs snapshot dimension), which
    * previously paid a both-sides shuffle in SQL while only the Scala
    * API ([[graft.core.KVIndex.probeJoin]]) did it right. The dimension
    * side is tried right-first (the conventional `facts JOIN dim` order).
    */
  private def dispatch(j: Join, l: LogicalPlan, r: LogicalPlan,
                       cond: Expression, jt: JoinType): Option[LogicalPlan] =
    (side(l), side(r)) match {
      case (Some(_), Some(_)) =>
        rewrite(j, l, r, cond, jt)
          .orElse(probeRewrite(j, l, r, cond, jt, graftOnLeft = false))
          .orElse(probeRewrite(j, l, r, cond, jt, graftOnLeft = true))
      case (Some(_), None) =>
        probeRewrite(j, l, r, cond, jt, graftOnLeft = true)
      case (None, Some(_)) =>
        probeRewrite(j, l, r, cond, jt, graftOnLeft = false)
      case _ => None
    }

  /** A child is eligible when it is a plain GraftScan relation under zero
    * or more deterministic Filters/Projects; returns (relation, scan,
    * rebuild) where `rebuild` replays the side's exact operator stack over
    * a replacement plan exposing the relation's output exprIds — so the
    * stack (including column-pruning Projects the optimizer inserted under
    * the join, and any computed aliases) lands BELOW the zip join, per
    * side, exactly as the stock plan evaluated it.
    */
  private[sources] def side(p: LogicalPlan)
      : Option[(DataSourceV2ScanRelation, GraftScan, LogicalPlan => LogicalPlan)] = p match {
    case Filter(c, child) if c.deterministic =>
      side(child).map { case (rel, g, rb) =>
        (rel, g, (nl: LogicalPlan) => Filter(c, rb(nl)))
      }
    case Project(ps, child) if ps.forall(_.deterministic) =>
      side(child).map { case (rel, g, rb) =>
        (rel, g, (nl: LogicalPlan) => Project(ps, rb(nl)))
      }
    case PlainGraftScan(rel, g) => Some((rel, g, identity[LogicalPlan] _))
    case _ => None
  }

  /** The strict equi-join match: every conjunct of `cond` is an equality
    * of two plain attributes, one from `left` and one from `right`
    * (either order). Returns the (left, right) pair per conjunct, or None
    * when any conjunct is anything else.
    */
  private[sources] def equiPairs(cond: Expression, left: AttributeSet, right: AttributeSet)
      : Option[Seq[(AttributeReference, AttributeReference)]] = {
    val cs = KeyRange.conjuncts(cond)
    val pairs = cs.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.contains(a) && right.contains(b) => (a, b)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if left.contains(a) && right.contains(b) => (a, b)
    }
    if (pairs.size == cs.size) Some(pairs) else None
  }

  /** `spark.graft.probe.sqlEagerBounds` (default `auto`): allow the SQL
    * probe rewrites to run ONE eager probe-side job at optimization time —
    * a min/max/count aggregate of the leading equi key (plus, at ≥256
    * probes, a bloom-sketch build) — buying the API path's file prune,
    * typed empty answers, and leg-scan prefilter for SQL text.
    *
    *  - `auto` (default, r18): fire only when the probe plan is
    *    rerun-stable AND its cost is provably trivial to re-execute —
    *    every leaf a LocalRelation, or a CACHED relation whose column
    *    buffers are already materialized (exact stats, zero scan cost) —
    *    under the size ceiling. For anything whose re-execution cost the
    *    optimizer cannot bound exactly (file scans, shuffles, inexact
    *    stats), the r16 stance holds: no silent optimizer jobs.
    *  - `true`: fire for any rerun-stable probe under the ceiling (the
    *    facts-vs-snapshot sessions where probe sides are cheap scans and
    *    leg pruning pays for the extra pass).
    *  - `false`: never.
    */
  private[sources] def eagerBoundsConf(): String = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.probe.sqlEagerBounds", "auto")
    raw.trim.toLowerCase match {
      case v @ ("true" | "false" | "auto") => v
      case other => throw new IllegalArgumentException(
        s"spark.graft.probe.sqlEagerBounds must be true, false or auto, got '$other'")
    }
  }

  /** Auto-mode eligibility: every leaf is a LocalRelation (driver-held
    * rows, exact stats) or a cached relation whose buffers are already
    * LOADED (re-execution = reading memory, and its stats are the exact
    * materialized sizes). A cached-but-not-yet-materialized relation
    * declines — the eager job would silently pay the first
    * materialization.
    */
  private[sources] def autoEagerPlan(p: LogicalPlan): Boolean = {
    val leaves = p.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
  }

  /** `spark.graft.probe.eagerMaxBytes` (default 256 MB): ceiling on the
    * probe side's ESTIMATED size for the eager job. Re-executing a cheap
    * fact slice up to three times is the point of the conf; re-executing
    * a snapshot-sized side is the cost explosion it promises to avoid —
    * notably the both-graft dispatch fallback, where a non-prefix-aligned
    * snapshot pair lands in the probe rewrite with a whole SNAPSHOT as
    * the probe side (its DSV2 stats default to "huge", so it declines
    * here without a special case).
    */
  private[sources] def eagerMaxBytesConf(): Long = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.probe.eagerMaxBytes", (256L << 20).toString)
    try raw.trim.toLong
    catch { case _: NumberFormatException => throw new IllegalArgumentException(
      s"spark.graft.probe.eagerMaxBytes must be a byte count, got '$raw'") }
  }

  /** The eager bounds job executes the probe subtree twice (bounds, then
    * the routed run; three times with the bloom sketch) — all passes must
    * see the SAME rows. Declines when:
    *  - any expression is nondeterministic, or a subquery expression is
    *    present (its cost should never be silently multiplied);
    *  - the plan contains a rerun-UNSTABLE operator — LIMIT / OFFSET /
    *    TABLESAMPLE / TAIL pick rows dependent on partition arrival
    *    order, so two executions can return different row sets even
    *    with every expression deterministic (stale bounds would then
    *    prune files holding live matches).
    */
  private[sources] def eagerSafePlan(p: LogicalPlan): Boolean =
    p.find {
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Offset => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Sample => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Tail => true
      case q => q.expressions.exists(e =>
        !e.deterministic || e.exists(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    }.isEmpty

  /** The SQL probe rewrites' routing: [[graft.core.KVIndex.routeProbeLegs]]
    * over the snapshot's own pushed leading-key bounds, with the eager
    * probe-bounds prune allowed when the join type may drop unmatched
    * snapshot rows (`pruneSound`), the conf is on, the probe subtree is
    * rerun-stable, and its estimated size sits under the ceiling. Without
    * the eager pass, AllPruned means the snapshot's own WHERE pruned every
    * file — the stock plan scans zero files then, so it declines
    * (Unzippable) rather than answer.
    */
  private[sources] def routeProbe(ix: KVIndex, g: GraftScan, probe: LogicalPlan,
      probeKeys: Seq[Attribute], pruneSound: Boolean): ProbeRoute = {
    val eager = pruneSound && (eagerBoundsConf() match {
      case "true" => true
      case "false" => false
      case _ => autoEagerPlan(probe) // "auto"
    }) && eagerSafePlan(probe) && probe.stats.sizeInBytes <= BigInt(eagerMaxBytesConf())
    ix.routeProbeLegs(probe, probeKeys, rowsPerLegConf(), eager, g.pushedKeyBounds) match {
      case ProbeRoute.AllPruned if !eager => ProbeRoute.Unzippable
      case r => r
    }
  }

  /** per-leg row target from session conf (e.g. for wider tasks on a
    * scan-heavy join); ≤ 0 = the index's maxRowsPerFile convention
    */
  private[sources] def rowsPerLegConf(): Long = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.corange.rowsPerLeg", "-1")
    try raw.trim.toLong
    catch { case _: NumberFormatException => throw new IllegalArgumentException(
      s"spark.graft.corange.rowsPerLeg must be an integer, got '$raw'") }
  }

  private def rewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                      cond: Expression, jt: JoinType): Option[LogicalPlan] = {
    val (lrel, lg, lRebuild) = side(l).getOrElse(return None)
    val (rrel, rg, rRebuild) = side(r).getOrElse(return None)

    // the condition must be exactly the full positional key equalities,
    // over the RELATIONS' own attributes (a computed/aliased key declines:
    // its exprId is not the relation's, and leg boundaries were cut on the
    // stored key, not the computed one)
    val pairs = equiPairs(cond, AttributeSet(lrel.output), AttributeSet(rrel.output))
      .getOrElse(return None)
    // the equalities must cover a LEADING PREFIX of both sides' key
    // column lists positionally (possibly the full lists): legs are then
    // cut at prefix-group boundaries, so `a JOIN b ON a.k1 = b.k1` over
    // composite-keyed snapshots plans exchange-free too. Anything else
    // (a non-key column, a gap, a tail-only equality) declines.
    val lKeyCols = lg.manifestRef.keyCols
    val rKeyCols = rg.manifestRef.keyCols
    val names = pairs.map { case (a, b) => (a.name, b.name) }.distinct
    val m = names.size
    if (m == 0 || m > math.min(lKeyCols.size, rKeyCols.size)) return None
    val wanted = lKeyCols.take(m).zip(rKeyCols.take(m))
    if (names.toSet != wanted.toSet) return None

    val lIx = new KVIndex(lg.storeRef, lg.manifestRef)
    val rIx = new KVIndex(rg.storeRef, rg.manifestRef)
    // KEEP the scans' file prune: each side's pushed leading-key bounds
    // go in separately — coRangeLegPlans applies the intersection to the
    // sides the join type allows (a left-preserving join must not let a
    // RIGHT bound prune LEFT files: those rows survive unmatched).
    // Exactness is unaffected: the same predicates replay in the stacks.
    val rowsPerLeg = rowsPerLegConf()
    lIx.coRangeLegPlans(rIx, rowsPerLeg,
        lg.pushedKeyBounds, rg.pushedKeyBounds, jt, keyLen = m).map {
      case (zipOpt, leftOnlyOpt, rightOnlyOpt) =>
        // restore the relation's output exprIds over the legs, then replay
        // each side's ORIGINAL Filter/Project stack BELOW the zip join — so
        // pushed predicates evaluate per leg at the scans and a narrow
        // projection narrows the leg reads (a Filter/Project per side
        // preserves the leg-per-partition alignment; one-sided filters
        // below their own input is the stock pushdown direction for every
        // supported type)
        // join keys = the cond's own attributes in key-column order; they
        // survive the stacks (cond resolved ABOVE them in the original plan)
        val byLName = pairs.map(p => p._1.name -> p).toMap
        val lKeys: Seq[Attribute] = lKeyCols.take(m).map(c => byLName(c)._1)
        val rKeys: Seq[Attribute] = lKeyCols.take(m).map(c => byLName(c)._2)
        val zip = zipOpt.map { case (lPlan, rPlan, _, _) =>
          ZipPartitionsJoin(lRebuild(aliasTo(lrel.output, lPlan)),
            rRebuild(aliasTo(rrel.output, rPlan)), lKeys, rKeys, jt)
        }
        // ranges only ONE side covers: pass-through (anti) / null-extend
        // the other side (outer types), through the SAME side stack —
        // reusing its exprIds across union branches is the self-union
        // shape, which Spark permits
        val leftOnly = leftOnlyOpt.map { lp =>
          val stack = lRebuild(aliasTo(lrel.output, lp))
          jt match {
            case LeftOuter | FullOuter =>
              Project(stack.output ++ r.output.map(a =>
                Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)), stack)
            case _ => stack // LeftAnti: every left row in range survives
          }
        }
        val rightOnly = rightOnlyOpt.map { rp => // FullOuter / RightOuter
          val stack = rRebuild(aliasTo(rrel.output, rp))
          Project(l.output.map(a =>
            Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)) ++
            stack.output, stack)
        }
        val branches: Seq[LogicalPlan] = Seq(zip, leftOnly, rightOnly).flatten
        branches match {
          case Seq() => LocalRelation(j.output) // provably empty
          case Seq(only) => only
          case many => Union(many)
        }
    }
  }

  /** PROBE rewrite: exactly one join side is a plain graft snapshot scan
    * (under deterministic Filters/Projects) and the condition is a
    * conjunction of plain attribute equalities covering a LEADING PREFIX
    * of the snapshot's key columns against attributes of the OTHER
    * (arbitrary) side. Plans the probe-join shape
    * ([[graft.core.KVIndex.probeJoin]]'s internals at plan level): the
    * snapshot becomes its leg-union plan (exchange-free, one ordered
    * partition per leg), the probe side is routed onto the leg
    * boundaries by an RDD-level partitioner shuffle (the ONLY data
    * movement in the whole join — the snapshot, the big side, never
    * moves), and the zip join streams each aligned pair.
    *
    * Every [[ZipPartitionsJoin]]-supported type works: the legs cover
    * (-inf, +inf) and every probe row routes into exactly one leg, so
    * both sides are fully preserved within their legs (outer/anti
    * semantics included) with no extra branches.
    *
    * Declines (stock join stays) when:
    *  - the snapshot is small enough to broadcast — a stock
    *    BroadcastHashJoin moves NEITHER side's bulk, strictly better
    *    than routing the probe side;
    *  - the condition is anything but leading-prefix key equalities, or
    *    maps two different probe attributes onto one key column;
    *  - the snapshot layout cannot guarantee disjoint ranges, or its own
    *    pushed bounds prune every file (the stock plan then scans zero
    *    files anyway);
    *  - the probe side is streaming (micro-batch plans route per batch
    *    through [[graft.core.KVIndex.asOfProbe]]/probeJoin instead).
    */
  private def probeRewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
                           cond: Expression, jt: JoinType,
                           graftOnLeft: Boolean): Option[LogicalPlan] = {
    val (grel, gg, gRebuild) = side(if (graftOnLeft) l else r).getOrElse(return None)
    val probe = if (graftOnLeft) r else l
    if (probe.isStreaming) return None
    val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    // the snapshot's manifest-stat size, the bytes a broadcast would move
    val gSize = gg.estimateStatistics().sizeInBytes
    if (thr >= 0 && gSize.isPresent && gSize.getAsLong <= thr) return None

    // (probeAttr, graftAttr) pairs; anything else in the condition declines
    val pairs = equiPairs(cond, probe.outputSet, AttributeSet(grel.output))
      .getOrElse(return None).distinct
    val gKeyCols = gg.manifestRef.keyCols
    val byKey = pairs.groupBy(_._2.name)
    // two DIFFERENT probe attributes equated to one key column cannot be
    // expressed as a single routing key — decline
    if (byKey.valuesIterator.exists(_.map(_._1.exprId).distinct.size > 1)) return None
    val m = byKey.size
    if (m == 0 || m > gKeyCols.size) return None
    if (byKey.keySet != gKeyCols.take(m).toSet) return None
    val probeKeys: Seq[Attribute] = gKeyCols.take(m).map(c => byKey(c).head._1)
    val graftKeys: Seq[Attribute] = gKeyCols.take(m).map(c => byKey(c).head._2)

    // the snapshot's OWN pushed leading-key bounds prune its legs — always
    // sound (rows outside them are dropped by the replayed stack anyway,
    // for every join type). The EAGER probe bounds ([[routeProbe]]) buy the
    // API path's probe-derived file prune, typed empty answers and
    // ≥256-probe bloom prefilter for SQL text — sound ONLY when the join
    // type never emits an UNMATCHED snapshot row.
    val graftNeedsUnmatched = jt match {
      case FullOuter => true
      case LeftOuter | LeftAnti => graftOnLeft
      case RightOuter => !graftOnLeft
      case _ => false // Inner, LeftSemi: unmatched snapshot rows never emit
    }

    /** All files pruned under the probe bounds: no snapshot row can match
      * any probe, so answer without touching the snapshot — empty for
      * inner/semi, pass-through for anti (probe is the left side there),
      * null-extension for the probe-preserving outer types.
      */
    def prunedAnswer(): LogicalPlan = jt match {
      case LeftAnti => probe // sound set => probe IS the left side
      case LeftOuter => // probe left, graft right
        Project(probe.output ++ r.output.map(a =>
          Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)), probe)
      case RightOuter => // probe right, graft left
        Project(l.output.map(a =>
          Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)) ++
          probe.output, probe)
      case _ => LocalRelation(j.output) // Inner, LeftSemi
    }

    routeProbe(new KVIndex(gg.storeRef, gg.manifestRef), gg, probe, probeKeys,
        pruneSound = !graftNeedsUnmatched) match {
      case ProbeRoute.Routed(pStack, legPlan) =>
        // the WHOLE probe side (filters and all) routes, evaluated once at
        // execution, under its own exprIds
        val gStack = gRebuild(aliasTo(grel.output, legPlan))
        Some(if (graftOnLeft)
          ZipPartitionsJoin(gStack, pStack, graftKeys, probeKeys, jt)
        else
          ZipPartitionsJoin(pStack, gStack, probeKeys, graftKeys, jt))
      // empty probe set: the result is empty for every graft-non-preserving
      // type (probe-preserving sides are empty too)
      case ProbeRoute.NoProbes => Some(LocalRelation(j.output))
      case ProbeRoute.AllPruned => Some(prunedAnswer())
      case ProbeRoute.Unzippable => None
    }
  }
}
