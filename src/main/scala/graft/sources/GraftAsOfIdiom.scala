package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Descending, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NullsLast, RowNumber, SortOrder, WindowExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation, LogicalPlan, Project, Union, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.core.{KVIndex, ProbeRoute}
import graft.plans.AsOfZipJoin

/** Recognizes the classic AS-OF SQL idiom over two graft snapshots and
  * plans the exchange-free ordered merge ([[graft.plans.AsOfZipJoin]])
  * instead of the shuffle + window it would otherwise cost:
  *
  * {{{
  *   SELECT ... FROM (
  *     SELECT p.*, r.*, row_number() OVER (
  *       PARTITION BY p.<left keys...> ORDER BY r.rts DESC) AS rn
  *     FROM cat.probes p [LEFT] JOIN cat.readings r
  *       ON p.k = r.k AND r.rts <= p.ts   -- or < for strictly-before
  *   ) WHERE rn = 1
  * }}}
  *
  * This is the plan [[graft.core.KVIndex.asOfJoin]] builds over two pinned
  * relations, so the library's as-of join takes this rewrite too.
  * Matched plan fragment: `Filter(rn = 1, Window([row_number() AS rn],
  * partitionSpec, orderSpec, join))` with an optional `WindowGroupLimit`
  * and an optional column-pruning `Project` between Window and Join (both
  * optimizer-inserted). The replacement emits `rn` as the literal 1 (it
  * is 1 for every surviving row), so enclosing operators are untouched.
  *
  * Two constructions, preferred order:
  *  - BOTH sides graft with the equi attrs a leading prefix of both key
  *    lists → the co-range ordered merge (neither side moves);
  *  - otherwise, when the LEFT side is provably unique on the partition
  *    key (a graft scan partitioned by its full key, or an Aggregate
  *    whose full grouping set is exposed and covered — the
  *    `GROUP BY user_id` probes pattern) → the PROBE-routed merge
  *    ([[graft.core.KVIndex.asOfProbe]]'s shape at plan level): the left
  *    side routes onto the snapshot's leg boundaries by one RDD-level
  *    partitioner shuffle, the snapshot never moves.
  *
  * Eligibility — the stock plan stays unless ALL hold:
  *  - join type INNER or LEFT OUTER; the RIGHT side a plain graft scan
  *    under deterministic Filters/Projects (replayed below the merge,
  *    exactly where the stock plan evaluated them);
  *  - the condition is leading-prefix key equalities on the RIGHT
  *    snapshot plus EXACTLY ONE ts bound `r.rts <= l.lts` (`<` = strict)
  *    between plain attributes, optionally with ONE tolerance band
  *    `r.rts >= l.lts - K`, K ≥ 0, on the same pair (a day-time INTERVAL
  *    for timestamps, `date_sub` for dates, a literal for integrals —
  *    the library's own spelling), which maps to the merge's native-unit
  *    tolerance; any other conjunct declines;
  *  - PARTITION BY covers a PROVABLY UNIQUE left key (see above), so
  *    partitions are per-left-row — the exact requirement for
  *    window-pick == as-of semantics; extra left-side attrs are
  *    harmless and allowed;
  *  - ORDER BY is `rts DESC [NULLS LAST]` followed positionally by the
  *    right snapshot's remaining key columns DESC — exactly the merge's
  *    deterministic greatest-(ts, rest) pick. A bare `rts DESC` with
  *    trailing right key columns left unordered would be a
  *    nondeterministic pick and declines;
  *  - the filter keeps rank 1 (`rn = 1` / `rn <= 1`); other conjuncts
  *    replay above the merge.
  *
  * Scale shape of the co-range construction: both manifests' file bounds
  * cut shared leg boundaries at EQUI-KEY-PREFIX grain (the key-prefix
  * join's leg rule, so an equi group is never split across legs) and each
  * leg runs an ordered merge holding ONE candidate row: no shuffle, no
  * window, no join explosion on many-versions keys, O(1) task heap beyond
  * the local leg sorts. The left key's remaining columns join the left
  * sort, so the merge's ordering claim covers the whole left key.
  */
object GraftAsOfIdiom extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(_, w: Window) => rewrite(f, w).getOrElse(f)
  }

  private def isRankOne(e: Expression, rn: Attribute): Boolean = e match {
    case EqualTo(a: AttributeReference, Literal(1, IntegerType)) => a.exprId == rn.exprId
    case EqualTo(Literal(1, IntegerType), a: AttributeReference) => a.exprId == rn.exprId
    case LessThanOrEqual(a: AttributeReference, Literal(1, IntegerType)) => a.exprId == rn.exprId
    case GreaterThanOrEqual(Literal(1, IntegerType), a: AttributeReference) => a.exprId == rn.exprId
    case _ => false
  }

  private def rewrite(f: Filter, w: Window): Option[LogicalPlan] = {
    // exactly one window expression: row_number() (its frame is fixed by
    // the analyzer; the function alone identifies the idiom)
    val rnAttr = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)) => a.toAttribute
      case _ => return None
    }
    val fConjuncts = graft.core.KeyRange.conjuncts(f.condition)
    val (rankConj, restConj) = fConjuncts.partition(isRankOne(_, rnAttr))
    if (rankConj.isEmpty) return None
    // the leftover filter conjuncts replay above; they may reference rn
    // (it is the literal 1 there after the rewrite)

    // peel the optimizer's WindowGroupLimit, then an interposed Project
    // (column pruning AND inner-SELECT aliases pushed below the window —
    // its inputs are join outputs, so it replays verbatim over the merge)
    val beneath = w.child match {
      case wgl: WindowGroupLimit if wgl.limit >= 1 => wgl.child
      case other => other
    }
    val (interposed, j) = beneath match {
      case p @ Project(ps, jj: Join) if ps.forall(_.deterministic) => (Some(p), jj)
      case jj: Join => (None, jj)
      case _ => return None
    }
    val (jt, leftOuter) = j.joinType match {
      case Inner => (Inner: JoinType, false)
      case LeftOuter => (LeftOuter: JoinType, true)
      case _ => return None
    }
    val cond = j.condition.getOrElse(return None)
    val leftGraft = GraftCoRangeJoin.side(j.left)
    val (rrel, rg, rRebuild) = GraftCoRangeJoin.side(j.right).getOrElse(return None)
    val rIds = rrel.output.map(_.exprId).toSet
    val lOut = j.left.outputSet
    val rOut = j.right.outputSet

    // split the condition: equi pairs (left attr = right RELATION attr)
    // + ONE ts bound + an OPTIONAL tolerance band `rTs >= lTs - K`
    // (spelled `lTs - INTERVAL ...` for timestamps, `lTs - n` for
    // integrals — exactly the engine's own fallback SQL). K maps to the
    // merge's native-unit tolerance (micros for TIMESTAMP, the value for
    // integrals). Month/day intervals decline: months are variable and a
    // day crosses DST in session-local arithmetic, while the merge
    // compares raw units.
    def tolOf(e: Expression): Option[(AttributeReference, Long)] = e match {
      // ANSI interval literal: DayTimeIntervalType carries raw micros
      case org.apache.spark.sql.catalyst.expressions.TimestampAddInterval(
          l: AttributeReference,
          Literal(us: java.lang.Long, _: org.apache.spark.sql.types.DayTimeIntervalType), _)
          if lOut.contains(l) && us <= 0 => Some((l, -us))
      // legacy CalendarInterval literal (sub-day only: day arithmetic is
      // session-tz-dependent while the merge compares raw micros)
      case org.apache.spark.sql.catalyst.expressions.TimestampAddInterval(
          l: AttributeReference, Literal(iv: org.apache.spark.unsafe.types.CalendarInterval, _), _)
          if lOut.contains(l) && iv.months == 0 && iv.days == 0 &&
            iv.microseconds <= 0 => Some((l, -iv.microseconds))
      // DATE bands: `date_sub(lts, K)` / `date_add(lts, -K)` / a legacy
      // days-only interval — all PURE day arithmetic on the raw day count
      // (DateType carries no time-of-day and no zone), exactly the merge's
      // native unit for DATE. `lts - INTERVAL 'K' DAY` (whole days) is
      // covered too: Spark resolves it to DateAdd(lts, -K) before this
      // rule runs. Only SUB-DAY interval components cast the arithmetic
      // through TIMESTAMP (session-tz-dependent) — those change the
      // operand type and decline above, by design.
      case org.apache.spark.sql.catalyst.expressions.DateSub(
          l: AttributeReference, Literal(n: Integer, IntegerType))
          if lOut.contains(l) && n >= 0 => Some((l, n.longValue()))
      case org.apache.spark.sql.catalyst.expressions.DateAdd(
          l: AttributeReference, Literal(n: Integer, IntegerType))
          if lOut.contains(l) && n <= 0 => Some((l, -n.longValue()))
      case org.apache.spark.sql.catalyst.expressions.DateAddInterval(
          l: AttributeReference,
          Literal(iv: org.apache.spark.unsafe.types.CalendarInterval, _), _, _)
          if lOut.contains(l) && iv.months == 0 && iv.microseconds == 0 &&
            iv.days <= 0 => Some((l, -iv.days.toLong))
      case org.apache.spark.sql.catalyst.expressions.Subtract(
          l: AttributeReference, Literal(n, t), _)
          if lOut.contains(l) && n != null && (t match {
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.ByteType => true
            case _ => false
          }) && n.asInstanceOf[Number].longValue() >= 0 =>
        Some((l, n.asInstanceOf[Number].longValue()))
      case _ => None
    }
    var equi = Vector.empty[(AttributeReference, AttributeReference)]
    var ts: Option[(AttributeReference, AttributeReference, Boolean)] = None // (lTs, rTs, strict)
    var tolCand: Option[(AttributeReference, AttributeReference, Long)] = None
    graft.core.KeyRange.conjuncts(cond).foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if lOut.contains(a) && rIds.contains(b.exprId) => equi :+= ((a, b))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if lOut.contains(a) && rIds.contains(b.exprId) => equi :+= ((a, b))
      case LessThanOrEqual(r: AttributeReference, l: AttributeReference)
          if rOut.contains(r) && lOut.contains(l) && ts.isEmpty => ts = Some((l, r, false))
      case GreaterThanOrEqual(l: AttributeReference, r: AttributeReference)
          if rOut.contains(r) && lOut.contains(l) && ts.isEmpty => ts = Some((l, r, false))
      case LessThan(r: AttributeReference, l: AttributeReference)
          if rOut.contains(r) && lOut.contains(l) && ts.isEmpty => ts = Some((l, r, true))
      case GreaterThan(l: AttributeReference, r: AttributeReference)
          if rOut.contains(r) && lOut.contains(l) && ts.isEmpty => ts = Some((l, r, true))
      case GreaterThanOrEqual(r: AttributeReference, e)
          if rOut.contains(r) && tolCand.isEmpty && tolOf(e).isDefined =>
        val (l, t) = tolOf(e).get; tolCand = Some((l, r, t))
      case LessThanOrEqual(e, r: AttributeReference)
          if rOut.contains(r) && tolCand.isEmpty && tolOf(e).isDefined =>
        val (l, t) = tolOf(e).get; tolCand = Some((l, r, t))
      case _ => return None
    }
    val (lTs, rTs, strict) = ts.getOrElse(return None)
    if (lTs.dataType != rTs.dataType) return None
    val tolerance: Long = tolCand match {
      case None => -1L
      case Some((l, r, t)) =>
        // the band must bind the SAME (lTs, rTs) pair as the main bound,
        // and the type must support native-unit arithmetic
        if (l.exprId != lTs.exprId || r.exprId != rTs.exprId) return None
        if (!AsOfZipJoin.toleranceSupported(lTs.dataType)) return None
        t
    }

    // equi pairs must cover a leading prefix of the RIGHT snapshot's key
    // list, one left attribute per key column; the right ts must sit
    // outside the equi prefix
    val rKeyCols = rg.manifestRef.keyCols
    val byRKey = equi.distinct.groupBy(_._2.name)
    val m = byRKey.size
    if (m == 0 || m > rKeyCols.size) return None
    if (byRKey.keySet != rKeyCols.take(m).toSet) return None
    if (byRKey.valuesIterator.exists(_.map(_._1.exprId).distinct.size > 1)) return None
    val lEqui: Seq[Attribute] = rKeyCols.take(m).map(c => byRKey(c).head._1)
    val rEqui: Seq[Attribute] = rKeyCols.take(m).map(c => byRKey(c).head._2)
    if (rKeyCols.take(m).contains(rTs.name) && rIds.contains(rTs.exprId)) return None

    // PARTITION BY: left-side attrs only, covering a PROVABLY UNIQUE key
    // of the left side (=> one partition per left row, the requirement
    // for window-pick == as-of semantics):
    //  - a graft left: its full snapshot key (unique by engine contract);
    //  - an arbitrary left: the full exposed grouping set of an Aggregate
    //    (GROUP BY output is unique on its grouping tuple), under
    //    attribute-only Projects.
    if (!w.partitionSpec.forall {
      case a: AttributeReference => lOut.contains(a)
      case _ => false
    }) return None
    val psIds = w.partitionSpec.collect { case a: AttributeReference => a.exprId }.toSet
    def aggUnique(p: LogicalPlan): Option[Set[org.apache.spark.sql.catalyst.expressions.ExprId]] =
      p match {
        case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          aggUnique(child)
        case Filter(_, child) => // removing rows cannot break uniqueness
          aggUnique(child)
        case a: Aggregate if a.groupingExpressions.nonEmpty =>
          val ge = a.groupingExpressions
          // every grouping expression must be EXPOSED in the output —
          // uniqueness on a subset of the grouping tuple is not provable
          val exposed = ge.forall(g => a.aggregateExpressions.exists {
            case ar: AttributeReference => g.semanticEquals(ar)
            case al: Alias => g.semanticEquals(al.child)
            case _ => false
          })
          if (!exposed) None
          else Some(a.aggregateExpressions.collect {
            case ar: AttributeReference if ge.exists(_.semanticEquals(ar)) => ar.exprId
            case al @ Alias(c, _) if ge.exists(_.semanticEquals(c)) => al.exprId
          }.toSet)
        case _ => None
      }
    val uniqueCovered: Boolean = leftGraft match {
      case Some((lrel, lg, _)) =>
        val lByName = lrel.output.map(a => a.name -> a).toMap
        lg.manifestRef.keyCols.forall(c =>
          lByName.get(c).exists(a => psIds.contains(a.exprId)))
      case None =>
        aggUnique(j.left).exists(ids => ids.nonEmpty && ids.subsetOf(psIds))
    }
    if (!uniqueCovered) return None

    // ORDER BY: rts DESC, then the right snapshot's remaining key columns
    // DESC, positionally — the merge's greatest-(ts, rest) pick. NULLS
    // LAST (DESC's default) required: matched candidates never carry a
    // null ts, but a NULLS FIRST on a rest column would invert the pick.
    val rByName = rrel.output.map(a => a.name -> a).toMap
    val rRestNames = rKeyCols.drop(m).filterNot(_ == rTs.name)
    val wantedOrder: Seq[Attribute] =
      rTs +: rRestNames.map(c => rByName.getOrElse(c, return None))
    val os = w.orderSpec
    if (os.size != wantedOrder.size) return None
    os.zip(wantedOrder).foreach {
      case (SortOrder(a: AttributeReference, Descending, no, _), want)
          if a.exprId == want.exprId && (no == NullsLast || !a.nullable) => ()
      case _ => return None
    }

    val rIx = new KVIndex(rg.storeRef, rg.manifestRef)
    val rRestAttrs = rRestNames.map(rByName)

    // shared tail: replay the interposed Project (its inputs are join
    // outputs, which `merged` provides under the same exprIds), then
    // reproduce the Window's output: its child's columns + rn == literal 1
    def finish(merged: LogicalPlan): LogicalPlan = {
      val withProj: LogicalPlan = interposed match {
        case Some(p) => Project(p.projectList, merged)
        case None => merged
      }
      val base = Project(withProj.output :+
        Alias(Literal(1, IntegerType), rnAttr.name)(exprId = rnAttr.exprId),
        withProj)
      if (restConj.isEmpty) base
      else Filter(restConj.reduce(
        org.apache.spark.sql.catalyst.expressions.And(_, _)), base)
    }

    // TWO-GRAFT construction (preferred: neither side moves) — the left
    // equi attrs must be the LEFT snapshot's leading key prefix too, so
    // legs cut from both manifests never split a group
    val coRange: Option[LogicalPlan] = leftGraft.flatMap { case (lrel, lg, lRebuild) =>
      val lIds = lrel.output.map(_.exprId).toSet
      val lKeyCols = lg.manifestRef.keyCols
      if (m > lKeyCols.size || lEqui.map(_.name) != lKeyCols.take(m) ||
          !lEqui.forall(a => lIds.contains(a.exprId))) None
      else {
        val lIx = new KVIndex(lg.storeRef, lg.manifestRef)
        // the left key's remaining columns order each leg's left sort, so
        // the merge's ordering claim covers the whole left key
        val lByName = lrel.output.map(a => a.name -> a).toMap
        val lRest = lKeyCols.drop(m).filterNot(_ == lTs.name).map(lByName)
          .takeWhile(j.left.outputSet.contains)
        lIx.coRangeLegPlans(rIx, GraftCoRangeJoin.rowsPerLeg(lg, rg),
            lg.pushedKeyBounds, rg.pushedKeyBounds, jt, keyLen = m).map {
          case (zipOpt, leftOnlyOpt, _) =>
            val zip = zipOpt.map { case (lPlan, rPlan) =>
              AsOfZipJoin(
                lRebuild(graft.plans.OrderedPlans.aliasTo(lrel.output, lPlan)),
                rRebuild(graft.plans.OrderedPlans.aliasTo(rrel.output, rPlan)),
                lEqui, rEqui, lTs, rTs,
                lRest, rRestAttrs, leftOuter, strict, tolerance)
            }
            // equi ranges only the left covers: null-extend (left_outer
            // only; inner construction returns no left-only branch)
            val leftOnly = leftOnlyOpt.map { lp =>
              val stack = lRebuild(graft.plans.OrderedPlans.aliasTo(lrel.output, lp))
              Project(stack.output ++ j.right.output.map(GraftCoRangeJoin.nullOf), stack)
            }
            val merged: LogicalPlan = Seq(zip, leftOnly).flatten match {
              case Seq() => LocalRelation(j.output) // provably empty
              case Seq(only) => only
              case many => Union(many)
            }
            finish(merged)
        }
      }
    }

    // PROBE construction (arbitrary or non-prefix-aligned left, provably
    // unique on the partition key): route the left side onto the
    // snapshot's leg boundaries — one RDD-level partitioner shuffle of
    // the probes alone, the snapshot never moves. Legs span (-inf, +inf),
    // so left_outer needs no extra branch.
    def probe(): Option[LogicalPlan] = {
      if (j.left.isStreaming) return None
      // two snapshots the co-range merge could not pair take the equi
      // rewrite's policy for that case: a broadcastable snapshot keeps
      // the stock plan
      if (leftGraft.isDefined && GraftCoRangeJoin.broadcastable(rg)) return None
      // the snapshot is the right side of an inner/left_outer as-of, never
      // preserved: pruning its files / bloom-filtering its leg scans by
      // the probe set drops only rows that could never be a floor
      // candidate, so the eager probe bounds are always type-sound here
      GraftCoRangeJoin.routeProbe(rIx, rg, j.left, lEqui, pruneSound = true) match {
        case ProbeRoute.Routed(pStack, legPlan) =>
          val rStack = rRebuild(graft.plans.OrderedPlans.aliasTo(rrel.output, legPlan))
          Some(finish(AsOfZipJoin(pStack, rStack, lEqui, rEqui, lTs, rTs,
            Nil, rRestAttrs, leftOuter, strict, tolerance)))
        // no probes: empty for both types (the left side IS the probe side)
        case ProbeRoute.NoProbes => Some(finish(LocalRelation(j.output)))
        // zero possible matches: inner → empty; left_outer → every probe
        // row with the right side null-extended
        case ProbeRoute.AllPruned => Some(finish(
          if (leftOuter)
            Project(j.left.output ++ j.right.output.map(GraftCoRangeJoin.nullOf), j.left)
          else LocalRelation(j.output)))
        case ProbeRoute.Unzippable => None
      }
    }

    coRange.orElse(probe())
  }
}
