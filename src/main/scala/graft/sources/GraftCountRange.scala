package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.core.{KeyOrd, KeyRange, KVIndex, LocalScan}

/** Serves `SELECT count(*) / min(k) / max(k) FROM cat.t WHERE
  * <leading-key range>` at MANIFEST cost — the SQL twin of
  * [[graft.core.KVIndex.countRange]] and the filtered complement of the
  * scan's unfiltered aggregate pushdown (`GraftScanBuilder.translateAgg`,
  * which a pushed filter correctly declines: DSV2 only pushes aggregates
  * when no post-scan filter remains, and the scan's residual-filter
  * protocol keeps exact predicates above the scan by design).
  *
  * Rewrite: `Aggregate(count/min/max, Filter(range, graftScan))` becomes
  * the same aggregate over a UNION of (k, cnt) rows:
  *
  * {{{
  *   Aggregate [coalesce(sum(cnt),0) / min(k) / max(k)]
  *     Union
  *       LocalRelation [(min covered head, interior rows), (max covered head, 0)]
  *       Project [(k, 1)] Filter <original predicate> <boundary files scan>
  * }}}
  *
  * The covered files — every file whose leading-key range lies ENTIRELY
  * inside the predicate — collapse driver-side to TWO rows (min/max/sum
  * are associative; the heads are real in-range key values), counted and
  * bounded with ZERO io; the boundary files the predicate cuts through —
  * at most two on a disjoint NULL-FREE layout — are the only files
  * scanned. A range spanning terabytes of interior files answers by
  * reading at most two; an edge-aligned or all-pruned range reads none.
  * Below the driver bound the boundary files decode on the driver
  * ([[graft.core.LocalScan]], as `KVIndex.countRange` does) and the whole
  * aggregate folds to its one row ([[LocalFold]]): no Spark job.
  * On null-bearing data the bound loosens: every file whose truncated
  * min/max carries a null at a constrained position is DEMOTED to a
  * boundary scan too (such a file may mix null-headed non-matches with
  * real matches, so it genuinely must be read — no driver-side fold can
  * avoid that IO), so `GraftScan.lastPlannedFiles` is ≤ 2 + the
  * null-demoted file count, not a flat 2.
  *
  * Reference analogue: subtree cardinalities served from node metadata
  * (reference `Meta.scala` counters, surfaced as A4 in SURVEY §2.3) —
  * this is the same stats-not-scan answer lifted to SQL text.
  *
  * Sound for ANY file layout (overlapping included): each row lives in
  * exactly one file, coverage is judged per file, and a file containing
  * null leading keys is never "covered" (null sorts first, so its
  * manifest min is null and fails the coverage check) — null-keyed rows
  * only ever meet the exact predicate in a boundary scan, which drops
  * them like SQL does.
  *
  * Eligibility: group-less count-star/count-literal aggregates only (no DISTINCT, no
  * FILTER clause), over zero or more attribute-only Projects and ONE
  * Filter whose conjuncts are all =, <, <=, >, >=, IsNotNull against
  * foldable literals over a CONTIGUOUS LEADING PREFIX of the snapshot's
  * key columns — every prefix column but the last pinned to a point
  * (equality), the last free to carry range bounds — over a plain graft
  * scan. Anything else keeps the stock plan.
  *
  * COMPOSITE prefixes (r17): `WHERE k1 = a AND k2 BETWEEN x AND y` — the
  * temporal-KV stats shape (`user_id = ? AND ts in range`) — compares
  * file bounds as PREFIX TUPLES: the predicate region is the order
  * interval [(a,x), (a,y)] of the key ordering, so a file whose full
  * (min, max) keys sit inside it (truncated-tuple compare, inclusivity
  * honored at the cut) holds ONLY matching rows and is counted from the
  * manifest. `min`/`max` are served for ANY constrained position: pinned
  * positions carry their point value, and the last (ranged) position's
  * component of the covered tuple-min/max IS the column min/max there,
  * because every earlier position is single-valued across the interval.
  * A file whose truncated min/max carries a null at a constrained
  * position is demoted to a boundary scan (null-keyed rows never satisfy
  * the null-rejecting predicate, and null sorts first — so a non-null
  * truncated min proves the whole file non-null at those positions).
  */
object GraftCountRange extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groups, aggExprs, child, _) if groups.isEmpty =>
      rewrite(agg, aggExprs, child).getOrElse(agg)
  }

  /** The aggregate shapes served from the manifest: count-star (count
    * over a literal), and min/max of a constrained key position.
    */
  private sealed trait Served
  private case object CountStar extends Served
  private final case class MinKey(pos: Int) extends Served
  private final case class MaxKey(pos: Int) extends Served

  private def served(e: NamedExpression,
                     posOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int])
      : Option[Served] = e match {
    case Alias(AggregateExpression(Count(Seq(Literal(_, _))), Complete, false, None, _), _) =>
      Some(CountStar)
    case Alias(AggregateExpression(Min(a: AttributeReference), Complete, false, None, _), _) =>
      posOf.get(a.exprId).map(MinKey)
    case Alias(AggregateExpression(Max(a: AttributeReference), Complete, false, None, _), _) =>
      posOf.get(a.exprId).map(MaxKey)
    case _ => None
  }

  private def rewrite(agg: Aggregate, aggExprs: Seq[NamedExpression],
                      child0: LogicalPlan): Option[LogicalPlan] = {
    if (aggExprs.isEmpty) return None
    // peel attribute-only Projects (column pruning for count(*))
    var child = child0
    while (child match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        child = c; true
      case _ => false
    }) ()
    val (cond, rel, g) = child match {
      case Filter(c, PlainGraftScan(r, gs)) => (c, r, gs)
      case _ => return None
    }
    val keyCols = g.manifestRef.keyCols

    // column pruning may have dropped UNCONSTRAINED key columns from the
    // scan output — only positions the predicate (or a served aggregate)
    // references are guaranteed present, and only those are looked up
    val keyAttrOpts: Seq[Option[Attribute]] =
      keyCols.map(c => rel.output.find(_.name == c))
    def keyAttrAt(p: Int): Attribute = keyAttrOpts(p).get // constrained => present
    val posOf: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Int] =
      keyAttrOpts.zipWithIndex.collect { case (Some(a), i) => a.exprId -> i }.toMap
    // every conjunct must be an exact key bound (or IS NOT NULL), and the
    // constrained columns one order interval of the key ordering: a
    // contiguous leading prefix, every column but the last pinned
    val interval = KeyRange.of(Seq(cond), keyCols.size) {
      case ar: AttributeReference => posOf.get(ar.exprId)
      case _ => None
    }.interval.getOrElse(return None)
    val m = interval.m
    val servedPosOf = posOf.filter(_._2 < m)
    val shapes = aggExprs.map(e => served(e, servedPosOf).getOrElse(return None))

    val ix = new KVIndex(g.storeRef, g.manifestRef)
    val files = ix.manifestFiles
    import interval.{aboveLo, belowHi}
    // predicate rows always lie INSIDE the interval, so a file whose
    // bounds miss it holds no match (null-keyed rows sort below every
    // non-null bound literal and prune with it). A null MAX HEAD means
    // every key in the file is null-headed — position 0 is always
    // constrained (the prefix starts there), so such a file is provably
    // matchless and prunes even when no lower bound exists to reject it.
    val overlap = files.filter(f =>
      f.max.head != null && aboveLo(f.max) && belowHi(f.min))
    // covered = the file's bounds sit inside the interval AND its
    // truncated min/max carry no null at a constrained position (null
    // sorts first: a non-null truncated min proves every row non-null
    // there, so every row satisfies the null-rejecting predicate exactly)
    val (covered, boundary) = overlap.partition(f =>
      aboveLo(f.min) && belowHi(f.max) &&
        f.min.take(m).forall(_ != null) && f.max.take(m).forall(_ != null))
    val interior = covered.map(_.rows).sum
    GraftScan.lastPlannedFiles = boundary.size

    // The replacement aggregates over a UNION of two row sources shaped
    // (served key positions..., cnt):
    //  - the covered files collapse DRIVER-SIDE to at most TWO rows —
    //    (components of the covered tuple-min, interior row sum) and
    //    (components of the covered tuple-max, 0): min/max/sum are
    //    associative, the components are real in-range column values
    //    (pinned positions are single-valued; the last position's
    //    component of the tuple extremes IS the column extreme there),
    //    so the partials are exact and the LocalRelation stays O(1) no
    //    matter how many million files the range spans;
    //  - the boundary files (≤2 on a disjoint null-free layout, plus any
    //    null-demoted files on null-bearing data) scanned with the
    //    ORIGINAL predicate, each row as (cols..., 1).
    // count(*) = coalesce(sum(cnt), 0); min/max(k_p) = min/max over col p.
    val servedPos: Seq[Int] = shapes.collect {
      case MinKey(p) => p
      case MaxKey(p) => p
    }.distinct.sorted
    val outAttrs: Map[Int, AttributeReference] = servedPos.map(p =>
      p -> AttributeReference(s"graft_k$p", keyAttrAt(p).dataType, nullable = true)()).toMap
    val cOut = AttributeReference("graft_cnt", LongType, nullable = false)()
    def narrow(v: Any, keyType: org.apache.spark.sql.types.DataType): Any = (v, keyType) match {
      // manifest JSON round-trips widen numerics (Int -> Long, Float ->
      // Double): narrow back before the catalyst conversion
      case (n: java.lang.Number, org.apache.spark.sql.types.IntegerType) => Int.box(n.intValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.ShortType) => Short.box(n.shortValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.ByteType) => Byte.box(n.byteValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.LongType) => Long.box(n.longValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.FloatType) => Float.box(n.floatValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.DoubleType) => Double.box(n.doubleValue())
      case _ => v
    }
    val toInternal: Map[Int, Any => Any] = servedPos.map(p =>
      p -> CatalystTypeConverters.createToCatalystConverter(keyAttrAt(p).dataType)).toMap
    val statRows: Seq[InternalRow] =
      if (covered.isEmpty) Nil
      else {
        val minTuple = covered.map(_.min)
          .reduce((a, b) => if (KeyOrd.compare(a, b) <= 0) a else b)
        val maxTuple = covered.map(_.max)
          .reduce((a, b) => if (KeyOrd.compare(a, b) >= 0) a else b)
        def row(t: Seq[Any], cnt: Long) = InternalRow.fromSeq(
          servedPos.map(p =>
            toInternal(p)(narrow(t(p), keyAttrAt(p).dataType))) :+ (cnt: Any))
        Seq(row(minTuple, interior), row(maxTuple, 0L))
      }
    val statsRel = LocalFold.mark(LocalRelation(servedPos.map(outAttrs) :+ cOut, statRows))
    val branches: Seq[LogicalPlan] =
      if (boundary.isEmpty) Seq(statsRel)
      else {
        // read ONLY the boundary files — on the driver when the tier
        // serves them — and re-apply the ORIGINAL predicate exactly (its
        // attr exprIds restored over the bounded read)
        val bScan = LocalScan(g.storeRef, g.manifestRef, boundary).fold(
          g.storeRef.readFiles(boundary.map(_.path), g.manifestRef).queryExecution.analyzed)(
          ls => LocalFold.mark(ls.relation(LocalFold.onSnapshot(Seq(cond)))))
        val bAliased = graft.plans.OrderedPlans.aliasTo(rel.output, bScan)
        val bRows = Project(
          servedPos.map(p => Alias(keyAttrAt(p), outAttrs(p).name)(
            exprId = outAttrs(p).exprId): NamedExpression) :+
            Alias(Literal(1L), cOut.name)(exprId = cOut.exprId),
          Filter(cond, bAliased))
        Seq(statsRel, bRows)
      }
    val src: LogicalPlan = branches match {
      case Seq(only) => only
      case many => Union(many)
    }
    def ae(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction) =
      AggregateExpression(f, Complete, isDistinct = false)
    val outExprs: Seq[NamedExpression] = aggExprs.zip(shapes).map { case (a, sh) =>
      val expr: Expression = sh match {
        case CountStar => Coalesce(Seq(ae(Sum(cOut)), Literal(0L)))
        case MinKey(p) => ae(Min(outAttrs(p)))
        case MaxKey(p) => ae(Max(outAttrs(p)))
      }
      Alias(expr, a.name)(exprId = a.exprId)
    }
    // with every branch on the driver the aggregate folds to its one row
    Some(LocalFold(Aggregate(Nil, outExprs, src, None)))
  }
}
