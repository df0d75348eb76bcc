package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.core.KVIndex
import graft.plans.DeclareRangeLaid

/** Exchange-free GROUP BY / Window PARTITION BY on a snapshot's LEADING
  * KEY PREFIX, from SQL text.
  *
  * A plain graft scan reports no partitioning, so `SELECT user_id, agg…
  * FROM cat.t GROUP BY user_id` over a (user_id, ts)-keyed snapshot pays
  * a full hash exchange of the aggregate input — the single largest
  * avoidable shuffle in a per-key pipeline at 100 TB. But the manifest
  * can hand Spark a layout where that shuffle is provably unnecessary:
  * [[graft.core.KVIndex.probeLegPlans]] with `kl = prefix length` cuts
  * leg boundaries at PREFIX-GROUP grain — no two rows sharing the prefix
  * land in different legs, and legs ascend — which is exactly Spark's own
  * `RangePartitioning(prefix)`. This rule re-plans the scan as that leg
  * union, declares the partitioning verbatim ([[DeclareRangeLaid]]), and
  * lets the STOCK `EnsureRequirements` elide the exchange: the aggregate
  * runs complete per leg, the Window keeps only a LOCAL per-leg sort
  * (leg scans pack files by size, so intra-partition key order is NOT
  * claimed), and an ORDER BY on the prefix above either needs no
  * exchange — partitions already ascend. Joins above remain safe — `RangeShuffleSpec` is
  * compatible with nothing, so a join always replans its own exchanges
  * (the [[graft.plans.ZipPartitionsJoinExec]] claim precedent).
  *
  * Matches `Aggregate` whose grouping expressions CONTAIN (as plain
  * attributes) a non-empty leading prefix of the snapshot's key columns
  * — extra grouping expressions only narrow the groups within a prefix
  * partition, so the claim still satisfies the clustered distribution —
  * and `Window` whose partitionSpec does, in both cases over a plain
  * graft scan under deterministic Filters/Projects (replayed above the
  * legs, exactly where the stock plan evaluated them; the scan's pushed
  * leading-key bounds keep pruning the legs' files). The LONGEST covered
  * prefix is claimed. Declines: no prefix attr in the clustering set, a
  * non-plain scan, an overlapping layout, or a layout the snapshot's own
  * WHERE prunes to nothing (the stock plan scans zero files anyway).
  *
  * Scale shape: leg count grows with snapshot size at ~maxRowsPerFile
  * rows per task (floor-bounded by `spark.graft.maxPlanLegs`), per-task
  * aggregate state is the leg's own group count — the same cardinality
  * the stock plan's post-shuffle partition would hold — and the shuffle
  * it deletes is the full pre-aggregation row stream.
  */
object GraftPrefixCluster extends Rule[LogicalPlan] {

  /** `spark.graft.sql.prefixCluster` (default true): kill-switch for the
    * rewrite. When it wins and when it doesn't, measured at 5M rows
    * (`ScaleProbeSpec`): a WINDOW on the prefix always wins — stock
    * window plans have no partial aggregation, so they shuffle the FULL
    * row stream; and a HIGH-cardinality GROUP BY (groups ≈ rows — the
    * per-user/per-key pipeline shape) wins for the same reason, partial
    * aggregation cannot collapse it. A LOW-cardinality GROUP BY is the
    * trade-off case: stock partial aggregation already collapses the
    * shuffle to one partial row per (group × task), so the deleted
    * exchange is small while the rewrite's legs pay the non-codegen
    * marker fence — locally that can LOSE wall time; on a cluster the
    * fence is CPU-linear while the deleted term is network, the same
    * economics as the zip join (NOTES: WSCG fence). Aggregates now
    * DECLINE that case automatically from manifest stats (see
    * [[stockAggWins]]); this switch remains the global off-ramp.
    */
  private def enabled: Boolean = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.prefixCluster", "true")
    raw.trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"spark.graft.sql.prefixCluster must be true or false, got '$other'")
    }
  }

  /** `spark.graft.sql.prefixCluster.declineShare` (default 0.25): the
    * AGGREGATE decline threshold. The rewrite's benefit is the deleted
    * pre-aggregation exchange; under stock partial aggregation that
    * exchange only carries ≈ groups × map-tasks partial rows, so when the
    * manifest says the grouping is LOW-cardinality the deleted term is a
    * sliver of the full stream and cannot repay the legs' codegen fence
    * (measured 2–3× CPU at 5M rows, ScaleProbeSpec). Decline when the
    * estimated stock-shuffle share `min(groupsLB × files, rows) / rows`
    * falls below this value. `0` disables declining (always rewrite — the
    * r17 behavior). Windows are NEVER declined: stock window plans have no
    * partial aggregation, so their deleted exchange is always the full
    * row stream.
    */
  private def declineShare: Double = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.sql.prefixCluster.declineShare", "0.25")
    val v =
      try raw.trim.toDouble
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.sql.prefixCluster.declineShare must be a number in [0, 1], got '$raw'") }
    if (v < 0 || v > 1) throw new IllegalArgumentException(
      s"spark.graft.sql.prefixCluster.declineShare must be in [0, 1], got '$raw'")
    v
  }

  /** True when manifest stats say the stock partial-aggregation plan wins:
    * a trustworthy group-count estimate implies a stock shuffle volume
    * (groups × map tasks partial rows, capped at the stream) under
    * `declineShare` of the stream the rewrite would unshuffle. Two
    * estimators, either sufficient:
    *  - the bound-transition LOWER bound, trusted only when wideFrac ≤ 0.5
    *    (most files span a single prefix group, so groups span whole files
    *    and surface at file bounds — near-exact there);
    *  - the integral-span UPPER bound (m == 1, integral/date leading
    *    column): if even the maximal possible group count keeps the stock
    *    shuffle small, declining is safe regardless of file width.
    * When neither speaks (wide files over a non-integral or composite
    * prefix), cardinality is plausibly high — the shape the rewrite was
    * measured to win — so it keeps the rewrite.
    */
  private def stockAggWins(ix: KVIndex, m: Int,
      lo: Option[Any], hi: Option[Any]): Boolean = {
    val share = declineShare
    if (share <= 0) return false
    ix.prefixGroupSignal(m, lo, hi) match {
      case Some(s) if s.rows > 0 =>
        def small(groups: Long): Boolean =
          (BigInt(groups) * s.nFiles).min(BigInt(s.rows)).toDouble < s.rows * share
        (s.wideFrac <= 0.5 && small(s.groupsLB)) || s.groupsUB.exists(small)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(ge, _, child, _) if ge.nonEmpty && enabled =>
      rewriteChild(child, clusterAttrs(ge), forAggregate = true)
        .map(nc => agg.copy(child = nc)).getOrElse(agg)
    case w: Window if w.partitionSpec.nonEmpty && enabled =>
      rewriteChild(w.child, clusterAttrs(w.partitionSpec), forAggregate = false)
        .map(nc => w.copy(child = nc)).getOrElse(w)
  }

  private def clusterAttrs(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Set[org.apache.spark.sql.catalyst.expressions.ExprId] =
    es.collect { case a: AttributeReference => a.exprId }.toSet

  private def rewriteChild(child: LogicalPlan,
      cluster: Set[org.apache.spark.sql.catalyst.expressions.ExprId],
      forAggregate: Boolean)
      : Option[LogicalPlan] = {
    if (cluster.isEmpty) return None
    // a plain scan (a registered view is the same relation) under
    // deterministic Filters/Projects, replayed above the legs
    val (rel, g, rebuild) = GraftCoRangeJoin.side(child).getOrElse(return None)
    val relOut = rel.output
    val (bLo, bHi) = g.pushedKeyBounds
    val (leadLo, leadHi) = (bLo.flatMap(_.headOption), bHi.flatMap(_.headOption))
    val keyCols = g.manifestRef.keyCols
    val relByName = relOut.map(a => a.name -> a).toMap
    // the longest leading prefix whose attrs survive column pruning AND
    // sit in the clustering set (key columns beyond the prefix may have
    // been pruned away entirely — `GROUP BY g` projects only g); the
    // RANGE claim extends beyond it to every further surviving key
    // column (a prefix-grain cut is a degenerate full-key cut, so
    // deeper ORDER BYs elide their exchange too)
    val prefixAttrs: Seq[Attribute] = keyCols.iterator
      .map(relByName.get)
      .takeWhile(o => o.exists(a => cluster.contains(a.exprId)))
      .map(_.get).toSeq
    val m = prefixAttrs.size
    if (m == 0) return None
    val rangeAttrs: Seq[Attribute] = keyCols.iterator
      .map(relByName.get).takeWhile(_.isDefined).map(_.get).toSeq

    val ix = new KVIndex(g.storeRef, g.manifestRef)
    if (!ix.zipLayoutOk) return None
    if (forAggregate && stockAggWins(ix, m, leadLo, leadHi)) return None
    ix.probeLegPlans(m, GraftCoRangeJoin.rowsPerLegConf(), leadLo, leadHi) match {
      case graft.core.ProbeLegs.Legs(_, legPlan) =>
        val aliased = graft.plans.OrderedPlans.aliasTo(relOut, legPlan)
        val co = prefixAttrs.map(SortOrder(_, Ascending))
        val ro = rangeAttrs.map(SortOrder(_, Ascending))
        // the marker's exec claims NO intra-partition order (leg scans
        // pack files by size, not key order — a Window above plans a
        // LOCAL sort, no exchange); `ro` is the CROSS-partition range
        // claim only
        Some(rebuild(DeclareRangeLaid(aliased, co, ro)))
      case _ => None // Unzippable, or the scan's own WHERE pruned all files
    }
  }
}
