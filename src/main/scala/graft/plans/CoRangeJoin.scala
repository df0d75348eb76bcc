package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Partition-zipped equi-join of two CO-RANGED children — the physical
  * half of the snapshot-layout join ([[graft.sources.GraftCoRangeJoin]]).
  *
  * Contract (the CALLER constructs it, this node trusts it): partition i
  * of `left` and partition i of `right` hold exactly the rows of the same
  * key RANGE — a shared, totally ordered sequence of leg boundaries cut
  * from BOTH manifests' file bounds, every row routed to exactly one leg.
  * Under that invariant a join key can only ever meet its match inside
  * the same partition index, so the join is `zipPartitions` + a per-leg
  * STREAMING MERGE join: ZERO exchanges on either side, the snapshot
  * range layout doing for joins what the manifest stitch does for
  * ORDER BY.
  *
  * Join types: INNER, the LEFT-preserving family (LeftOuter, LeftSemi,
  * LeftAnti), RIGHT OUTER and FULL OUTER — the snapshot-diff primitives
  * ("which keys are missing / present / changed on either side") with no
  * shuffle. For the preserving types the caller must route EVERY
  * preserved row into some leg (ranges only one side covers ride the
  * `leftOnly`/`rightOnly` branches of `coRangeLegPlans`). Null join keys
  * follow SQL equality: never matched, so inner/semi drop them, outer
  * types null-extend them, anti keeps them.
  *
  * Spark's own vocabulary cannot express the leg invariant —
  * `KeyGroupedPartitioning` (storage-partitioned joins) requires each
  * partition to hold ONE partition-key value, while a range leg holds an
  * interval of keys — which is why this is a custom node rather than a
  * `SupportsReportPartitioning` report on the scan; see the design note
  * on [[graft.sources.GraftCoRangeJoin]].
  *
  * Memory: NO build side. [[ZipPartitionsJoinExec.requiredChildOrdering]]
  * asks for both legs sorted by their keys, so `EnsureRequirements`
  * inserts a LOCAL `SortExec` per child (no exchange — the distribution
  * requirement stays unspecified) whose `UnsafeExternalSorter` SPILLS to
  * disk past its managed-memory budget; the join itself then streams both
  * sorted iterators, buffering only the CURRENT duplicate-key group of
  * the right leg — and that buffer is ITSELF spillable
  * ([[org.apache.spark.sql.graft.SpillableRowBuffer]], the structure
  * Spark's own SMJ buffers matched groups in, same threshold confs).
  * Per-task heap is therefore bounded no matter how large a leg grows OR
  * how hot one key is: an oversized leg (or a pathological rows-per-leg
  * setting) degrades to a disk-backed sort, and a duplicate-heavy key
  * (a key-prefix join's group, or a snapshot built with `validateKeys =
  * false` that breaks the engine's key-unique contract) degrades to a
  * disk-backed group — never an OOM.
  */
/** `coalesced` (FULL/RIGHT OUTER only): (left, right) attribute pairs the
  * join COALESCEs INSIDE the exec — the pair's value lands in the LEFT
  * attribute's output slot and the right partner is dropped from the
  * output. This is the USING-join shape (key and version columns of a
  * two-snapshot diff) folded into the operator, and it is what lets these
  * types KEEP their layout claims: with the key slots coalesced, every
  * output row — matched, left-only, right-only — carries its key in the
  * left key attributes, so the merge's key-ordered emission is an honest
  * `outputOrdering`/`RangePartitioning` and a GROUP BY / ORDER BY on the
  * key above a snapshot diff plans NO exchange. Must cover all key pairs
  * (claims on a partially-coalesced key would be unsound); empty = the
  * SQL ON-join shape (both sides' columns in the output, FULL OUTER
  * claims nothing).
  */
final case class ZipPartitionsJoin(left: LogicalPlan, right: LogicalPlan,
                                   leftKeys: Seq[Attribute],
                                   rightKeys: Seq[Attribute],
                                   joinType: JoinType = Inner,
                                   coalescedLeft: Seq[Attribute] = Nil,
                                   coalescedRight: Seq[Attribute] = Nil)
    extends BinaryNode {
  require(leftKeys.size == rightKeys.size && leftKeys.nonEmpty)
  require(ZipPartitionsJoin.supports(joinType),
    s"ZipPartitionsJoin: unsupported join type $joinType")
  // NOTE: the pairs live as two parallel Seq[Attribute] FIELDS (not a
  // Seq of tuples) deliberately: attribute containers are traversed by
  // TreeNode's expression discovery, so attr-rewriting rules
  // (DeduplicateRelations, makeCopy-driven transforms) rewrite them in
  // lockstep with leftKeys/rightKeys, and QueryPlan.references sees the
  // right-side partners (tuple fields would be invisible and stock
  // ColumnPruning would prune them out from under the exec).
  require(coalescedLeft.size == coalescedRight.size &&
    (coalescedLeft.isEmpty || joinType == FullOuter || joinType == RightOuter),
    "ZipPartitionsJoin: coalesced output requires full/right outer")
  override def output: Seq[Attribute] = ZipPartitionsJoin.outputFor(
    joinType, left.output, right.output, coalescedLeft.zip(coalescedRight))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ZipPartitionsJoin =
    copy(left = newLeft, right = newRight)
}

object ZipPartitionsJoin {
  def supports(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter | LeftSemi | LeftAnti | RightOuter | FullOuter => true
    case _ => false
  }

  /** Shared logical/physical output derivation. Coalesced slots are
    * non-null when NEITHER partner is nullable (matched rows take the
    * left value, one-sided rows the surviving side's — there is always
    * one); all other slots of a null-extending type go nullable.
    */
  private[graft] def outputFor(jt: JoinType, lOut: Seq[Attribute],
                               rOut: Seq[Attribute],
                               coalesced: Seq[(Attribute, Attribute)]): Seq[Attribute] =
    jt match {
      case LeftSemi | LeftAnti => lOut
      case LeftOuter => lOut ++ rOut.map(_.withNullability(true))
      case (RightOuter | FullOuter) if coalesced.nonEmpty =>
        val byL = coalesced.map { case (l, r) => l.exprId -> r }.toMap
        val rDrop = coalesced.map(_._2.exprId).toSet
        lOut.map { a =>
          byL.get(a.exprId) match {
            case Some(r) => a.withNullability(a.nullable && r.nullable)
            case None => a.withNullability(true)
          }
        } ++ rOut.filterNot(a => rDrop.contains(a.exprId)).map(a =>
          if (jt == RightOuter) a else a.withNullability(true))
      case RightOuter => lOut.map(_.withNullability(true)) ++ rOut
      case FullOuter => lOut.map(_.withNullability(true)) ++
        rOut.map(_.withNullability(true))
      case _ => lOut ++ rOut
    }
}

final case class ZipPartitionsJoinExec(left: SparkPlan, right: SparkPlan,
                                       leftKeys: Seq[Expression],
                                       rightKeys: Seq[Expression],
                                       joinType: JoinType,
                                       coalescedLeft: Seq[Attribute] = Nil,
                                       coalescedRight: Seq[Attribute] = Nil)
    extends BinaryExecNode {

  private def coalesced: Seq[(Attribute, Attribute)] =
    coalescedLeft.zip(coalescedRight)

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] =
    ZipPartitionsJoin.outputFor(joinType, left.output, right.output, coalesced)

  /** Sorted legs make the join a stream: `EnsureRequirements` satisfies
    * this with a local, SPILLABLE sort per child (no exchange — the
    * distribution requirement is unspecified), which is what bounds task
    * memory at any leg size.
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftKeys.map(SortOrder(_, Ascending)),
      rightKeys.map(SortOrder(_, Ascending)))

  /** With a COALESCED output (full/right outer under the USING/diff key
    * coalesce), every row carries its key in the left key slots, matched or
    * not, and the merge emits in global key order across both sides — so
    * the left-key ordering claim is honest for BOTH types. Without it,
    * FULL OUTER interleaves right-only rows whose LEFT attributes are
    * null, so neither the left-key ordering nor the range partitioning
    * survives — both claims are dropped; RIGHT OUTER claims them on the
    * RIGHT keys instead (its preserved, never-null side: the merge emits
    * in key order and right-only rows carry their own key).
    */
  override def outputOrdering: Seq[SortOrder] =
    joinType match {
      case FullOuter if coalesced.isEmpty => Nil
      case RightOuter if coalesced.isEmpty =>
        rightKeys.map(SortOrder(_, Ascending))
      case _ => leftKeys.map(SortOrder(_, Ascending))
    }

  /** The output is range-partitioned by the FULL left key list in the
    * exact sense of Spark's own [[RangePartitioning]]: leg i covers a key
    * range strictly below leg i+1 (the shared boundary cut is a sequence
    * of full-key values with half-open leg predicates, so rows equal on
    * the whole key tuple always share a leg), and within a leg the merge
    * streams in key order. Reporting the stock partitioning buys, with
    * stock semantics and zero custom rules: ORDER BY the join key elides
    * its global sort and range exchange; GROUP BY / PARTITION BY any
    * superset of the keys elides its hash exchange (`satisfies0` demands
    * every ordering expression in the clustering, so a key PREFIX —
    * which a boundary CAN split — correctly keeps its shuffle); and a
    * further join above replans its own exchanges (`RangeShuffleSpec` is
    * compatible with nothing and cannot create a partitioning, so
    * EnsureRequirements never zips two of these against each other).
    * Rests on the engine's non-null key contract (a null-keyed row has no
    * place in a range layout to begin with).
    */
  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    if (joinType == FullOuter && coalesced.isEmpty)
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
        left.outputPartitioning.numPartitions)
    else
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning(
        outputOrdering, left.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val lrdd = left.execute()
    val rrdd = right.execute()
    require(lrdd.getNumPartitions == rrdd.getNumPartitions,
      s"co-range join children must have identical partitioning: " +
        s"${lrdd.getNumPartitions} vs ${rrdd.getNumPartitions} partitions")
    val numOutputRows = longMetric("numOutputRows")
    val jt = joinType
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lAttrs = left.output
    val rAttrs = right.output
    val keyTypes = leftKeys.map(_.dataType)
    // duplicate-key group buffer thresholds: the stock SMJ spill confs,
    // read DRIVER-side and captured (SQLConf.get is empty on executors)
    val (memThreshold, spillThreshold, spillSizeThreshold) =
      org.apache.spark.sql.graft.SpillableRowBuffer.thresholds()
    lrdd.zipPartitions(rrdd, preservesPartitioning = false) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lAttrs)
      val rKeyProj = UnsafeProjection.create(rKeys, rAttrs)
      // the output projection must bind with the OUTPUT's nullability,
      // not the children's: a null-extending type feeds all-null rows
      // through the absent side's slots, and a reference bound
      // non-nullable (e.g. a child column that is a non-null literal
      // alias) would skip the null check and emit a spurious value
      val lA: Seq[Attribute] =
        if (jt == RightOuter || jt == FullOuter) lAttrs.map(_.withNullability(true))
        else lAttrs
      val rA: Seq[Attribute] =
        if (jt == LeftOuter || jt == FullOuter) rAttrs.map(_.withNullability(true))
        else rAttrs
      // coalesced mode folds the USING-shape key/version coalesce into
      // the output projection itself — ONE projection serves matched,
      // left-only and right-only emissions (the absent side is the
      // all-null row, so Coalesce picks the surviving side's value)
      val outExprs: Seq[Expression] =
        if (coalesced.isEmpty) (lA ++ rA).map(_.asInstanceOf[Expression])
        else {
          val byL = coalesced.map { case (a, b) => a.exprId -> b }.toMap
          val rDrop = coalesced.map(_._2.exprId).toSet
          val rByIdA = rA.map(a => a.exprId -> a).toMap
          lA.map(a => byL.get(a.exprId)
            .map(r => org.apache.spark.sql.catalyst.expressions.Coalesce(
                Seq(a, rByIdA(r.exprId)))
              .asInstanceOf[Expression])
            .getOrElse(a)) ++
            rA.filterNot(a => rDrop.contains(a.exprId))
        }
      // bind against the nullable-adjusted input: BindReferences takes a
      // reference's nullability from the INPUT schema attr, so the
      // adjusted copies must be the schema, not just the expressions
      val outPair = UnsafeProjection.create(outExprs, lA ++ rA)
      val outLeft = UnsafeProjection.create(
        lAttrs.map(_.asInstanceOf[Expression]), lAttrs)
      // rows are UnsafeRow off the enforced local sorts; the projection is
      // the defensive fallback for any other child shape (add() copies, so
      // handing it a reused buffer is safe)
      val rToUnsafe = UnsafeProjection.create(
        rAttrs.map(_.asInstanceOf[Expression]), rAttrs)
      def asUnsafe(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u
        case other => rToUnsafe(other)
      }
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rAttrs.size) // all-null row

      // FULL / RIGHT OUTER: a symmetric merge that also emits unmatched
      // RIGHT rows (null-extended on the left); right outer SKIPS
      // unmatched-left emissions. Lookahead on both sides; a staged
      // emission advances its source only AFTER the row is consumed, so
      // the scan/sort row-buffer reuse never corrupts it.
      if (jt == FullOuter || jt == RightOuter) new Iterator[InternalRow] {
        private val nullLeft = new GenericInternalRow(lAttrs.size)
        private var lRow: InternalRow = _; private var lKey: UnsafeRow = _
        private var lLoaded = false
        private var rRow: InternalRow = _; private var rKey: UnsafeRow = _
        private var rLoaded = false
        // duplicate-key group = FIRST row (plain field — the key-unique
        // fast path) + a lazily-created SPILLABLE buffer for rows 2..n
        // (SMJ's own structure): a hot key degrades to disk, never an
        // executor OOM, while the common single-row group costs one copy
        private var rGroupKey: UnsafeRow = _
        private var rFirst: UnsafeRow = _
        private var rRest: org.apache.spark.sql.graft.SpillableRowBuffer = _
        private var rRestN = 0
        private var pairFirst = true // current left row still owes (lRow, rFirst)
        private var restIter: Iterator[UnsafeRow] = _
        private var emitKind = 0 // 1 = pair, 2 = left-only, 3 = right-only
        private var started = false
        private var done = false

        private def loadLeft(): Unit = {
          pairFirst = true; restIter = null // fresh left row re-pairs the group
          if (li.hasNext) { lRow = li.next(); lKey = lKeyProj(lRow); lLoaded = true }
          else { lRow = null; lLoaded = false }
        }
        private def loadRight(): Unit =
          if (ri.hasNext) { rRow = ri.next(); rKey = rKeyProj(rRow); rLoaded = true }
          else { rRow = null; rLoaded = false }

        // RIGHT OUTER shares this merge but SKIPS unmatched-left
        // emissions: the left row just advances
        private def stageLeftOnly(): Unit =
          if (jt == RightOuter) loadLeft() else emitKind = 2

        private def prepare(): Boolean = {
          if (!started) { loadLeft(); loadRight(); started = true }
          while (true) {
            if (emitKind != 0) return true
            if (lLoaded && rGroupKey != null) {
              if (!lKey.anyNull && keyOrd.compare(lKey, rGroupKey) == 0) {
                if (pairFirst) { emitKind = 1; return true }
                if (rRestN > 0) {
                  if (restIter == null) restIter = rRest.iterator
                  if (restIter.hasNext) { emitKind = 1; return true }
                }
                loadLeft() // this left's pairs are all emitted
              } else if (lKey.anyNull || keyOrd.compare(lKey, rGroupKey) > 0) {
                rGroupKey = null; rFirst = null; restIter = null // permanently stale
                if (rRestN > 0) { rRest.clear(); rRestN = 0 }
              } else stageLeftOnly() // defensively unmatched
            }
            else if (!lLoaded && !rLoaded) return false
            else if (!lLoaded) emitKind = 3 // drain unmatched right
            else if (lKey.anyNull) stageLeftOnly() // null key never matches
            else if (!rLoaded) stageLeftOnly() // drain unmatched left
            else if (rKey.anyNull) emitKind = 3
            else {
              val c = keyOrd.compare(rKey, lKey)
              if (c < 0) emitKind = 3
              else if (c > 0) stageLeftOnly()
              else { // buffer the duplicate-key group, then pair
                rGroupKey = rKey.copy()
                rFirst = asUnsafe(rRow).copy()
                if (rRestN > 0) { rRest.clear(); rRestN = 0 }
                pairFirst = true; restIter = null
                loadRight()
                while (rLoaded && !rKey.anyNull &&
                    keyOrd.compare(rKey, rGroupKey) == 0) {
                  if (rRest == null) rRest = new org.apache.spark.sql.graft
                    .SpillableRowBuffer(memThreshold, spillThreshold, spillSizeThreshold)
                  rRest.add(asUnsafe(rRow)); rRestN += 1
                  loadRight()
                }
              }
            }
          }
          false
        }

        override def hasNext: Boolean =
          !done && { val h = prepare(); if (!h) done = true; h }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty join iterator")
          numOutputRows += 1
          emitKind match {
            case 1 =>
              val r = if (pairFirst) { pairFirst = false; rFirst }
                      else restIter.next()
              val out = outPair(joined(lRow, r))
              emitKind = 0 // prepare() stages the next pair or advances left
              out
            case 2 =>
              val out = outPair(joined(lRow, nullRight))
              emitKind = 0; loadLeft()
              out
            case _ =>
              val out = outPair(joined(nullLeft, rRow))
              emitKind = 0; loadRight()
              out
          }
        }
      }
      // streaming many-to-many merge join over two key-sorted iterators.
      // Only the right side's CURRENT duplicate-key group is buffered —
      // in a SPILLABLE array (SMJ's own structure), so a hot key degrades
      // to disk instead of an executor OOM; semi/anti never read group
      // rows and skip buffering entirely. The left row is held by
      // reference, safe because `li.next()` is never called while its
      // emissions still stream.
      else new Iterator[InternalRow] {
        private var lRow: InternalRow = _
        private var lKey: UnsafeRow = _
        // only the pair-emitting types need the group's ROWS; semi/anti
        // need just the key-existence test. The group splits into its
        // FIRST row (a plain field) and a lazily-created spillable buffer
        // for rows 2..n: under the engine's key-unique contract nearly
        // every group is a single row, and the fast path costs one copy —
        // no buffer machinery, no per-left-row iterator allocation.
        private val buffers = jt == Inner || jt == LeftOuter
        private var rGroupKey: UnsafeRow = _ // null = no live group
        private var rFirst: UnsafeRow = _
        private var rRest: org.apache.spark.sql.graft.SpillableRowBuffer = _
        private var rRestN = 0
        private var emitFirst = false // current left row still owes (lRow, rFirst)
        private var restIter: Iterator[UnsafeRow] = _ // current left's rows 2..n
        private var rRow: InternalRow = _ // lookahead; null once exhausted
        private var rKey: UnsafeRow = _
        private var rStarted = false
        private var emitGroup = false
        private var emitLeftOnly = false // emit lRow alone / null-extended
        private var done = false

        private def advanceRight(): Unit = {
          while (ri.hasNext) {
            val r = ri.next(); val k = rKeyProj(r)
            if (!k.anyNull) { rRow = r; rKey = k; return }
          }
          rRow = null; rKey = null
        }

        /** Loads/checks the right duplicate-key group for the CURRENT
          * left key; false for a null left key (SQL equality).
          */
        private def matched(): Boolean = {
          if (lKey.anyNull) return false
          if (rGroupKey != null) {
            val c = keyOrd.compare(lKey, rGroupKey)
            if (c == 0) return true
            if (c < 0) return false // left below the buffered group
            rGroupKey = null; rFirst = null // permanently stale
            if (rRestN > 0) { rRest.clear(); rRestN = 0 }
          }
          while (rRow != null && keyOrd.compare(rKey, lKey) < 0) advanceRight()
          if (rRow != null && keyOrd.compare(rKey, lKey) == 0) {
            rGroupKey = rKey.copy()
            if (buffers) rFirst = asUnsafe(rRow).copy()
            advanceRight()
            while (rRow != null && keyOrd.compare(rKey, rGroupKey) == 0) {
              if (buffers) {
                if (rRest == null) rRest = new org.apache.spark.sql.graft
                  .SpillableRowBuffer(memThreshold, spillThreshold, spillSizeThreshold)
                rRest.add(asUnsafe(rRow)); rRestN += 1
              }
              advanceRight()
            }
            true
          } else false
        }

        /** Positions the iterator on the next emission. */
        private def prepare(): Boolean = {
          while (true) {
            if (emitGroup) {
              if (emitFirst) return true
              if (rRestN > 0) {
                if (restIter == null) restIter = rRest.iterator
                if (restIter.hasNext) return true
              }
              emitGroup = false; restIter = null
            }
            if (emitLeftOnly) return true
            if (!rStarted) { advanceRight(); rStarted = true }
            if (!li.hasNext) return false
            lRow = li.next(); lKey = lKeyProj(lRow)
            val m = matched()
            jt match {
              case Inner => if (m) { emitGroup = true; emitFirst = true; restIter = null }
              case LeftSemi => if (m) emitLeftOnly = true
              case LeftAnti => if (!m) emitLeftOnly = true
              case LeftOuter =>
                if (m) { emitGroup = true; emitFirst = true; restIter = null }
                else emitLeftOnly = true
              case t => throw new IllegalStateException(s"unsupported: $t")
            }
          }
          false
        }

        override def hasNext: Boolean =
          !done && { val h = prepare(); if (!h) done = true; h }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty join iterator")
          numOutputRows += 1
          if (emitLeftOnly) {
            emitLeftOnly = false
            jt match {
              case LeftOuter => outPair(joined(lRow, nullRight))
              case _ => outLeft(lRow)
            }
          } else if (emitFirst) {
            emitFirst = false
            outPair(joined(lRow, rFirst))
          } else outPair(joined(lRow, restIter.next()))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ZipPartitionsJoinExec =
    copy(left = newLeft, right = newRight)
}
