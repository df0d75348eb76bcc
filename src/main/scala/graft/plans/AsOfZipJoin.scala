package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Partition-zipped AS-OF join of two CO-RANGED children — the temporal
  * "latest right row at-or-before" lookup ([[graft.core.KVIndex.asOfJoin]],
  * planned by [[graft.sources.GraftAsOfIdiom]]) run as a per-leg merge with ZERO exchanges, the way
  * [[ZipPartitionsJoin]] runs equi-joins.
  *
  * Contract (the CALLER constructs it, this node trusts it): partition i of
  * `left` and partition i of `right` hold exactly the rows of the same
  * EQUI-KEY-PREFIX range — leg boundaries are length-`leftEqui.size` prefix
  * tuples cut from both manifests' file bounds, so an equi-key group can
  * never be split across legs (the r15 key-PREFIX join's leg rule). Under
  * that invariant each left row's as-of match lives in the same partition
  * index, and the join is `zipPartitions` + a per-leg ordered merge.
  *
  * Semantics: for every left row, attach the single right row with the
  * greatest `rightTs` at-or-before (`strict` = strictly-before) the left
  * row's `leftTs` within the same equi-key group, ties on (equi, ts)
  * broken by the greatest `rightRest` tuple (the side's remaining key
  * columns — unique under the engine's key contract, so the pick is
  * deterministic). `tolerance >= 0` additionally requires
  * `leftTs - rightTs <= tolerance` in the ts type's native units (integral
  * value, days for DATE, microseconds for TIMESTAMP). Unmatched left rows
  * are dropped (INNER) or null-extended (`leftOuter`). Null equi/ts values
  * never match, SQL-style.
  *
  * Memory: O(1) beyond the enforced child sorts.
  * [[AsOfZipJoinExec.requiredChildOrdering]] asks for both legs sorted by
  * (equi, ts, rest), so `EnsureRequirements` inserts LOCAL spillable sorts
  * (no exchange — the distribution requirement stays unspecified); the
  * merge then holds exactly ONE candidate right row (the best-so-far for
  * the current equi group). No group buffer at all — the as-of attach is
  * 1:1, never 1:many, which makes this strictly cheaper than the equi
  * merge on duplicate-heavy ts columns.
  *
  * Output ordering/partitioning: left rows stream in (equi, ts, rest)
  * order and legs are cut at prefix boundaries, so the output claims the
  * left sort as `outputOrdering` and the stock `RangePartitioning` over it
  * — ORDER BY / GROUP BY / PARTITION BY on the left key above the join
  * plans no sort and no exchange (same justification as the key-prefix
  * equi join: rows equal on the full tuple are unique by the key contract,
  * and a prefix boundary never splits an equi group).
  */
final case class AsOfZipJoin(left: LogicalPlan, right: LogicalPlan,
                             leftEqui: Seq[Attribute], rightEqui: Seq[Attribute],
                             leftTs: Attribute, rightTs: Attribute,
                             leftRest: Seq[Attribute], rightRest: Seq[Attribute],
                             leftOuter: Boolean, strict: Boolean,
                             tolerance: Long) extends BinaryNode {
  require(leftEqui.size == rightEqui.size && leftEqui.nonEmpty,
    "AsOfZipJoin: equi-key lists must match in arity and be non-empty")
  require(leftEqui.map(_.dataType) == rightEqui.map(_.dataType),
    "AsOfZipJoin: equi-key types must match positionally")
  require(leftTs.dataType == rightTs.dataType,
    "AsOfZipJoin: ts column types must match")
  require(tolerance < 0 || AsOfZipJoin.toleranceSupported(leftTs.dataType),
    s"AsOfZipJoin: tolerance unsupported for ts type ${leftTs.dataType}")
  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfZipJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfZipJoin {
  /** TIMESTAMP_NTZ deliberately excluded: the exec could diff raw micros,
    * but the stock plan ([[graft.core.KVIndex.asOfJoin]]'s band) can only
    * express the delta through a tz cast, which shifts across DST
    * boundaries — the two paths would disagree on edge rows.
    */
  def toleranceSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => true
    case _ => false
  }
}

final case class AsOfZipJoinExec(left: SparkPlan, right: SparkPlan,
                                 leftEqui: Seq[Expression], rightEqui: Seq[Expression],
                                 leftTs: Expression, rightTs: Expression,
                                 leftRest: Seq[Expression], rightRest: Seq[Expression],
                                 leftOuter: Boolean, strict: Boolean,
                                 tolerance: Long) extends BinaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override def output: Seq[Attribute] =
    if (leftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  private def leftSort: Seq[Expression] =
    ((leftEqui :+ leftTs) ++ leftRest).distinct
  private def rightSort: Seq[Expression] =
    ((rightEqui :+ rightTs) ++ rightRest).distinct

  /** Local spillable sorts per leg, no exchange — task memory is bounded
    * at any leg size (the leg construction's contract, as in the equi zip
    * join).
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftSort.map(SortOrder(_, Ascending)),
      rightSort.map(SortOrder(_, Ascending)))

  /** Left rows stream in sort order for BOTH types (inner drops rows,
    * which preserves order), so the left sort is an honest claim.
    */
  override def outputOrdering: Seq[SortOrder] =
    leftSort.map(SortOrder(_, Ascending))

  override def outputPartitioning
      : org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.RangePartitioning(
      outputOrdering, left.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val lrdd = left.execute()
    val rrdd = right.execute()
    require(lrdd.getNumPartitions == rrdd.getNumPartitions,
      s"as-of co-range join children must have identical partitioning: " +
        s"${lrdd.getNumPartitions} vs ${rrdd.getNumPartitions} partitions")
    val numOutputRows = longMetric("numOutputRows")
    val kl = leftEqui.size
    val lKeyExprs = leftEqui :+ leftTs // (equi, ts) — the merge compare key
    val rKeyExprs = rightEqui :+ rightTs
    val keyTypes = lKeyExprs.map(_.dataType)
    val tsType = leftTs.dataType
    val lAttrs = left.output
    val rAttrs = right.output
    val outer = leftOuter
    val strictB = strict
    val tol = tolerance
    lrdd.zipPartitions(rrdd, preservesPartitioning = false) { (li, ri) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lAttrs)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rAttrs)
      // bind the output projection with OUTPUT nullability: left-outer
      // feeds all-null rows through the right slots (same trap as the
      // equi exec — see its bind note)
      val rA: Seq[Attribute] =
        if (outer) rAttrs.map(_.withNullability(true)) else rAttrs
      val outProj = UnsafeProjection.create(
        (lAttrs ++ rA).map(_.asInstanceOf[Expression]), lAttrs ++ rA)
      val rToUnsafe = UnsafeProjection.create(
        rAttrs.map(_.asInstanceOf[Expression]), rAttrs)
      def asUnsafe(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u
        case other => rToUnsafe(other)
      }
      // fullOrd compares (equi, ts); prefixOrd the equi prefix only (an
      // ordering over the first kl types reads fields 0..kl-1 of either
      // key row)
      val fullOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val prefixOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes.take(kl))
      // ts extraction for the tolerance bound, in the type's native units
      val tsLong: (InternalRow, Int) => Long = tsType match {
        case LongType | TimestampType | TimestampNTZType => (r, i) => r.getLong(i)
        case IntegerType | DateType => (r, i) => r.getInt(i).toLong
        case ShortType => (r, i) => r.getShort(i).toLong
        case ByteType => (r, i) => r.getByte(i).toLong
        case _ => (_, _) => 0L // unreachable: tolerance < 0 for other types
      }
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rAttrs.size)

      new Iterator[InternalRow] {
        // best-so-far right row for the current scan position: the LAST
        // right row advanced over. Copied (one copy per right row, each
        // advanced at most once) because the child iterators reuse row
        // buffers across next() calls.
        private var cand: UnsafeRow = _
        private var candKey: UnsafeRow = _ // its (equi, ts) key
        private var rRow: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rLoaded = false
        private var started = false
        private var staged: InternalRow = _

        private def advanceRight(): Unit = {
          while (ri.hasNext) {
            val r = ri.next(); val k = rKeyProj(r)
            // a null equi/ts component never matches anything — skip
            if (!k.anyNull) { rRow = r; rKey = k; rLoaded = true; return }
          }
          rRow = null; rKey = null; rLoaded = false
        }

        private def prepare(): Boolean = {
          if (!started) { advanceRight(); started = true }
          while (li.hasNext) {
            val lRow = li.next(); val lKey = lKeyProj(lRow)
            var matched: UnsafeRow = null
            if (!lKey.anyNull) {
              // advance right up to (or strictly below) the left (equi, ts)
              // position; the last row advanced over is the best candidate
              while (rLoaded && {
                  val c = fullOrd.compare(rKey, lKey)
                  if (strictB) c < 0 else c <= 0 }) {
                cand = asUnsafe(rRow).copy(); candKey = rKey.copy()
                advanceRight()
              }
              if (cand != null && prefixOrd.compare(candKey, lKey) == 0 &&
                  (tol < 0L ||
                    tsLong(lKey, kl) - tsLong(candKey, kl) <= tol))
                matched = cand
            }
            if (matched != null) {
              numOutputRows += 1; staged = outProj(joined(lRow, matched))
              return true
            } else if (outer) {
              numOutputRows += 1; staged = outProj(joined(lRow, nullRight))
              return true
            } // inner: unmatched left rows drop — keep scanning
          }
          false
        }

        override def hasNext: Boolean = staged != null || prepare()

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty as-of iterator")
          val out = staged; staged = null
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfZipJoinExec =
    copy(left = newLeft, right = newRight)
}
