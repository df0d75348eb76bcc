package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's whole ordered-query surface (`QueryableIndex.scala`) as
  * pure DataFrame transforms over a table with a declared composite sort key.
  *
  * Design note (SURVEY §2.2/§4): every reference scan is an iterator with
  * seek + filter + limit pushdown (`RichAsyncIndexIterator.scala:13-41`).
  * Here each operator *declares* filter+sort+limit and Catalyst compiles the
  * same physical behavior — predicate pushdown to parquet (the seek,
  * replacing `findPath` descent `Index.scala:85-99`), min/max row-group skip
  * (replacing meta-block binary search `Meta.scala:43-53`), and
  * `TakeOrderedAndProject` top-k (replacing the iterator `stop` flag).
  * Nothing here collects to the driver; every result is a DataFrame that
  * scales to arbitrarily many executors. (The snapshot reads of [[KVIndex]]
  * answer small reads — covering files within [[LocalScan.BudgetBytes]] —
  * from a driver-side decode instead of these transforms.)
  */
final case class OrderedTable(df: DataFrame, key: KeySpec) {

  private def sorted(reverse: Boolean): DataFrame =
    df.orderBy(key.sortCols(reverse): _*)

  // ---- §2.1 point & multi-point lookups ----

  /** P1 `get` — exact-key lookup (reference `Index.scala:813-818`). */
  def get(k: Seq[Any]): DataFrame = df.filter(key.eqKey(k))

  /** P2 `getAll` — sorted multi-get via semi-join (reference
    * `Index.scala:820-883`); `mustFindAll` reports missing keys via the
    * anti-join count, error KEY_NOT_FOUND (`GetMultipleKeysSpec.scala:203`)
    * listing the first five missing keys in key order.
    */
  def getAll(keys: DataFrame, mustFindAll: Boolean = false): GetResult = {
    val found = df.join(keys, key.cols, "left_semi")
    if (!mustFindAll) GetResult(found, -1L, success = true, None)
    else {
      val missing = keys.join(df, key.cols, "left_anti")
      val n = missing.count()
      if (n == 0) GetResult(found, 0L, success = true, None)
      else GetResult(found, n, success = false, Some(GraftError.KeyNotFound(
        missing.orderBy(key.sortCols(): _*).limit(5).collect().map(_.mkString("/")).toSeq)))
    }
  }

  /** P4 `nextKey` — strict successor of k; k need not exist (reference
    * `QueryableIndex.scala:78-83`). Catalyst plans filter+TakeOrdered(1):
    * one pruned scan, no full sort.
    */
  def nextKey(k: Seq[Any]): DataFrame =
    df.filter(key.gtKey(k)).orderBy(key.sortCols(false): _*).limit(1)

  /** P5 `previousKey` — strict predecessor (reference `QueryableIndex.scala:71-76`). */
  def previousKey(k: Seq[Any]): DataFrame =
    df.filter(key.ltKey(k)).orderBy(key.sortCols(true): _*).limit(1)

  /** Iterator-style streaming pull — the reference's primary consumption
    * surface (`RichAsyncIndexIterator.scala:13-41`: seek fn + filter +
    * limit, block-at-a-time pull with an early-stop flag). Here the scan
    * stays a declarative sorted DataFrame and `toLocalIterator` streams it
    * to the consumer ONE PARTITION AT A TIME: partitions after the consumer
    * stops are never computed or fetched (the `stop`-flag early
    * termination), and driver memory holds one partition, not the result.
    * `seek` is the asc-iterator resume position (exclusive), like the
    * reference's `it.seek(k)`.
    */
  def pullIterator(pred: Column = lit(true), seek: Option[Seq[Any]] = None,
                   reverse: Boolean = false): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val seeked = seek match {
      case Some(k) if reverse => df.filter(key.ltKey(k))
      case Some(k) => df.filter(key.gtKey(k))
      case None => df
    }
    seeked.filter(pred).orderBy(key.sortCols(reverse): _*)
      .toLocalIterator().asScala
  }

  // ---- §2.2 scans / ranges / sorts / limits ----

  /** S1 `inOrder` / `all` — full ascending scan (reference `Index.scala:583-630`). */
  def inOrder(): DataFrame = sorted(reverse = false)

  /** S2 `reverse` — full descending scan (reference `Index.scala:632-664`). */
  def reverseScan(): DataFrame = sorted(reverse = true)

  /** S3 `head` / `tail` — first/last n in key order with optional predicate
    * (reference `QueryableIndex.scala:85-165`).
    */
  def head(n: Int, pred: Column = lit(true)): DataFrame =
    df.filter(pred).orderBy(key.sortCols(false): _*).limit(n)

  def tail(n: Int, pred: Column = lit(true)): DataFrame =
    df.filter(pred).orderBy(key.sortCols(true): _*).limit(n)

  /** S4 `asc` / `desc` — seek to `term` (inclusive flag) then scan
    * (reference `QueryableIndex.scala:167-251`). The parquet min/max file
    * skip performs the reference's custom `findPathFn` seek.
    */
  def asc(term: Seq[Any], inclusive: Boolean): DataFrame =
    df.filter(key.gtKey(term, orEq = inclusive)).orderBy(key.sortCols(false): _*)

  def desc(term: Seq[Any], inclusive: Boolean): DataFrame =
    df.filter(key.ltKey(term, orEq = inclusive)).orderBy(key.sortCols(true): _*)

  /** S5 `gt` / `lt` — one-sided range, inclusive flag, optional reverse
    * (reference `QueryableIndex.scala:253-271`).
    */
  def gt(term: Seq[Any], inclusive: Boolean, reverse: Boolean = false): DataFrame =
    df.filter(key.gtKey(term, orEq = inclusive)).orderBy(key.sortCols(reverse): _*)

  def lt(term: Seq[Any], inclusive: Boolean, reverse: Boolean = false): DataFrame =
    df.filter(key.ltKey(term, orEq = inclusive)).orderBy(key.sortCols(reverse): _*)

  /** S6 `range` — two-sided with per-bound inclusivity + reverse; asserts
    * to >= from like the reference (`QueryableIndex.scala:432-454`).
    */
  def range(from: Seq[Any], to: Seq[Any], incFrom: Boolean, incTo: Boolean,
            reverse: Boolean = false): DataFrame = {
    require(KeyOrd.compare(to, from) >= 0, "range: to < from")
    df.filter(key.gtKey(from, orEq = incFrom) && key.ltKey(to, orEq = incTo))
      .orderBy(key.sortCols(reverse): _*)
  }

  /** S7 `prefix` — all keys whose leading columns equal `p`, fwd or reverse
    * (reference `QueryableIndex.scala:370-430`). The reference's prefix
    * comparator is a leading-field equality once keys are columnar
    * (SURVEY §1.4); Catalyst turns it into partition/row-group pruning.
    */
  def prefix(p: Seq[Any], reverse: Boolean = false): DataFrame =
    df.filter(key.prefixEq(p)).orderBy(key.sortCols(reverse): _*)

  /** S8 prefix-constrained gt/lt — within one prefix group, range on the
    * suffix columns (reference `QueryableIndex.scala:273-368`, dual
    * prefix/term comparators). `term` is the FULL key (must fall inside the
    * prefix — asserted by the reference too).
    */
  def prefixGt(p: Seq[Any], term: Seq[Any], inclusive: Boolean,
               reverse: Boolean = false): DataFrame =
    df.filter(key.prefixEq(p) && key.gtKey(term, orEq = inclusive))
      .orderBy(key.sortCols(reverse): _*)

  def prefixLt(p: Seq[Any], term: Seq[Any], inclusive: Boolean,
               reverse: Boolean = false): DataFrame =
    df.filter(key.prefixEq(p) && key.ltKey(term, orEq = inclusive))
      .orderBy(key.sortCols(reverse): _*)

  /** S9 top-k — limit with early termination
    * (reference `RichAsyncIndexIterator.scala:13-41`); Spark plans
    * `TakeOrderedAndProjectExec`, a distributed top-k with per-partition
    * pruning — no global sort materialization.
    */
  def topK(n: Int, reverse: Boolean = false): DataFrame =
    sorted(reverse).limit(n)

  /** S10 filter pushdown — arbitrary predicate inside the scan
    * (reference `QueryableIndex.scala:256-260`).
    */
  def scanWhere(pred: Column, reverse: Boolean = false): DataFrame =
    df.filter(pred).orderBy(key.sortCols(reverse): _*)

  // ---- §2.3 aggregations ----

  /** A2 min/max — first/last tuple (reference `Index.scala:885-897`). */
  def minKey(): DataFrame = topK(1)
  def maxKey(): DataFrame = topK(1, reverse = true)

  /** A1 count — `df.count` here; the snapshot-backed KVIndex serves it O(1)
    * from manifest stats (reference `Index.scala:899`).
    */
  def countAll(): Long = df.count()
}
