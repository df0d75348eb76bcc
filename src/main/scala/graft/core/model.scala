package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core data model of the engine.
  *
  * The reference (`/root/reference`, scalable-services/index v0.34) models a
  * table as an ordered key-value index of `Tuple[K, V] = (K, V, version)`
  * (reference `package.scala:20`) with an opaque `Ordering[K]`. Here a table
  * is a DataFrame whose ordering is declared as a sequence of key COLUMNS
  * (composite keys = several columns, compared lexicographically in column
  * order) plus a `version` string column stamped by the last writer
  * (reference `Context.scala:20`). Making the key columnar instead of opaque
  * lets Catalyst push comparisons into parquet scans — the Spark-native
  * replacement for the reference's root-to-leaf binary-search descent
  * (reference `Index.scala:85-99`).
  */
final case class KeySpec(cols: Seq[String]) {
  require(cols.nonEmpty, "key must have at least one column")

  import KeySpec._

  /** key(row) == k, k given as one literal per key column */
  def eqKey(k: Seq[Any]): Column =
    cols.zip(k).map { case (c, v) => col(c) <=> lit(v) }.reduce(_ && _)

  /** Lexicographic composite (k1..kn) > (v1..vn):
    * k1>v1 OR (k1=v1 AND k2>v2) OR ... Strict; `orEq` makes it >=.
    *
    * Null key components sort FIRST (null < every non-null value), matching
    * both [[KeyOrd]] and Spark's `asc` sort order, so predicate scans and
    * the manifest-pruning comparator agree on rows/bounds containing nulls.
    * The literal side is known at build time, so the null cases compile to
    * plain `IsNotNull`/`false` — still pushdown-friendly: for a null
    * literal, column > null ⇔ column IS NOT NULL; column < null ⇔ false;
    * for a non-null literal, column < v must ALSO admit null columns
    * (null sorts below v), which `c < v` alone would reject.
    */
  def gtKey(k: Seq[Any], orEq: Boolean = false): Column =
    cmpKey(k, (c, v) => if (v == null) c.isNotNull else c > lit(v), orEq)

  def ltKey(k: Seq[Any], orEq: Boolean = false): Column =
    cmpKey(k, (c, v) => if (v == null) lit(false) else c.isNull || c < lit(v), orEq)

  /** `k` may bind only a LEADING PREFIX of the key columns (the prefix
    * convention: a longer tuple ranks above its prefix, so `gtKey(p,
    * orEq = true)` ⇔ row's first `p.length` components ≥ p, and
    * `ltKey(p)` ⇔ strictly below p — exactly the half-open leg
    * predicates the prefix co-range join cuts).
    */
  private def cmpKey(k: Seq[Any], op: (Column, Any) => Column,
                     orEq: Boolean): Column = {
    require(k.nonEmpty && k.length <= cols.length,
      s"key arity ${k.length} not in 1..${cols.length}")
    val strict = cols.zip(k).zipWithIndex.map { case ((c, v), i) =>
      val eqPrefix = cols.take(i).zip(k).map { case (pc, pv) => col(pc) <=> lit(pv) }
      (eqPrefix :+ op(col(c), v)).reduce(_ && _)
    }.reduce(_ || _)
    if (orEq) strict || eqKey(k) else strict
  }

  /** Leading-columns equality — the reference's prefix comparator
    * (`QueryableIndex.scala:422-430`): a prefix key binds only the first
    * `p.length` key columns.
    */
  def prefixEq(p: Seq[Any]): Column =
    cols.take(p.length).zip(p).map { case (c, v) => col(c) <=> lit(v) }
      .reduce(_ && _)

  def sortCols(reverse: Boolean = false): Seq[Column] =
    if (reverse) cols.map(col(_).desc) else cols.map(col(_).asc)
}

object KeySpec {
  def apply(first: String, rest: String*): KeySpec = KeySpec(first +: rest)
}

/** Error taxonomy — mirrors reference `Errors.scala:3-42`. Typed results, not
  * exceptions: validation failures are values so a failed batch can report
  * its cause and leave the visible snapshot untouched.
  */
sealed abstract class GraftError(val code: String, val message: String)
object GraftError {
  final case class DuplicatedKeys(keys: Seq[String])
      extends GraftError("DUPLICATED_KEYS", s"duplicated keys in batch: ${keys.take(5).mkString(",")}")
  final case class KeyAlreadyExists(keys: Seq[String])
      extends GraftError("LEAF_DUPLICATE_KEY", s"non-upsert insert of existing keys: ${keys.take(5).mkString(",")}")
  final case class KeyNotFound(keys: Seq[String])
      extends GraftError("KEY_NOT_FOUND", s"keys not found: ${keys.take(5).mkString(",")}")
  final case class VersionChanged(keys: Seq[String])
      extends GraftError("VERSION_CHANGED", s"expected version mismatch for: ${keys.take(5).mkString(",")}")
  final case class IndexNotFound(id: String)
      extends GraftError("INDEX_NOT_FOUND", s"no such index: $id")
  final case class IndexAlreadyExists(id: String)
      extends GraftError("INDEX_ALREADY_EXISTS", s"index exists: $id")
  final case class ContextAlreadyUsed(id: String)
      extends GraftError("CONTEXT_USED", s"write context already executed a batch: $id")
  final case class MergeTooLarge(n: Long, max: Long)
      extends GraftError("MERGE_TOO_LARGE", s"merged size $n exceeds maxNItems $max")
  final case class BatchTooLarge(n: Long, max: Long)
      extends GraftError("BATCH_TOO_LARGE",
        s"wire batch of $n rows exceeds the $max-row encode cap — bulk data belongs in bootstrap/execute, not the RPC codec")
}

/** Exception wrapper for surfaces that cannot return a typed result value
  * (e.g. the wire codec's String-returning encode). Carries the
  * [[GraftError]] so callers still dispatch on `error.code`.
  */
final case class GraftException(error: GraftError)
    extends RuntimeException(s"${error.code}: ${error.message}")

/** Command ADT — reference `Commands.scala:5-15`. A batch is executed
  * all-or-nothing (reference `Index.scala:1010-1036`): the first failing
  * validation aborts the batch and no snapshot is committed.
  *
  * `rows` is a DataFrame carrying the key columns (+ value columns for
  * Insert/Update). Extra per-command columns:
  *  - Insert: boolean `upsert` column optional (default false)
  *  - Update/Remove: optional `expectedVersion` string column (null = no CAS
  *    check), reference `Leaf.scala:62-72,86-96`.
  */
sealed trait Command { def rows: DataFrame }
object Command {
  final case class Insert(rows: DataFrame, upsert: Boolean = false) extends Command
  final case class Update(rows: DataFrame) extends Command
  final case class Remove(rows: DataFrame) extends Command
}

/** Typed results — reference `Result.scala:3-14`. `commandRowCounts` is
  * the touched-range row count after each command, the analogue of the
  * reference's per-command result counts. `execute` derives it without a
  * count job: the touched files' manifest row counts plus the running sum
  * of the per-command deltas its validation fold returns.
  */
final case class BatchResult(success: Boolean, error: Option[GraftError],
                             snapshot: Option[SnapshotManifest],
                             commandRowCounts: Seq[Long] = Nil) {
  def orThrow: SnapshotManifest =
    if (success) snapshot.get
    else throw new IllegalStateException(error.map(e => s"${e.code}: ${e.message}").getOrElse("failed"))
}

final case class GetResult(found: DataFrame, missing: Long,
                           success: Boolean, error: Option[GraftError])
