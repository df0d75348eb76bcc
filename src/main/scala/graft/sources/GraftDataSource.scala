package graft.sources

import java.util.{Map => JMap}

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LocalRelation, LogicalPlan, MergeIntoTable, Subquery, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Command, FsSnapshotStore, GraftError, GraftException, KVIndex, KeyOrd, KeyRange, LegPlanner, SnapshotManifest, SnapshotStore}
import graft.plans.OrderedPlans

/** DataSource V2 surface for snapshot indexes: `spark.read.format("graft")
  * .option("root", storeRoot).load(indexId)` opens LATEST (or
  * `.option("version", n)` for time travel) as a first-class table — the
  * catalog-facing twin of the library's `KVIndex.open`, the way the
  * reference's embedded `QueryableIndex` would look to a SQL engine
  * (reference `QueryableIndex.scala:18-40`).
  *
  * Scale path: filter pushdown on the LEADING key column prunes the
  * manifest to covering files BEFORE any scan is planned — against a
  * filelist-checkpointed big manifest the prune itself runs Spark-side
  * ([[graft.core.SnapshotStore.resolveFilesWhere]]), so a point predicate
  * over a 3M-file snapshot materializes a handful of entries and scans one
  * file. The scan never executes itself: after graft's rewrites,
  * [[SpliceGraftScan]] splices the covering files' parquet read into the
  * outer plan, so stock `FileSourceStrategy` plans ONE file scan with its
  * own metrics, pushed filters, column pruning and the vectorized reader
  * — no hand-rolled reader and no second plan to maintain.
  *
  * Ordered SQL over this path gets the exchange-free manifest stitch via
  * [[GraftOrderedScan]]: a logical rewrite re-plans an eligible `ORDER BY
  * <leading keys>` over the scan as the manifest-ordered stitch with the
  * ordering DECLARED — the stock rules then elide the sort. A registered
  * view (`KVIndex.createOrReplaceView`) is this same table pinned at its
  * snapshot, so it plans identically.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister
    with CreatableRelationProvider with StreamSinkProvider with StreamSourceProvider {

  override def shortName(): String = "graft"

  /** `spark.readStream.format("graft")` — a CDC stream over the snapshot
    * history; see [[GraftChangeSource]].
    */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (store, indexId) = storeAndId(opts)
    (shortName(), new GraftChangeSource(store, indexId).schema)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (store, indexId) = storeAndId(opts)
    val cap = Option(opts.get("maxVersionsPerBatch")).map(_.toLong)
    new GraftChangeSource(store, indexId, cap)
  }

  private def storeAndId(options: CaseInsensitiveStringMap): (FsSnapshotStore, String) = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        "graft: set .option(\"root\", <store root>)"))
    val id = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft: pass the index id to load(...)/save(...)"))
    (new FsSnapshotStore(root, SparkSession.active), id)
  }

  private def resolve(options: CaseInsensitiveStringMap): GraftTable = {
    val (store, id) = storeAndId(options)
    Option(options.get("version")) match {
      case Some(v) => GraftTable.asOf(store, id, Left(v))
      case None => new GraftTable(store, store.loadLatestLazy(id).fold(
        e => throw new java.util.NoSuchElementException(e.message), identity))
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (store, id) = storeAndId(options)
    if (store.exists(id)) resolve(options)
    else new GraftNewIndexTable(store, id, schema, options) // write-creates it
  }

  // external metadata = the incoming batch's schema on a write that
  // CREATES the index; reads of an existing index always resolve the
  // manifest schema via inferSchema
  override def supportsExternalMetadata(): Boolean = true

  /** `df.write.format("graft")` — the DataFrameWriter.save path.
    * A MISSING index is bootstrapped from the batch (requires
    * `.option("keys", "col1[,col2,...]")` — a DataFrame write that
    * CREATES a snapshot index). An existing index takes `Append` as one
    * `Command.Insert` batch through [[graft.core.KVIndex.executeWithRetry]]
    * (`.option("upsert", "true")` for upsert semantics), refuses
    * `Overwrite` (a versioned COW store replaces content with a NEW
    * version — `removeRange` + insert — never by destroying one), and
    * honors `ErrorIfExists`/`Ignore` literally.
    */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val (store, id) = storeAndId(opts)
    if (!store.exists(id)) {
      val keys = Option(opts.get("keys")).map(_.split(",").map(_.trim).toSeq)
        .getOrElse(throw new IllegalArgumentException(
          s"graft: creating index '$id' needs .option(\"keys\", \"col1[,col2,...]\")"))
      KVIndex.bootstrap(store, id, data, keys)
        .fold(e => throw GraftException(e), identity)
    } else mode match {
      case SaveMode.Append =>
        val r = KVIndex.executeWithRetry(store, id,
          Seq(Command.Insert(data, upsert = opts.getBoolean("upsert", false))))
        if (!r.success) throw GraftException(r.error.get)
      case SaveMode.Overwrite => throw new UnsupportedOperationException(
        "graft: overwrite is not supported — commit a new version " +
          "(removeRange + insert) or bootstrap a fresh index instead")
      case SaveMode.ErrorIfExists =>
        throw GraftException(GraftError.IndexAlreadyExists(id))
      case SaveMode.Ignore => ()
    }
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = store.emptyTyped(
        store.loadLatestLazy(id).fold(e => throw GraftException(e), identity)).schema
    }
  }

  /** `df.writeStream.format("graft")` — each micro-batch commits ONE COW
    * snapshot version (upsert semantics), the same per-batch protocol as
    * `EventStreams.streamIntoIndex`, with `recordHistory=true` so time
    * travel sees every batch. A missing index bootstraps from the first
    * non-empty batch (`keys` option). Batch REPLAY after a crash is
    * detected via the committed `lastChangeVersion` (the batch id IS the
    * transaction id) and skipped — exactly-once versions, not just
    * idempotent content. Concurrent non-stream writers are tolerated:
    * a lost commit CAS re-opens LATEST and retries.
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft: partitionBy is not supported — snapshots are range-laid by key")
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    // NOT named `id`: Spark 4's Table interface ships a `default String
    // id()` (null), and inside a Table subclass an inherited member
    // SHADOWS an enclosing-scope local — a captured `id` silently reads
    // null (Sink extends Table)
    val (store, indexId) = storeAndId(opts)
    val keys = Option(opts.get("keys")).map(_.split(",").map(_.trim).toSeq)
    val upsert = opts.getBoolean("upsert", true)
    new Sink {
      override def name(): String = s"graft.$indexId@sink"
      override def addBatch(batchId: Long, data: org.apache.spark.sql.Dataset[Row]): Unit = {
        val tx = s"stream-batch-$batchId"
        // the incoming frame still carries the streaming source — rewrap
        // as a plain batch before running the multi-pass write protocol
        val batch = org.apache.spark.sql.graft.Shim.asBatch(data.toDF())
        if (!batch.isEmpty) {
          if (!store.exists(indexId)) {
            val k = keys.getOrElse(throw new IllegalArgumentException(
              s"graft: creating index '$indexId' needs .option(\"keys\", \"col1[,col2,...]\")"))
            KVIndex.bootstrap(store, indexId, batch, k, txVersion = tx, recordHistory = true)
              .fold(e => throw GraftException(e), identity)
            ()
          } else if (store.loadLatestLazy(indexId)
              .fold(e => throw GraftException(e), identity).lastChangeVersion == tx) {
            () // replayed batch: its version already committed
          } else {
            val r = KVIndex.executeWithRetry(store, indexId,
              Seq(Command.Insert(batch, upsert = upsert)),
              recordHistory = true, txVersion = tx)
            if (!r.success) throw GraftException(r.error.get)
          }
        }
      }
    }
  }
}

final class GraftTable(store: SnapshotStore, manifest: SnapshotManifest,
                       pinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  // table resolution happens at ANALYSIS time — early enough that the
  // session's optimizer picks the rules up for this very query
  GraftRules.install(SparkSession.active)

  // UPDATE / MERGE INTO compile against the live store (GraftDml)
  private[graft] def storeRef: SnapshotStore = store
  private[graft] def manifestRef: SnapshotManifest = manifest
  private[sources] def isPinned: Boolean = pinned

  override def name(): String = s"graft.${manifest.id}@v${manifest.version}"

  override def schema(): StructType = store.emptyTyped(manifest).schema

  // a pinned snapshot (VERSION AS OF, a registered view) takes no writes
  override def capabilities(): java.util.Set[TableCapability] =
    if (pinned) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(store, manifest, schema())

  /** Append = one `Command.Insert` batch committed through
    * [[graft.core.KVIndex.executeWithRetry]], so concurrent format-level
    * writers serialize behind the commit CAS instead of failing.
    * `.option("upsert", "true")` makes it an upsert; duplicate keys
    * without it surface the library's typed error. Overwrite is
    * deliberately unsupported — a versioned COW store replaces content
    * with a NEW version (`removeRange` + insert, or a fresh bootstrap),
    * never by destroying one.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwrite) throw new UnsupportedOperationException(
                "graft: overwrite is not supported — commit a new version " +
                  "(removeRange + insert) or bootstrap a fresh index instead")
              val upsert = info.options.getBoolean("upsert", false)
              val r = KVIndex.executeWithRetry(store, manifest.id,
                Seq(Command.Insert(data, upsert = upsert)))
              if (!r.success) throw GraftException(r.error.get)
            }
          }
      }
    }

  // ---- SQL DELETE / TRUNCATE ----
  //
  // `DELETE FROM <cat>.<idx> WHERE <leading-key range>` maps to the
  // library's file-grain [[graft.core.KVIndex.removeRange]]: interior
  // files DROP from the manifest with zero IO, at most the two boundary
  // files rewrite — a metadata-only delete in Spark's taxonomy, which is
  // exactly what a retention-expiry / tenant-removal DELETE over a 100-TB
  // snapshot must be (never a full-table rewrite). Supported conditions
  // are conjunctions of =, <, <=, >, >= on the SINGLE key column (the
  // exact shapes `removeRange` can honor precisely — no over-delete, no
  // under-delete); anything else reports `canDeleteWhere = false` and
  // Spark raises its standard "cannot delete" analysis error. Unbounded
  // sides close over the manifest's exact key bounds. An unconditioned
  // DELETE / TRUNCATE TABLE commits an EMPTY file list
  // ([[graft.core.KVIndex.truncate]]) without reading anything.

  private def keyCol: String = manifest.keyCols.head

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && manifest.keyCols.size == 1 &&
      GraftDelete.plan(filters, keyCol).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val plan = GraftDelete.plan(filters, keyCol).getOrElse(
      throw new UnsupportedOperationException(
        s"graft: unsupported DELETE condition ${filters.mkString(", ")} — " +
          s"only leading-key range conjunctions on '$keyCol' delete at file grain"))
    GraftDelete.retrying(store, manifest.id) { (ix, tx) =>
      plan match {
        case GraftDelete.All => Some(ix.truncate(tx))
        case GraftDelete.Range(lo, hi) =>
          ix.keyBounds match {
            case None => None // empty snapshot: nothing to delete
            case Some((gmin, gmax)) =>
              if (lo.isEmpty && gmin.head == null)
                throw new UnsupportedOperationException(
                  "graft: DELETE with an open lower bound over null leading " +
                    "keys — a SQL predicate never matches NULL; bound the " +
                    "range or use the library removeRange")
              val (from, incF) = lo.getOrElse((gmin.head, true))
              val (to, incT) = hi.getOrElse((gmax.head, true))
              val cmp = KeyOrd.compare(Seq(from), Seq(to))
              if (cmp > 0 || (cmp == 0 && !(incF && incT))) None // empty range
              else Some(ix.removeRange(Seq(from), Seq(to), incF, incT, tx))
          }
      }
    }
  }

  override def truncateTable(): Boolean = {
    if (pinned) throw new UnsupportedOperationException(
      "graft: cannot truncate a VERSION AS OF table — write to LATEST")
    GraftDelete.retrying(store, manifest.id)((ix, tx) => Some(ix.truncate(tx)))
    true
  }
}

object GraftTable {
  /** The relation a registered snapshot view holds: this exact snapshot,
    * pinned — the catalog table's own plan leaf, so every rewrite a
    * catalog query gets reaches the view too.
    */
  private[graft] def relation(store: SnapshotStore,
                              manifest: SnapshotManifest): DataSourceV2Relation =
    DataSourceV2Relation.create(new GraftTable(store, manifest, pinned = true),
      None, None)

  /** The pinned table of index `id` at a time-travel point — the one floor
    * behind `VERSION AS OF` / `TIMESTAMP AS OF` on catalog tables and
    * registered views. `Left(version)` loads that snapshot;
    * `Right(micros)` floors onto the wall-clock stamps the commit protocol
    * records ([[graft.core.SnapshotStore.findIndexAtWall]], T3 semantics:
    * greatest entry <= t, clamped to the earliest). An index with no
    * recorded history refuses wall-clock travel — time travel only sees
    * what T2 recorded.
    */
  private[graft] def asOf(store: SnapshotStore, id: String,
                          at: Either[String, Long]): GraftTable = {
    def refuse(msg: String): Nothing =
      throw new UnsupportedOperationException(s"graft: $msg")
    val m = at match {
      case Left(v) => store.loadVersionLazy(id, v.toLongOption.getOrElse(
        refuse(s"VERSION AS OF '$v' on '$id' — snapshot versions are integers")))
      case Right(micros) =>
        store.findIndexAtWall(id, Math.floorDiv(micros, 1000L)).getOrElse(refuse(
          s"TIMESTAMP AS OF found no recorded history for '$id' — record " +
            "snapshots (execute(recordHistory = true) / recordSnapshot), " +
            "or use VERSION AS OF"))
    }
    new GraftTable(store, m, pinned = true)
  }
}

/** DELETE-condition translation + the commit-CAS retry shared by delete
  * and truncate. A condition is deletable iff every conjunct is an exact
  * range shape on the leading key (an empty [[KeyRange]] residual) — the
  * translation keeps INCLUSIVITY, where the scan-side prune only needs an
  * inclusive over-approximation (fine for pruning, data loss for
  * deletion). An `IS NOT NULL` alone is a range with both sides open, so
  * the null guard in `deleteWhere` applies to it.
  */
private[sources] object GraftDelete {
  sealed trait Plan
  case object All extends Plan
  /** (value, inclusive) per side; None = unbounded on that side. */
  final case class Range(lo: Option[(Any, Boolean)],
                         hi: Option[(Any, Boolean)]) extends Plan

  def plan(filters: Array[Filter], keyCol: String): Option[Plan] = {
    val r = KeyRange.ofFilters(filters.toSeq, Seq(keyCol))
    if (r.residual.nonEmpty) None
    else if (!r.notNull(0)) Some(All)
    else Some(Range(r.lo(0), r.hi(0)))
  }

  /** [[graft.core.KVIndex.executeWithRetry]] over LATEST with one
    * txVersion; a failed commit throws. The body returns None for
    * "nothing to do at this version" (success without a commit).
    */
  def retrying(store: SnapshotStore, id: String)
              (body: (KVIndex, String) => Option[graft.core.BatchResult]): Unit = {
    val tx = java.util.UUID.randomUUID().toString
    KVIndex.executeWithRetry(store, id, 5)(m => body(new KVIndex(store, m), tx))
      .filterNot(_.success).foreach(r => throw GraftException(r.error.get))
  }
}

/** A not-yet-existing index id: the first written batch BOOTSTRAPS the
  * index (`.option("keys", "col1[,col2,...]")` names the key columns) —
  * `df.write.format("graft")` as index creation.
  */
final class GraftNewIndexTable(store: SnapshotStore, indexId: String,
                               writeSchema: StructType,
                               options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {

  override def name(): String = s"graft.$indexId@new"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val keysOpt = Option(info.options.get("keys"))
                .orElse(Option(options.get("keys")))
              val keys = keysOpt.map(_.split(",").map(_.trim).toSeq)
                .getOrElse(throw new IllegalArgumentException(
                  s"graft: creating index '$indexId' needs .option(\"keys\", \"col1[,col2,...]\")"))
              KVIndex.bootstrap(store, indexId, data, keys)
                .fold(e => throw GraftException(e), identity)
              ()
            }
          }
      }
    }
}

/** Collects leading-key bounds from pushed filters (for the manifest file
  * prune) and the required column set (for the parquet projection). Every
  * filter is also RETURNED as residual — file-level pruning is
  * conservative, so Spark re-evaluates exact predicates above the scan;
  * the same predicates are additionally applied inside the pruned read,
  * where Catalyst pushes them into parquet row-group stats.
  */
final class GraftScanBuilder(store: SnapshotStore, manifest: SnapshotManifest,
                             fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private val keyCol = manifest.keyCols.head
  private var usable: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggRow: Option[Seq[(StructField, Any)]] = None
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    usable = filters.filter(f => KeyRange.ofFilters(Seq(f), Seq(keyCol)).bounded(0))
    filters // all residual: the file prune is conservative by design
  }

  override def pushedFilters(): Array[Filter] = usable

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: COUNT(*) / MIN(key) / MAX(key) from manifest
  // stats, ZERO files scanned ----
  //
  // The library serves A1 count O(1) from `numElements` and A2 min/max
  // from exact per-file key bounds; this surfaces the same answers to
  // `SELECT count(*) / min(k) / max(k) FROM <graft table>` — the whole
  // aggregate COLLAPSES to one precomputed row (complete pushdown, no
  // scan, no shuffle), regardless of whether the snapshot is 4 files or
  // 3 million. Unsupported shapes (group-by, other aggregates, non-key
  // min/max, filtered scans, null-able key bounds where SQL min/max must
  // skip nulls) decline the pushdown and take the stock scan.
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translateAgg(agg) match {
      case s @ Some(_) => aggRow = s; true
      case None => false
    }

  private def colRef(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames()(0))
    case _ => None
  }

  // external (Row-facing) value of a manifest-typed bound, only for types
  // whose manifest representation maps 1:1 — others decline the pushdown
  private def extVal(v: Any, dt: DataType): Option[Any] = dt match {
    case LongType => Some(v.asInstanceOf[Number].longValue)
    case IntegerType => Some(v.asInstanceOf[Number].intValue)
    case DoubleType => Some(v.asInstanceOf[Number].doubleValue)
    case StringType => Some(v.toString)
    case _ => None
  }

  private def translateAgg(agg: Aggregation): Option[Seq[(StructField, Any)]] = {
    if (agg.groupByExpressions.nonEmpty || usable.nonEmpty) return None
    val keyField = fullSchema(keyCol)
    lazy val bounds = new KVIndex(store, manifest).keyBounds
    def bound(pick: ((Seq[Any], Seq[Any])) => Seq[Any], name: String)
        : Option[(StructField, Any)] = bounds match {
      case None => // empty snapshot: SQL min/max = NULL
        Some((StructField(name, keyField.dataType, nullable = true), null))
      case Some(b) => Option(pick(b).head) // null bound => nulls among keys: decline
        .flatMap(extVal(_, keyField.dataType))
        .map(v => (StructField(name, keyField.dataType, nullable = true), v))
    }
    val out: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          manifest.numElements: Any))
      case m: Min if colRef(m.column).contains(keyCol) => bound(_._1, s"min_$keyCol")
      case m: Max if colRef(m.column).contains(keyCol) => bound(_._2, s"max_$keyCol")
      case _ => None
    }
    if (out.nonEmpty && out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** LIMIT prefix: plan only enough covering files to satisfy n rows
    * (exact entry counts make the prefix exact); Spark re-applies the
    * limit above, so this is pure IO avoidance — `SELECT ... LIMIT 10`
    * over a 3M-file snapshot reads one file.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new GraftScan(store, manifest, keyCol, usable, required, aggRow, limit)
}

final class GraftScan(store: SnapshotStore, manifest: SnapshotManifest,
                      keyCol: String, filters: Array[Filter],
                      required: StructType,
                      aggRow: Option[Seq[(StructField, Any)]] = None,
                      limit: Option[Int] = None)
    extends Scan with SupportsReportStatistics {

  // the ordered-scan rewrite (GraftOrderedScan) re-plans an ORDER BY over
  // this scan as the exchange-free manifest stitch; it needs the store +
  // manifest, and must NOT fire when the scan already collapsed to an
  // aggregate row or a limit prefix (both unordered by construction)
  private[sources] def storeRef: SnapshotStore = store
  private[sources] def manifestRef: SnapshotManifest = manifest
  private[sources] def plainScan: Boolean = aggRow.isEmpty && limit.isEmpty

  /** INCLUSIVE leading-key bounds of the pushed filters (None = unbounded
    * on that side) — lets the co-range join rewrite keep this scan's file
    * prune when it replaces the stock plan.
    */
  private[sources] def pushedKeyBounds: (Option[Seq[Any]], Option[Seq[Any]]) =
    (lo, hi)

  override def readSchema(): StructType =
    aggRow.fold(required)(s => StructType(s.map(_._1)))

  // intersect all bounds; None = unbounded on that side
  private lazy val (lo, hi) = KeyRange.ofFilters(filters.toSeq, Seq(keyCol)).pruneTuple

  // compare LEADING components only: on composite keys a full-tuple
  // compare would drop a file whose leading key equals the bound
  // (prefix convention ranks the longer tuple above its prefix)
  private lazy val covering = {
    val pruned = store.resolveFilesWhere(manifest, LegPlanner.covering(lo, hi))
    // limit prefix: exact entry counts make "enough files for n rows"
    // exact; Spark re-applies the limit above (partial pushdown)
    val kept = limit.fold(pruned)(n => LegPlanner.prefix(pruned, n))
    GraftScan.lastPlannedFiles = kept.size
    kept
  }

  /** Post-pushdown stats from MANIFEST metadata, no scan: the unfiltered
    * row count is the O(1) `numElements`, a bounded scan sums the pruned
    * covering files' entry counts — so Catalyst's join-strategy sizing
    * (broadcast-vs-shuffle) sees a snapshot like a well-analyzed table.
    */
  override def estimateStatistics(): Statistics = {
    val rows =
      if (aggRow.isDefined) 1L
      else if (filters.isEmpty && limit.isEmpty) manifest.numElements
      else covering.map(_.rows).sum
    new Statistics {
      override def sizeInBytes: OptionalLong =
        OptionalLong.of(math.max(1L, rows) * math.max(8, readSchema().defaultSize))
      override def numRows: OptionalLong = OptionalLong.of(rows)
    }
  }

  /** This scan as a plain logical plan exposing `out` (the scan
    * relation's output ids): the pushed aggregate's one manifest-stat
    * row, or the covering files' parquet read with the bound predicates
    * re-applied inside it (parquet row-group stats then skip within the
    * kept files too).
    */
  private[sources] def logicalPlan(out: Seq[Attribute]): LogicalPlan = aggRow match {
    case Some(spec) =>
      GraftScan.lastPlannedFiles = 0
      LocalRelation.fromExternalRows(out, Seq(Row(spec.map(_._2): _*)))
    case None =>
      val base =
        if (covering.isEmpty) store.emptyTyped(manifest)
        else store.readFiles(covering.map(_.path), manifest)
      val keyed = (lo.map(l => col(keyCol) >= l.head) ++
        hi.map(h => col(keyCol) <= h.head)).foldLeft(base)(_.filter(_))
      OrderedPlans.aliasTo(out, keyed.queryExecution.analyzed)
  }
}

object GraftScan {
  /** Covering-file count of the most recent scan planning on this driver —
    * plan-shape telemetry that tests and the KV benchmark pin pruning
    * through.
    */
  @volatile var lastPlannedFiles: Int = -1
}

/** A plain [[GraftScan]] relation — no aggregate row or limit prefix
  * pushed into it, so it still reads every covering row — the shape every
  * snapshot rewrite starts from.
  */
private[sources] object PlainGraftScan {
  def unapply(p: LogicalPlan): Option[(DataSourceV2ScanRelation, GraftScan)] = p match {
    case rel: DataSourceV2ScanRelation => rel.scan match {
      case g: GraftScan if g.plainScan => Some((rel, g))
      case _ => None
    }
    case _ => None
  }
}

/** Splices every [[GraftScan]] the rewrites above left in the plan into
  * the outer plan as its [[GraftScan.logicalPlan]], so the stock
  * `FileSourceStrategy` plans one file scan with its own metrics, pushed
  * filters and vectorized reader. Last in [[GraftRules.optimizations]]:
  * every rewrite that matches a scan relation sees it first. A subquery
  * optimized on its own keeps its relations: the outer plan splices them
  * after `EXISTS`/`IN` become joins the join rewrites must still see.
  * Row-level commands keep theirs too: Spark plans DELETE from its table,
  * and [[GraftDmlStrategy]] compiles UPDATE and MERGE and re-plans every
  * frame it reads.
  */
object SpliceGraftScan extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Subquery | _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable => plan
    case _ => plan.transformUpWithSubqueries {
      case rel: DataSourceV2ScanRelation if rel.scan.isInstanceOf[GraftScan] =>
        rel.scan.asInstanceOf[GraftScan].logicalPlan(rel.output)
    }
  }
}
