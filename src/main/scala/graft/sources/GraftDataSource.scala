package graft.sources

import java.util.{Map => JMap}

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Command, FsSnapshotStore, GraftError, GraftException, KVIndex, KeyOrd, LegPlanner, SnapshotManifest, SnapshotStore}

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
  * file. Column pruning reaches the parquet scan through the same pruned
  * read. Execution delegates to the store's parquet read via the V1Scan
  * bridge (the Delta-lake deployment shape): pruning and pushdown are
  * decided here, while the actual scan keeps Spark's vectorized,
  * codegen'd parquet path — no hand-rolled reader to maintain.
  *
  * Ordered SQL over this path gets the view path's exchange-free stitch
  * via [[GraftOrderedScan]]: the V1 bridge itself carries no ordering
  * contract, so a logical rewrite re-plans an eligible `ORDER BY
  * <leading keys>` over the scan as the manifest-ordered stitch with the
  * ordering DECLARED — the stock rules then elide the sort, exactly like
  * `createOrReplaceView` readers.
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
      case Some(v) => new GraftTable(store, store.loadVersionLazy(id, v.toLong),
        pinned = true)
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
  private[sources] def storeRef: SnapshotStore = store
  private[sources] def manifestRef: SnapshotManifest = manifest
  private[sources] def isPinned: Boolean = pinned

  override def name(): String = s"graft.${manifest.id}@v${manifest.version}"

  override def schema(): StructType = store.emptyTyped(manifest).schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

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
    GraftDelete.retrying(store, manifest.id) { ix =>
      plan match {
        case GraftDelete.All => Some(ix.truncate())
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
              else Some(ix.removeRange(Seq(from), Seq(to), incF, incT))
          }
      }
    }
  }

  override def truncateTable(): Boolean = {
    if (pinned) throw new UnsupportedOperationException(
      "graft: cannot truncate a VERSION AS OF table — write to LATEST")
    GraftDelete.retrying(store, manifest.id)(ix => Some(ix.truncate()))
    true
  }
}

/** DELETE-condition translation + the commit-CAS retry loop shared by
  * delete and truncate. A condition is deletable iff it is a conjunction
  * of exact range shapes on the leading key — the translation keeps
  * INCLUSIVITY (unlike the scan-side [[GraftScan.boundsOf]], whose bounds
  * are a conservative over-approximation: fine for pruning, data loss for
  * deletion).
  */
private[sources] object GraftDelete {
  sealed trait Plan
  case object All extends Plan
  /** (value, inclusive) per side; None = unbounded on that side. */
  final case class Range(lo: Option[(Any, Boolean)],
                         hi: Option[(Any, Boolean)]) extends Plan

  def plan(filters: Array[Filter], keyCol: String): Option[Plan] =
    if (filters.isEmpty) Some(All)
    else filters.map(one(_, keyCol)).reduce((a, b) =>
      for { ra <- a; rb <- b } yield merge(ra, rb)) match {
      case Some(Range(None, None)) => Some(All)
      case other => other
    }

  private def one(f: Filter, keyCol: String): Option[Range] = f match {
    case sources.AlwaysTrue() => Some(Range(None, None))
    // IsNotNull(key) is implied by every bounded range (null sorts below
    // any non-null bound and a SQL range predicate is NULL on null keys)
    case sources.IsNotNull(c) if c == keyCol => Some(Range(None, None))
    case sources.EqualTo(c, v) if c == keyCol && v != null =>
      Some(Range(Some((v, true)), Some((v, true))))
    case sources.GreaterThan(c, v) if c == keyCol && v != null =>
      Some(Range(Some((v, false)), None))
    case sources.GreaterThanOrEqual(c, v) if c == keyCol && v != null =>
      Some(Range(Some((v, true)), None))
    case sources.LessThan(c, v) if c == keyCol && v != null =>
      Some(Range(None, Some((v, false))))
    case sources.LessThanOrEqual(c, v) if c == keyCol && v != null =>
      Some(Range(None, Some((v, true))))
    case sources.And(a, b) =>
      for { ra <- one(a, keyCol); rb <- one(b, keyCol) } yield merge(ra, rb)
    case _ => None
  }

  private def merge(a: Range, b: Range): Range =
    Range(tighter(a.lo, b.lo, wantHigh = true), tighter(a.hi, b.hi, wantHigh = false))

  // lower bounds tighten UPWARD, upper bounds DOWNWARD; on equal values
  // the EXCLUSIVE bound is the tighter one
  private def tighter(a: Option[(Any, Boolean)], b: Option[(Any, Boolean)],
                      wantHigh: Boolean): Option[(Any, Boolean)] = (a, b) match {
    case (Some((va, ia)), Some((vb, ib))) =>
      val c = KeyOrd.compare(Seq(va), Seq(vb))
      if (c == 0) Some((va, ia && ib))
      else if ((c > 0) == wantHigh) a else b
    case _ => a.orElse(b)
  }

  /** Re-open LATEST and re-apply on a lost commit CAS — the DELETE twin of
    * [[graft.core.KVIndex.executeWithRetry]]. The thunk returns None for
    * "nothing to do at this version" (success without a commit).
    */
  def retrying(store: SnapshotStore, id: String, maxAttempts: Int = 5)
              (body: KVIndex => Option[graft.core.BatchResult]): Unit = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val m = store.loadLatestLazy(id).fold(e => throw GraftException(e), identity)
      body(new KVIndex(store, m)) match {
        case None => return
        case Some(r) if r.success => return
        case Some(r) =>
          if (!r.error.exists(_.isInstanceOf[GraftError.ContextAlreadyUsed]))
            throw GraftException(r.error.get)
      }
      attempt += 1
    }
    throw GraftException(GraftError.ContextAlreadyUsed(id))
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
    usable = filters.filter(f => GraftScan.boundsOf(f, keyCol).isDefined)
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
    extends V1Scan with SupportsReportStatistics {

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
  private lazy val bounds = filters.flatMap(GraftScan.boundsOf(_, keyCol))
  private lazy val lo = bounds.flatMap(_._1).reduceOption(KeyOrd.max(_, _))
  private lazy val hi = bounds.flatMap(_._2).reduceOption(KeyOrd.min(_, _))

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
      else if (bounds.isEmpty && limit.isEmpty) manifest.numElements
      else covering.map(_.rows).sum
    new Statistics {
      override def sizeInBytes: OptionalLong =
        OptionalLong.of(math.max(1L, rows) * math.max(8, readSchema().defaultSize))
      override def numRows: OptionalLong = OptionalLong.of(rows)
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def needConversion: Boolean = true
      override def buildScan(): RDD[Row] = aggRow match {
        case Some(spec) => // the whole aggregate is ONE manifest-stat row
          GraftScan.lastPlannedFiles = 0
          context.sparkSession.sparkContext
            .parallelize(Seq(Row(spec.map(_._2): _*)), 1)
        case None =>
          val base =
            if (covering.isEmpty) store.emptyTyped(manifest)
            else store.readFiles(covering.map(_.path), manifest)
          // re-apply the bound predicates INSIDE the read so parquet
          // row-group stats skip within the kept files too
          val keyed = (lo.map(l => col(keyCol) >= l.head) ++
            hi.map(h => col(keyCol) <= h.head))
            .foldLeft(base)((d, p) => d.filter(p))
          val cols = required.fieldNames
          (if (cols.isEmpty) keyed else keyed.select(cols.map(col).toSeq: _*)).rdd
      }
    }.asInstanceOf[T]
}

object GraftScan {
  /** Covering-file count of the most recent scan planning on this driver —
    * plan-shape telemetry (the V1 bridge hides the inner parquet scan's
    * metrics from the outer plan, so tests pin pruning through this).
    */
  @volatile var lastPlannedFiles: Int = -1

  /** (lo, hi) INCLUSIVE over-approximation of a filter on the leading key
    * column; None = the filter does not constrain that side. Returns None
    * overall when the filter cannot bound the leading key at all.
    */
  private[sources] def boundsOf(f: Filter, keyCol: String)
      : Option[(Option[Seq[Any]], Option[Seq[Any]])] = f match {
    case sources.EqualTo(c, v) if c == keyCol => Some((Some(Seq(v)), Some(Seq(v))))
    case sources.EqualNullSafe(c, v) if c == keyCol && v != null =>
      Some((Some(Seq(v)), Some(Seq(v))))
    case sources.GreaterThan(c, v) if c == keyCol => Some((Some(Seq(v)), None))
    case sources.GreaterThanOrEqual(c, v) if c == keyCol => Some((Some(Seq(v)), None))
    case sources.LessThan(c, v) if c == keyCol => Some((None, Some(Seq(v))))
    case sources.LessThanOrEqual(c, v) if c == keyCol => Some((None, Some(Seq(v))))
    case sources.In(c, vs) if c == keyCol && vs.nonEmpty && !vs.contains(null) =>
      Some((Some(Seq(vs.min(KeyOrd.on[Any](Seq(_))))), Some(Seq(vs.max(KeyOrd.on[Any](Seq(_)))))))
    case sources.And(a, b) =>
      (boundsOf(a, keyCol), boundsOf(b, keyCol)) match {
        case (Some((lo1, hi1)), Some((lo2, hi2))) =>
          Some(((lo1 ++ lo2).reduceOption(KeyOrd.max(_, _)),
            (hi1 ++ hi2).reduceOption(KeyOrd.min(_, _))))
        case (one @ Some(_), None) => one
        case (None, one) => one
      }
    case _ => None
  }
}
