package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{FsSnapshotStore, GraftException}

/** Catalog plugin: every index of a snapshot store is a first-class SQL
  * table. Register with
  * {{{
  *   spark.sql.catalog.<name>       = graft.sources.GraftCatalog
  *   spark.sql.catalog.<name>.root  = <store root>
  * }}}
  * and `SELECT * FROM <name>.<indexId>` just works — including
  * `VERSION AS OF n` time travel (snapshot versions ARE the table
  * versions), `INSERT INTO` (a `Command.Insert` batch through the commit
  * CAS), `CREATE TABLE ... TBLPROPERTIES('keys'='k1[,k2]')` (an empty
  * index with typed columns) and `DROP TABLE` (clone-aware: data files
  * shared with another index survive, same mark as vacuum).
  *
  * This is the catalog-facing twin of embedding the library — the
  * reference's `QueryableIndex` surface exposed to a SQL engine's
  * namespace, on the same lazily-resolved manifests and pruned scans as
  * [[GraftDataSource]].
  */
final class GraftCatalog extends TableCatalog {

  private var catName: String = _
  private var initRoot: Option[String] = None
  // volatile: pinned/re-derived from whatever thread resolves a table
  // first; readers need the happens-before edge
  @volatile private var owner: SparkSession = _
  @volatile private var cachedStore: FsSnapshotStore = _

  /** Does `s` actually configure THIS catalog? The ownership test: a
    * session that never set `spark.sql.catalog.<name>` cannot be the one
    * whose CatalogManager instantiated this plugin.
    */
  private def defines(s: SparkSession): Boolean =
    s != null && s.conf.getOption(s"spark.sql.catalog.$catName").isDefined

  /** The stronger PINNING test: `s` defines the name AND (when initialize
    * recorded a root) its root conf matches the options the owning
    * session's CatalogManager passed to initialize. Two sessions defining
    * the SAME catalog name with DIFFERENT roots are disambiguated by the
    * root; with equal roots either pin resolves identically. Used only
    * for establishing ownership — a pinned owner that later RE-POINTS its
    * root stays the owner (the name check in [[store]]), which is the
    * supported re-point flow.
    */
  private def ownsByRoot(s: SparkSession): Boolean =
    defines(s) && initRoot.forall(r =>
      s.conf.getOption(s"spark.sql.catalog.$catName.root").contains(r))

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initRoot = Option(options.get("root"))
    // the plugin instance belongs to the session whose CatalogManager
    // instantiated it — capture it so [[store]] re-resolves against THIS
    // session's conf, never the thread-local active one (a table resolved
    // on a thread where a different session is active must not read that
    // session's root and silently cross stores). VALIDATED before
    // pinning: if first resolution happens on a thread where a DIFFERENT
    // session is momentarily active (the exact hazard this defends
    // against) and that session does not define this catalog, pinning it
    // permanently would be worse than the transient misread — leave the
    // owner unset and let [[store]] re-derive on a later, defining access.
    val active = SparkSession.active
    if (ownsByRoot(active)) owner = active
    // catalog resolution precedes planning, so this is always in time for
    // an UPDATE / MERGE INTO statement on a catalog table
    GraftRules.install(active)
  }

  /** The backing store, RE-RESOLVED from the OWNING session's conf on
    * every access: Spark freezes a catalog plugin instance at first use,
    * so an initialize-time store would silently pin whatever root the
    * conf held then — one JVM that re-points
    * `spark.sql.catalog.<name>.root` at a new store (the bench's
    * warmup-at-sf0.001-then-time-at-sf0.1 flow, or any session juggling
    * several stores under one name) would keep reading the OLD store with
    * every query green. The owner's root conf is the source of truth
    * (NOT `SparkSession.active`: a lookup on a thread where a different
    * session is active must not read that session's root); the store
    * object is cached per root (manifest loads stay memoized until the
    * root actually changes).
    */
  private def store: FsSnapshotStore = {
    // re-derive the owner when the pinned session no longer (or never)
    // defines this catalog — covers initialize() racing on a thread with
    // a foreign active session, and a session that later dropped the
    // catalog conf; an owner that still defines the NAME stays pinned
    // (root re-pointing by the owner is the supported flow). A candidate
    // is only PINNED when it passes the root-matching ownership test —
    // a foreign session defining the same name with a different root is
    // used at most transiently, never adopted.
    val session = {
      val o = owner
      if (defines(o)) o
      else {
        val a = SparkSession.active
        if (ownsByRoot(a)) { owner = a; a }
        else if (o != null) o
        else a
      }
    }
    val root = session.conf
      .getOption(s"spark.sql.catalog.$catName.root").orElse(initRoot)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$catName': set spark.sql.catalog.$catName.root"))
    val c = cachedStore
    if (c != null && c.root == root) c
    else {
      val ns = new FsSnapshotStore(root, session)
      cachedStore = ns
      ns
    }
  }

  override def name(): String = catName

  override def defaultNamespace(): Array[String] = Array.empty

  override def listTables(namespace: Array[String]): Array[Identifier] =
    store.listIndexes().map(id => Identifier.of(namespace, id)).toArray

  override def tableExists(ident: Identifier): Boolean = store.exists(ident.name)

  override def loadTable(ident: Identifier): Table =
    store.loadLatestLazy(ident.name).fold(
      _ => throw new NoSuchTableException(ident),
      m => new GraftTable(store, m))

  /** `FOR VERSION AS OF n` — snapshot version n, lazily resolved. */
  override def loadTable(ident: Identifier, version: String): Table =
    asOf(ident, Left(version))

  /** `FOR TIMESTAMP AS OF t` — Spark hands the instant in MICROSECONDS
    * since the epoch; [[GraftTable.asOf]] floors it onto the wall-clock
    * history.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    asOf(ident, Right(timestamp))

  private def asOf(ident: Identifier, at: Either[String, Long]): Table = {
    if (!store.exists(ident.name)) throw new NoSuchTableException(ident)
    GraftTable.asOf(store, ident.name, at)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    if (store.exists(ident.name)) throw new TableAlreadyExistsException(ident)
    require(partitions.isEmpty,
      "graft: PARTITIONED BY is not supported — snapshots are range-laid by key")
    val keys = Option(properties.get("keys")).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        "graft: CREATE TABLE needs TBLPROPERTIES('keys'='col1[,col2,...]')"))
    val missing = keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"graft: key columns not in schema: ${missing.mkString(",")}")
    val valueCols = schema.fieldNames.filterNot(c => keys.contains(c) || c == "version").toSeq
    val colTypes = (keys ++ valueCols).map(c => schema(c).dataType.sql)
    store.createIndex(ident.name, keys, valueCols, colTypes = colTypes)
      .fold(e => throw GraftException(e), m => new GraftTable(store, m))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft: ALTER TABLE is not supported")

  override def dropTable(ident: Identifier): Boolean = store.dropIndex(ident.name)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft: RENAME is not supported — use KVIndex.copyTo + DROP TABLE")
}
