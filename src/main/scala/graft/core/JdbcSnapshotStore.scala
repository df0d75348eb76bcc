package graft.core

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager, SQLException}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dialect-specific seams of [[JdbcSnapshotStore]] — everything else
  * in the store is portable JDBC. A networked port (PostgreSQL /
  * YugabyteDB, reference `yugabytedb.yaml`) swaps ONLY this object plus
  * the connection URL (and moves parquet staging to shared storage; see
  * the store's single-JVM note).
  *
  *  - `ddl`: idempotent schema bootstrap, one statement per durable
  *    table (control / control_appends / filelists / datafiles).
  *  - `tableExists`: classifies the bootstrap's "already there" error
  *    for engines without `CREATE TABLE IF NOT EXISTS`.
  *  - `duplicateKey`: classifies a PRIMARY KEY violation — the commit
  *    CAS loss, surfaced to the trait protocol as
  *    `FileAlreadyExistsException` (the reference's un-applied LWT).
  */
trait SqlDialect {
  def name: String
  def ddl: Seq[String]
  def tableExists(e: SQLException): Boolean
  def duplicateKey(e: SQLException): Boolean
}

object SqlDialect {

  /** Apache Derby (embedded) — the live in-sandbox backend. */
  object Derby extends SqlDialect {
    val name = "derby"
    // Derby has no CREATE TABLE IF NOT EXISTS: bootstrap swallows X0Y32
    val ddl: Seq[String] = Seq(
      "CREATE TABLE control (rel VARCHAR(512) PRIMARY KEY, buf CLOB)",
      "CREATE TABLE control_appends (rel VARCHAR(512) NOT NULL, " +
        "seq BIGINT NOT NULL, line CLOB, PRIMARY KEY (rel, seq))",
      "CREATE TABLE filelists (rel VARCHAR(512) PRIMARY KEY, buf CLOB, created_ms BIGINT)",
      "CREATE TABLE datafiles (path VARCHAR(512) PRIMARY KEY, buf BLOB, created_ms BIGINT)")
    def tableExists(e: SQLException): Boolean = e.getSQLState == "X0Y32"
    def duplicateKey(e: SQLException): Boolean =
      e.getSQLState != null && e.getSQLState.startsWith("23")
  }

  /** PostgreSQL / YugabyteDB (YSQL speaks the PostgreSQL wire protocol
    * and SQLSTATEs — reference `yugabytedb.yaml`). DORMANT here: the
    * zero-egress sandbox has neither a server nor the pgjdbc driver, so
    * this dialect is compiled, spec-pinned at the string/classification
    * level, and never opened. The same four tables land on Postgres
    * types (TEXT for the text plane, BYTEA for parquet blobs);
    * `IF NOT EXISTS` makes bootstrap idempotent without the
    * exists-error dance; 23505 (`unique_violation`) is the PK CAS loss
    * and 42P07 (`duplicate_table`) the belt-and-braces exists check.
    */
  object Postgres extends SqlDialect {
    val name = "postgres"
    val ddl: Seq[String] = Seq(
      "CREATE TABLE IF NOT EXISTS control (rel VARCHAR(512) PRIMARY KEY, buf TEXT)",
      "CREATE TABLE IF NOT EXISTS control_appends (rel VARCHAR(512) NOT NULL, " +
        "seq BIGINT NOT NULL, line TEXT, PRIMARY KEY (rel, seq))",
      "CREATE TABLE IF NOT EXISTS filelists (rel VARCHAR(512) PRIMARY KEY, buf TEXT, created_ms BIGINT)",
      "CREATE TABLE IF NOT EXISTS datafiles (path VARCHAR(512) PRIMARY KEY, buf BYTEA, created_ms BIGINT)")
    def tableExists(e: SQLException): Boolean = e.getSQLState == "42P07"
    def duplicateKey(e: SQLException): Boolean = e.getSQLState == "23505"
  }

  /** Cassandra CQL twin of the reference's keyspace
    * (reference `cassandra_keyspace.cql:1-19`, `CassandraStorage.scala:14-176`)
    * — the DORMANT schema + statement strings a Cassandra port installs.
    * Deliberately NOT a [[SqlDialect]]: CQL is not JDBC SQL — the port
    * swaps the connection for a Datastax session, and the commit CAS is
    * the LWT `INSERT ... IF NOT EXISTS` whose APPLIED flag replaces the
    * PK-violation catch (`duplicateKey` ⇔ `applied == false`).
    */
  object CassandraCql {
    val keyspace: String =
      "CREATE KEYSPACE IF NOT EXISTS graft WITH replication = " +
        "{'class': 'NetworkTopologyStrategy', 'replication_factor': 3}"
    val tables: Seq[String] = Seq(
      "CREATE TABLE IF NOT EXISTS graft.control (rel text PRIMARY KEY, buf text)",
      "CREATE TABLE IF NOT EXISTS graft.control_appends (rel text, seq bigint, " +
        "line text, PRIMARY KEY (rel, seq))",
      "CREATE TABLE IF NOT EXISTS graft.filelists (rel text PRIMARY KEY, " +
        "buf text, created_ms bigint)",
      "CREATE TABLE IF NOT EXISTS graft.datafiles (path text PRIMARY KEY, " +
        "buf blob, created_ms bigint)")
    /** the commit CAS: un-applied ⇔ the FS store's FileAlreadyExists */
    val casInsert: String =
      "INSERT INTO graft.control (rel, buf) VALUES (?, ?) IF NOT EXISTS"
  }
}

/** Embedded-JDBC (Apache Derby) storage backend — the IO3 analogue of the
  * reference's `CassandraStorage` (reference `CassandraStorage.scala:14-176`,
  * schema `cassandra_keyspace.cql:1-19`): every durable object lives in a
  * database table instead of a filesystem.
  *
  *  - `control(rel, buf)` mirrors the reference's `indexes(id, buf)` blob
  *    table: manifests, LATEST pointers and the temporal log are rows keyed
  *    by their relative control path. The commit CAS is the PRIMARY KEY
  *    constraint — an `INSERT` of an existing rel fails exactly like the
  *    reference's `INSERT ... IF NOT EXISTS` LWT (`CassandraStorage.scala`'s
  *    applied-flag check) and is surfaced as the same
  *    `FileAlreadyExistsException` the FS store throws, so the trait's
  *    single-writer protocol is untouched.
  *  - `datafiles(path, buf)` mirrors the reference's `blocks(id, buf)`
  *    table: each range-sorted parquet part is ONE blob row (parquet is the
  *    block codec, IO4). Files are immutable once written, so reads
  *    materialize blobs into a per-store local cache for Spark's parquet
  *    reader at most once each.
  *  - `control_appends(rel, seq, line)` holds appended log lines (the
  *    temporal history) one row each: append is a single INSERT — O(line),
  *    never a read-concat-rewrite of the whole log — and `readText`
  *    reassembles base + lines in seq order. Whole-content replaces
  *    (vacuum's history rewrite) clear the rows and reset the base.
  *  - `filelists(rel, buf)` holds big-manifest filelist checkpoints as one
  *    JSON blob per snapshot (the DB is already a row store — a columnar
  *    side-table buys nothing inside Derby). Both blob tables carry a
  *    `created_ms` stamp so vacuum's grace window follows the DATABASE:
  *    every instance sharing the URL dates objects identically.
  *
  * Scope matches the reference's Cassandra backend in spirit: prove the
  * `SnapshotStore` trait against a transactional row store. The zero-egress
  * sandbox forbids a networked Cassandra/YugabyteDB; in-process Derby
  * (`jdbc:derby:memory:...`) exercises the identical seam. The
  * engine-specific pieces are factored into [[SqlDialect]] (DDL +
  * exists/duplicate-key classification — [[SqlDialect.Postgres]] is the
  * dormant networked twin, [[SqlDialect.CassandraCql]] the dormant CQL
  * schema); a networked port swaps the URL + dialect AND moves the
  * parquet staging/cache onto shared storage: as shipped the data plane
  * stages through driver-local temp files, so the store is single-JVM
  * only (enforced below).
  * Bulk analytics at 100 TB stays on the FS/object-store backend; this one
  * is the control-plane-in-a-database deployment shape.
  */
class JdbcSnapshotStore(val url: String, val spark: SparkSession,
                        val dialect: SqlDialect = SqlDialect.Derby)
    extends SnapshotStore {

  // the data plane stages parquet through DRIVER-LOCAL temp files (write
  // staging + the blob read cache) — executors on other machines could
  // neither produce nor read them. In-process Derby is single-JVM by
  // nature, so this matches the store's whole deployment shape; a
  // networked-JDBC port must move staging to shared storage first.
  require(spark.sparkContext.isLocal,
    "JdbcSnapshotStore is an embedded, single-JVM backend (driver-local " +
      "parquet staging); it cannot serve a multi-executor cluster")

  val root: String = url

  private val conn: Connection = DriverManager.getConnection(url)
  conn.setAutoCommit(true)

  private val cacheDir = Files.createTempDirectory("graft-jdbc-cache")

  // idempotent schema bootstrap — DDL and the exists/duplicate error
  // classification come from the DIALECT (the only engine-specific
  // seams; see [[SqlDialect]]). `created_ms` dates every object IN the
  // database, so vacuum's grace window sees one truth no matter how
  // many store instances share the URL. `control_appends` holds
  // appended log lines one ROW each — the temporal history log is
  // append-only, and a read-concat-rewrite CLOB would make the log
  // O(history²) over an index's life.
  for (ddl <- dialect.ddl) {
    try { val st = conn.createStatement(); try st.execute(ddl) finally st.close() }
    catch { case e: SQLException if dialect.tableExists(e) => () } // exists
  }
  // migrate pre-created_ms databases opened from a directory URL (undated
  // rows read as NULL -> swept-as-old, same as before the column existed)
  for (tbl <- Seq("filelists", "datafiles")) {
    try {
      val st = conn.createStatement()
      try st.execute(s"ALTER TABLE $tbl ADD COLUMN created_ms BIGINT") finally st.close()
    } catch { case _: SQLException => () } // column already there
  }

  // all JDBC access serialized on the single connection; contention is
  // control-plane-sized (manifest/pointer rows), never data-volume-sized
  private def withConn[A](f: Connection => A): A = conn.synchronized(f(conn))

  /** literal-prefix LIKE pattern ('_'/'%' in ids must not be wildcards) */
  private def likePrefix(prefix: String): String =
    prefix.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_") + "%"

  // ---- control plane ----

  override protected def readText(rel: String): Option[String] = withConn { c =>
    val base = {
      val ps = c.prepareStatement("SELECT buf FROM control WHERE rel = ?")
      try {
        ps.setString(1, rel)
        val rs = ps.executeQuery()
        if (rs.next()) { val cl = rs.getClob(1); Some(cl.getSubString(1, cl.length().toInt)) }
        else None
      } finally ps.close()
    }
    val appended = {
      val ps = c.prepareStatement(
        "SELECT line FROM control_appends WHERE rel = ? ORDER BY seq")
      try {
        ps.setString(1, rel)
        val rs = ps.executeQuery()
        val sb = new StringBuilder
        var any = false
        while (rs.next()) {
          val cl = rs.getClob(1)
          sb.append(cl.getSubString(1, cl.length().toInt)); any = true
        }
        if (any) Some(sb.toString) else None
      } finally ps.close()
    }
    if (base.isEmpty && appended.isEmpty) None
    else Some(base.getOrElse("") + appended.getOrElse(""))
  }

  override protected def writeTextCreateNew(rel: String, s: String): Unit = withConn { c =>
    if (appendSeqMax(c, rel).isDefined) // rel existing only as appended lines
      throw new java.nio.file.FileAlreadyExistsException(rel)
    val ps = c.prepareStatement("INSERT INTO control (rel, buf) VALUES (?, ?)")
    try {
      ps.setString(1, rel); ps.setString(2, s)
      ps.executeUpdate()
    } catch {
      case e: SQLException if dialect.duplicateKey(e) =>
        throw new java.nio.file.FileAlreadyExistsException(rel) // PK violation = CAS loss
    } finally ps.close()
  }

  override protected def writeTextAtomic(rel: String, s: String): Unit = withConn { c =>
    // whole-content replace: any appended lines are part of the content
    // being replaced (vacuum's history rewrite), so they go too
    val del = c.prepareStatement("DELETE FROM control_appends WHERE rel = ?")
    try { del.setString(1, rel); del.executeUpdate() } finally del.close()
    val up = c.prepareStatement("UPDATE control SET buf = ? WHERE rel = ?")
    try {
      up.setString(1, s); up.setString(2, rel)
      if (up.executeUpdate() == 0) {
        val ins = c.prepareStatement("INSERT INTO control (rel, buf) VALUES (?, ?)")
        try { ins.setString(1, rel); ins.setString(2, s); ins.executeUpdate() }
        finally ins.close()
      }
    } finally up.close()
  }

  private def appendSeqMax(c: Connection, rel: String): Option[Long] = {
    val ps = c.prepareStatement("SELECT MAX(seq) FROM control_appends WHERE rel = ?")
    try {
      ps.setString(1, rel)
      val rs = ps.executeQuery()
      if (rs.next()) { val m = rs.getLong(1); if (rs.wasNull()) None else Some(m) }
      else None
    } finally ps.close()
  }

  /** O(appended line), not O(log length): one row per append — the
    * temporal history log grows by INSERT, never read-concat-rewrite.
    */
  override protected def appendText(rel: String, s: String): Unit = withConn { c =>
    val seq = appendSeqMax(c, rel).fold(0L)(_ + 1L)
    val ps = c.prepareStatement(
      "INSERT INTO control_appends (rel, seq, line) VALUES (?, ?, ?)")
    try {
      ps.setString(1, rel); ps.setLong(2, seq); ps.setString(3, s)
      ps.executeUpdate()
    } finally ps.close()
  }

  /** O(base + 1) instead of O(appended history): the append rows enter the
    * fingerprint through (count, max seq) — both change on every append —
    * and only the vacuum-compacted base CLOB (bounded by retainVersions)
    * is read and hashed. The trait default would reassemble the whole log
    * per temporal-cache validation.
    */
  override protected def historyFingerprint(id: String): Long = withConn { c =>
    val rel = historyRel(id)
    val base = {
      val ps = c.prepareStatement("SELECT buf FROM control WHERE rel = ?")
      try {
        ps.setString(1, rel)
        val rs = ps.executeQuery()
        if (rs.next()) { val cl = rs.getClob(1); cl.getSubString(1, cl.length().toInt) }
        else null
      } finally ps.close()
    }
    val (nApp, maxSeq) = {
      val ps = c.prepareStatement(
        "SELECT COUNT(*), COALESCE(MAX(seq), -1) FROM control_appends WHERE rel = ?")
      try {
        ps.setString(1, rel)
        val rs = ps.executeQuery()
        rs.next()
        (rs.getLong(1), rs.getLong(2))
      } finally ps.close()
    }
    if (base == null && nApp == 0L) -1L
    else {
      var h = if (base == null) -1L else base.length.toLong * 1000003L + base.hashCode
      h = h * 6364136223846793005L + nApp
      h * 6364136223846793005L + maxSeq
    }
  }

  override protected def listNames(relDir: String): Seq[String] = withConn { c =>
    val prefix = if (relDir.isEmpty) "" else relDir + "/"
    val out = Seq.newBuilder[String]
    for (table <- Seq("control", "control_appends")) {
      val ps = c.prepareStatement(
        s"SELECT DISTINCT rel FROM $table WHERE rel LIKE ? ESCAPE '\\'")
      try {
        ps.setString(1, likePrefix(prefix))
        val rs = ps.executeQuery()
        while (rs.next()) out += rs.getString(1).stripPrefix(prefix).takeWhile(_ != '/')
      } finally ps.close()
    }
    out.result().distinct
  }

  override protected def deleteControl(rel: String): Unit = withConn { c =>
    for (sql <- Seq("DELETE FROM control WHERE rel = ?",
                    "DELETE FROM control_appends WHERE rel = ?")) {
      val ps = c.prepareStatement(sql)
      try { ps.setString(1, rel); ps.executeUpdate() } finally ps.close()
    }
  }

  // ---- filelist checkpoints ----

  override protected def writeFileList(rel: String, files: Seq[FileEntry]): Unit =
    withConn { c =>
      val ps = c.prepareStatement(
        "INSERT INTO filelists (rel, buf, created_ms) VALUES (?, ?, ?)")
      try {
        ps.setString(1, rel); ps.setString(2, SnapshotManifest.filesToJson(files))
        ps.setLong(3, System.currentTimeMillis())
        ps.executeUpdate()
      } finally ps.close()
    }

  override protected def readFileList(rel: String): Seq[FileEntry] = withConn { c =>
    val ps = c.prepareStatement("SELECT buf FROM filelists WHERE rel = ?")
    try {
      ps.setString(1, rel)
      val rs = ps.executeQuery()
      if (!rs.next()) throw new java.util.NoSuchElementException(s"no such filelist: $rel")
      val cl = rs.getClob(1)
      SnapshotManifest.filesFromJson(cl.getSubString(1, cl.length().toInt))
    } finally ps.close()
  }

  override protected def deleteFileList(rel: String): Unit = withConn { c =>
    val ps = c.prepareStatement("DELETE FROM filelists WHERE rel = ?")
    try { ps.setString(1, rel); ps.executeUpdate() } finally ps.close()
  }

  override protected def listFileLists(id: String): Seq[String] = withConn { c =>
    val prefix = s"$id/filelist/"
    val ps = c.prepareStatement(
      "SELECT rel FROM filelists WHERE rel LIKE ? ESCAPE '\\'")
    try {
      ps.setString(1, likePrefix(prefix))
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1).stripPrefix(prefix)
      out.result()
    } finally ps.close()
  }

  // ---- data plane ----

  private def logicalPrefix(id: String) = s"jdbc/$id/data/"

  override def writeData(id: String, df: DataFrame, keySpec: KeySpec,
                         targetPartitions: Int = 0): (String, Seq[FileEntry]) = {
    val snapshotId = UUID.randomUUID().toString
    val tmpRoot = Files.createTempDirectory("graft-jdbc-write")
    val dir = tmpRoot.resolve("d")
    try {
      val nParts =
        if (targetPartitions > 0) targetPartitions
        else math.max(1, df.sparkSession.sparkContext.defaultParallelism / 4)
      // single-file writes collect stats during the write job (see
      // writeParquetWithStats); each staged part becomes one blob row
      // under an immutable logical path
      val staged = writeParquetWithStats(dir.toString, df, keySpec, nParts)
      val entries = staged.zipWithIndex.map { case (f, i) =>
        val localPath = Paths.get(new java.net.URI(f.path).getPath)
        val logical = s"${logicalPrefix(id)}$snapshotId/part-$i"
        withConn { c =>
          val ps = c.prepareStatement(
            "INSERT INTO datafiles (path, buf, created_ms) VALUES (?, ?, ?)")
          try {
            ps.setString(1, logical)
            ps.setBytes(2, Files.readAllBytes(localPath))
            ps.setLong(3, System.currentTimeMillis())
            ps.executeUpdate()
          } finally ps.close()
        }
        f.copy(path = logical)
      }
      (snapshotId, entries)
    } finally deleteRec(tmpRoot)
  }

  override def readFiles(paths: Seq[String], m: SnapshotManifest): DataFrame =
    readParquet(paths.map(materialize), m)

  /** Blobs are immutable — cache each at most once for Spark's reader. */
  private def materialize(logical: String): String = cacheDir.synchronized {
    val f = cacheDir.resolve(logical.replace('/', '_') + ".parquet")
    if (!Files.exists(f)) {
      val bytes = withConn { c =>
        val ps = c.prepareStatement("SELECT buf FROM datafiles WHERE path = ?")
        try {
          ps.setString(1, logical)
          val rs = ps.executeQuery()
          if (!rs.next())
            throw new java.util.NoSuchElementException(s"no such data file: $logical")
          val bl = rs.getBlob(1)
          bl.getBytes(1, bl.length().toInt)
        } finally ps.close()
      }
      val tmp = f.resolveSibling(f.getFileName.toString + "." + UUID.randomUUID())
      Files.write(tmp, bytes)
      Files.move(tmp, f)
    }
    f.toString
  }

  override protected def listDataFiles(id: String): Seq[String] = withConn { c =>
    val ps = c.prepareStatement(
      "SELECT path FROM datafiles WHERE path LIKE ? ESCAPE '\\'")
    try {
      ps.setString(1, likePrefix(logicalPrefix(id)))
      val rs = ps.executeQuery()
      val out = Seq.newBuilder[String]
      while (rs.next()) out += rs.getString(1)
      out.result()
    } finally ps.close()
  }

  override protected def deleteDataFile(path: String): Unit = {
    withConn { c =>
      val ps = c.prepareStatement("DELETE FROM datafiles WHERE path = ?")
      try { ps.setString(1, path); ps.executeUpdate() } finally ps.close()
    }
    Files.deleteIfExists(cacheDir.resolve(path.replace('/', '_') + ".parquet"))
  }

  // creation stamps for vacuum's grace window live IN the database: every
  // store instance sharing the URL (e.g. one handle for ingest, another
  // for maintenance) sees the same dates, so a second instance can never
  // sweep the first's young pre-CAS objects. Pre-migration rows read as
  // NULL -> None -> swept as old, same as before the column existed.
  private def selectCreatedMs(table: String, keyCol: String, key: String): Option[Long] =
    withConn { c =>
      val ps = c.prepareStatement(
        s"SELECT created_ms FROM $table WHERE $keyCol = ?")
      try {
        ps.setString(1, key)
        val rs = ps.executeQuery()
        if (!rs.next()) None
        else { val v = rs.getLong(1); if (rs.wasNull()) None else Some(v) }
      } finally ps.close()
    }

  override protected def dataFileModifiedMs(path: String): Option[Long] =
    selectCreatedMs("datafiles", "path", path)

  override protected def fileListModifiedMs(rel: String): Option[Long] =
    selectCreatedMs("filelists", "rel", rel)

  private def deleteRec(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: Exception => () }

  /** Close the backing connection (drops an in-memory Derby database). */
  def close(): Unit =
    try conn.close() catch { case _: SQLException => () }
}

object JdbcSnapshotStore {
  /** Fresh private in-memory Derby database — the unit-test/dev shape. */
  def inMemory(spark: SparkSession): JdbcSnapshotStore =
    new JdbcSnapshotStore(
      s"jdbc:derby:memory:graft-${UUID.randomUUID()};create=true", spark)
}
