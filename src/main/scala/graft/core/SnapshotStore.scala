package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructField, StructType, StringType}
import org.apache.spark.storage.StorageLevel
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file range statistics — the Spark-native equivalent of the reference's
  * `Pointer(partition, id, nElements, level)` routing entry
  * (reference `package.scala:23-25`, `Meta.scala:14`). `min`/`max` are the
  * composite key bounds of the file; `rows` makes `count()` an O(1) manifest
  * sum exactly like `Pointer.nElements` (reference `Meta.scala:29`).
  */
final case class FileEntry(path: String, rows: Long,
                           min: Seq[Any], max: Seq[Any])

/** Snapshot descriptor — the `IndexContext` equivalent
  * (reference `index.proto:68-78`). Whoever holds a manifest can read that
  * frozen snapshot forever: files are immutable and shared across snapshots
  * (file-granular copy-on-write replaces the reference's block-granular COW
  * path copy, `Index.scala:137-160`).
  *
  * `colTypes` records the Spark DDL type of each `keyCols ++ valueCols`
  * column: with the string `version` stamp they are the read schema of
  * every snapshot ([[readSchema]]) — the catalog reports it, every read of
  * the snapshot's files declares it (so no read spends a Spark job
  * inferring it from parquet footers), every write casts to it, and a
  * zero-file snapshot reads as a typed empty DataFrame with it (the
  * reference returns empty results, never errors, on empty index reads).
  * Empty = unknown (legacy manifests): file reads infer the schema from
  * the files, and an empty read falls back to string columns.
  */
final case class SnapshotManifest(
    id: String,                 // index id
    version: Long,              // monotone snapshot number within the index
    snapshotId: String,         // uuid of this snapshot
    keyCols: Seq[String],
    valueCols: Seq[String],
    numElements: Long,          // O(1) count, reference Index.scala:899
    maxNItems: Long,            // capacity before split; -1 = unbounded
    lastChangeVersion: String,  // tx id of last writer, reference Context.scala:20
    files: Seq[FileEntry],
    colTypes: Seq[String] = Nil,
    // pointer to a parquet filelist checkpoint (big manifests, Delta-
    // checkpoint pattern). Commit decides it from files.size; the eager
    // load path (loadVersion) resolves and CLEARS it, while the lazy open
    // path (loadVersionLazy -> KVIndex.open) KEEPS it so reads can prune
    // the checkpoint Spark-side and materialize only covering entries.
    // Writer-built manifests must always inline `files` — commit refuses a
    // manifest still carrying a ref (serializeManifest's require).
    filesRef: Option[String] = None,
    // commit-time record of [[filesDisjointOrdered]] carried alongside a
    // checkpoint ref, so lazily-opened manifests can pick the sort-free
    // read paths without materializing the file list first
    disjointHint: Option[Boolean] = None) {

  def keySpec: KeySpec = KeySpec(keyCols)

  /** The snapshot's schema from `colTypes` — key and value columns at
    * their recorded types, then the string `version` stamp, nullable at
    * every level as any file read is; None for a legacy manifest whose
    * `colTypes` is incomplete.
    */
  @transient lazy val readSchema: Option[StructType] = {
    val names = keyCols ++ valueCols
    if (colTypes.size != names.size) None
    else Some(SnapshotManifest.nullable(StructType(names.zip(colTypes).map { case (n, t) =>
      StructField(n, DataType.fromDDL(t)) } :+ StructField("version", StringType)))
      .asInstanceOf[StructType])
  }
  def isEmpty: Boolean = numElements == 0
  /** capacity predicates — reference QueryableIndex.scala:521-538 */
  def isFull: Boolean = maxNItems > 0 && numElements >= maxNItems
  def hasEnough(n: Long): Boolean = maxNItems <= 0 || numElements + n <= maxNItems

  /** True iff the files (kept sorted by min) form a strictly increasing,
    * pairwise-DISJOINT key-range chain: each file's max is below the next
    * file's min. This is the precondition for the sort-free ordered read
    * path ([[graft.core.KVIndex.inOrdered]]): bootstrap/compact/in-range
    * COW writes preserve it, but an out-of-range insert whose batch spans
    * several inter-file gaps produces a new file overlapping kept files'
    * ranges — those snapshots fall back to a sorted read.
    */
  def filesDisjointOrdered: Boolean = SnapshotManifest.disjointOrdered(files)
}

object SnapshotManifest {
  /** `t` with every field, element and map value nullable. */
  private[core] def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def anyToJson(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case i: Int => JInt(BigInt(i))
    case l: Long => JInt(BigInt(l))
    case s: Short => JInt(BigInt(s.toInt))
    case b: Byte => JInt(BigInt(b.toInt))
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case b: Boolean => JBool(b)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case d: BigDecimal => JDecimal(d)
    case d: java.sql.Date => JObject("$date" -> JString(d.toString))
    case t: java.sql.Timestamp => JObject("$ts" -> JInt(BigInt(t.getTime)))
    case b: Array[Byte] => JObject("$bin" -> JString(java.util.Base64.getEncoder.encodeToString(b)))
    case other => JString(other.toString)
  }

  private def jsonToAny(j: JValue): Any = j match {
    case JNull => null
    case JString(s) => s
    case JInt(i) => i.toLong
    case JDouble(d) => d
    case JDecimal(d) => d
    case JBool(b) => b
    case JObject(List(("$date", JString(s)))) => java.sql.Date.valueOf(s)
    case JObject(List(("$ts", JInt(ms)))) => new java.sql.Timestamp(ms.toLong)
    case JObject(List(("$bin", JString(s)))) => java.util.Base64.getDecoder.decode(s)
    case other => JsonMethods.compact(JsonMethods.render(other))
  }

  /** JSON-encode one composite key literal (filelist checkpoint cells). */
  private[core] def keyToJson(k: Seq[Any]): String =
    JsonMethods.compact(JsonMethods.render(JArray(k.map(anyToJson).toList)))
  private[core] def keyFromJson(s: String): Seq[Any] =
    JsonMethods.parse(s).asInstanceOf[JArray].arr.map(jsonToAny)

  /** JSON-encode a whole file list (backends that keep filelist
    * checkpoints in a single blob, e.g. the JDBC store).
    */
  private[core] def filesToJson(files: Seq[FileEntry]): String =
    JsonMethods.compact(JsonMethods.render(JArray(files.map(f => JObject(
      "path" -> JString(f.path), "rows" -> JInt(BigInt(f.rows)),
      "min" -> JArray(f.min.map(anyToJson).toList),
      "max" -> JArray(f.max.map(anyToJson).toList))).toList)))
  private[core] def filesFromJson(s: String): Seq[FileEntry] =
    JsonMethods.parse(s).asInstanceOf[JArray].arr.map { fj =>
      FileEntry(
        (fj \ "path").asInstanceOf[JString].s,
        (fj \ "rows").asInstanceOf[JInt].num.toLong,
        (fj \ "min").asInstanceOf[JArray].arr.map(jsonToAny),
        (fj \ "max").asInstanceOf[JArray].arr.map(jsonToAny))
    }

  def toJson(m: SnapshotManifest): String = {
    val files = JArray(m.files.map(f => JObject(
      "path" -> JString(f.path), "rows" -> JInt(BigInt(f.rows)),
      "min" -> JArray(f.min.map(anyToJson).toList),
      "max" -> JArray(f.max.map(anyToJson).toList))).toList)
    val base: List[(String, JValue)] = List(
      "id" -> JString(m.id), "version" -> JInt(BigInt(m.version)),
      "snapshotId" -> JString(m.snapshotId),
      "keyCols" -> JArray(m.keyCols.map(JString(_)).toList),
      "valueCols" -> JArray(m.valueCols.map(JString(_)).toList),
      "numElements" -> JInt(BigInt(m.numElements)),
      "maxNItems" -> JInt(BigInt(m.maxNItems)),
      "lastChangeVersion" -> JString(m.lastChangeVersion),
      "files" -> files,
      "colTypes" -> JArray(m.colTypes.map(JString(_)).toList))
    val withRef = m.filesRef.fold(base)(r => base :+ ("filesRef" -> (JString(r): JValue)))
    val withHint = m.disjointHint.fold(withRef)(d => withRef :+ ("disjoint" -> (JBool(d): JValue)))

    JsonMethods.compact(JsonMethods.render(JObject(withHint)))
  }

  def fromJson(s: String): SnapshotManifest = {
    val j = JsonMethods.parse(s)
    def str(f: String) = (j \ f).asInstanceOf[JString].s
    def lng(f: String) = (j \ f).asInstanceOf[JInt].num.toLong
    // strict: a corrupt/truncated manifest must fail HERE, not parse to an
    // index with zero key columns
    def strs(f: String) = (j \ f).asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
    // lenient: absent in legacy manifests
    def strsOpt(f: String) = (j \ f) match {
      case JArray(arr) => arr.map(_.asInstanceOf[JString].s)
      case _ => Nil
    }
    val files = (j \ "files").asInstanceOf[JArray].arr.map { fj =>
      FileEntry(
        (fj \ "path").asInstanceOf[JString].s,
        (fj \ "rows").asInstanceOf[JInt].num.toLong,
        (fj \ "min").asInstanceOf[JArray].arr.map(jsonToAny),
        (fj \ "max").asInstanceOf[JArray].arr.map(jsonToAny))
    }
    val filesRef = (j \ "filesRef") match {
      case JString(s) => Some(s)
      case _ => None
    }
    val disjointHint = (j \ "disjoint") match {
      case JBool(b) => Some(b)
      case _ => None
    }
    SnapshotManifest(str("id"), lng("version"), str("snapshotId"),
      strs("keyCols"), strs("valueCols"), lng("numElements"),
      lng("maxNItems"), str("lastChangeVersion"), files, strsOpt("colTypes"),
      filesRef, disjointHint)
  }

  /** True iff `files` (sorted by min) form a strictly increasing, pairwise-
    * disjoint key-range chain — see [[SnapshotManifest.filesDisjointOrdered]].
    */
  def disjointOrdered(files: Seq[FileEntry]): Boolean =
    files.sizeIs < 2 || files.iterator.zip(files.iterator.drop(1)).forall {
      case (a, b) => KeyOrd.compare(a.max, b.min) < 0
    }
}

/** Driver-side ordering over composite key literals, used only for manifest
  * file pruning (deciding which files a write batch touches). Matches Spark's
  * per-type orderings for the types we store in manifests.
  */
object KeyOrd extends Ordering[Seq[Any]] {
  /** Canonicalize one key-literal value to the manifest's literal types.
    * Rows collected under `spark.sql.datetime.java8API.enabled=true` carry
    * `java.time.Instant`/`LocalDate` where manifests store
    * `java.sql.Timestamp`/`Date` — left unnormalized they'd fall through
    * to cmp1's toString catch-all (ISO-8601 `T` vs JDBC-escape space sorts
    * WRONG) and to the JSON codec's string fallback. Every site that feeds
    * collected Row values into manifests or KeyOrd must pass through here.
    */
  def normLiteral(v: Any): Any = v match {
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case d: java.time.LocalDate => java.sql.Date.valueOf(d)
    case other => other
  }
  def normKey(k: Seq[Any]): Seq[Any] = k.map(normLiteral)
  private def cmp1(a0: Any, b0: Any): Int = (KeyOrd.normLiteral(a0), KeyOrd.normLiteral(b0)) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => x.compareTo(y)
    case (x: Array[Byte], y: Array[Byte]) =>
      // unsigned lexicographic — matches Spark BinaryType ordering and the
      // reference's Guava UnsignedBytes comparator (package.scala:39-42)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case (x: Number, y: Number) =>
      // typed fast paths — O(files) prune passes over big manifests ran
      // through BigDecimal-via-toString here, which allocated two objects
      // and parsed two strings PER COMPARE; integral/floating keys (the
      // overwhelming case) now compare primitively. Kinds only mix across
      // a JSON round-trip (Int becomes Long), never semantically.
      val xi = x.isInstanceOf[java.lang.Long] || x.isInstanceOf[java.lang.Integer] ||
        x.isInstanceOf[java.lang.Short] || x.isInstanceOf[java.lang.Byte]
      val yi = y.isInstanceOf[java.lang.Long] || y.isInstanceOf[java.lang.Integer] ||
        y.isInstanceOf[java.lang.Short] || y.isInstanceOf[java.lang.Byte]
      val xf = x.isInstanceOf[java.lang.Double] || x.isInstanceOf[java.lang.Float]
      val yf = y.isInstanceOf[java.lang.Double] || y.isInstanceOf[java.lang.Float]
      if (xi && yi) java.lang.Long.compare(x.longValue(), y.longValue())
      else if (xf && yf) java.lang.Double.compare(x.doubleValue(), y.doubleValue())
      else new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
    case (x, y) => x.toString.compareTo(y.toString)
  }
  override def compare(a: Seq[Any], b: Seq[Any]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = cmp1(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}

/** Snapshot catalog + data layer — the `Storage` equivalent
  * (reference `Storage.scala:7-33`). The catalog/commit/temporal/vacuum
  * logic is backend-independent and lives here, expressed over a handful of
  * small control-plane (text files under `root`) and data-plane (columnar
  * file sets) primitives; [[FsSnapshotStore]] and [[MemorySnapshotStore]]
  * are the two backends, mirroring the reference's `CassandraStorage` /
  * `MemoryStorage` pair.
  *
  * Layout under `root` (relative control paths):
  * {{{
  *   <indexId>/LATEST                    -> "v<version>" (atomic swap commit)
  *   <indexId>/v<version>.manifest.json
  *   <indexId>/history.jsonl             -> temporal log (ts -> version)
  *   <indexId>/data/<snapshotId>/part-N  -> data files (parquet on FS)
  * }}}
  *
  * Commit protocol (reference single-writer `used` flag, `Index.scala:1012`,
  * and snapshot isolation `readme.md:4`): a writer commits by CREATE_NEW of
  * `v<n+1>.manifest.json` — only one writer can create a given version (the
  * storage CAS) — then atomically repointing LATEST.
  */
trait SnapshotStore {
  def root: String
  def spark: SparkSession

  // ---- control-plane primitives (relative paths under root) ----
  protected def readText(rel: String): Option[String]
  /** atomic create-new; throws [[java.nio.file.FileAlreadyExistsException]]
    * if present — the commit CAS */
  protected def writeTextCreateNew(rel: String, s: String): Unit
  protected def writeTextAtomic(rel: String, s: String): Unit
  protected def appendText(rel: String, s: String): Unit
  /** names directly under `relDir` ("" = root) */
  protected def listNames(relDir: String): Seq[String]
  protected def deleteControl(rel: String): Unit

  // ---- filelist checkpoints (big manifests) ----

  /** Above this many files, commit stores the manifest's file list as a
    * columnar side-table instead of inline JSON — the Delta-checkpoint
    * pattern: at 100 TB / 32 MB files a manifest is ~3M entries, and
    * parsing that as a JSON monolith on every open is the wrong cost
    * shape; a parquet read of the same rows is columnar, parallel and
    * cheap. Below it, plain inline JSON keeps small manifests
    * zero-extra-IO and human-readable.
    */
  protected def inlineFilesMax: Int = 10000
  /** write `files` (in order) as the checkpoint at `rel` */
  protected def writeFileList(rel: String, files: Seq[FileEntry]): Unit
  /** read a checkpoint back, preserving write order */
  protected def readFileList(rel: String): Seq[FileEntry]
  protected def deleteFileList(rel: String): Unit
  /** checkpoint names (snapshotIds) currently stored for `id` */
  protected def listFileLists(id: String): Seq[String]

  // ---- data-plane primitives ----

  /** Write `df` as the data of a brand-new snapshot, range-partitioned and
    * sorted by key so per-file stats give seek-like reads (SURVEY §7
    * hard-part 3). Returns the file entries with per-file min/max composite
    * key + row count.
    */
  def writeData(id: String, df: DataFrame, keySpec: KeySpec,
                targetPartitions: Int = 0): (String, Seq[FileEntry])

  /** Read a subset of a snapshot's files (the touched set during COW) as
    * `m`'s columns, `keyCols ++ valueCols :+ version`. With complete
    * `colTypes` the frame has exactly [[SnapshotManifest.readSchema]] and
    * building it launches no Spark job: the schema is declared, not read
    * from the files (Spark still lists more paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`, 32 by
    * default, with a job). Only a legacy manifest infers it (one job).
    */
  def readFiles(paths: Seq[String], m: SnapshotManifest): DataFrame

  /** [[readFiles]] over parquet files — shared by every parquet-reading
    * backend.
    */
  protected final def readParquet(paths: Seq[String], m: SnapshotManifest): DataFrame = {
    val cols = (m.keyCols ++ m.valueCols :+ "version").map(col)
    m.readSchema.fold(spark.read)(spark.read.schema).parquet(paths: _*).select(cols: _*)
  }

  /** Range-partition + sort `df` by key, write it as parquet under
    * `dir`, and return the per-file stats — shared by every
    * parquet-writing backend. SINGLE-file writes (the common incremental
    * commit: one small COW delta) collect count/min/max DURING the write
    * job via `observe`, eliminating the parquet read-back job
    * [[fileStats]] costs; multi-file writes keep the exact per-file
    * stats aggregate. The observed min/max pass through the same
    * [[KeyOrd.normKey]] canonicalization as the read-back path, and the
    * values are identical: parquet round-trips Spark's logical values
    * losslessly, so pre-write and post-read extrema agree.
    */
  protected def writeParquetWithStats(dir: String, df: DataFrame,
                                      keySpec: KeySpec, nParts: Int): Seq[FileEntry] = {
    val keyCols = keySpec.cols.map(col)
    val part = df.repartitionByRange(nParts, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    if (nParts != 1) {
      part.write.mode("errorifexists").parquet(dir)
      return fileStats(dir, keySpec, part.schema)
    }
    val obs = org.apache.spark.sql.Observation()
    val kstruct = struct(keyCols: _*)
    part.observe(obs, count(lit(1)).as("rows"),
        min(kstruct).as("mn"), max(kstruct).as("mx"))
      .write.mode("errorifexists").parquet(dir)
    // the observation listener fires asynchronously after the write
    // action; bounded wait, with the read-back path as a safe fallback
    val m: Map[String, Any] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.global
        scala.concurrent.Await.result(
          scala.concurrent.Future(obs.get),
          scala.concurrent.duration.Duration(10, "s"))
      } catch {
        // ANY failure to harvest the observed metrics (timeout, listener
        // error, interrupt wrapped by the Future) falls back to the
        // read-back path — the write itself already succeeded, and the
        // old read-back path would have completed this commit
        case scala.util.control.NonFatal(_) => Map.empty
      }
    if (m.isEmpty) return fileStats(dir, keySpec, part.schema)
    val rows = m("rows").asInstanceOf[Long]
    if (rows == 0L) return Nil
    val p = java.nio.file.Paths.get(dir)
    val partFile = {
      val listing = java.nio.file.Files.list(p)
      val parts =
        try listing.iterator().asScala
          .filter(f => f.getFileName.toString.startsWith("part-") &&
            f.getFileName.toString.endsWith(".parquet"))
          .toList
        finally listing.close() // Files.list leaks a directory fd unless closed
      parts match {
        case one :: Nil => one
        case _ => // unexpected layout — trust the read-back path
          return fileStats(dir, keySpec, part.schema)
      }
    }
    val mn = m("mn").asInstanceOf[org.apache.spark.sql.Row]
    val mx = m("mx").asInstanceOf[org.apache.spark.sql.Row]
    Seq(FileEntry(partFile.toUri.toString, rows,
      KeyOrd.normKey(mn.toSeq), KeyOrd.normKey(mx.toSeq)))
  }

  /** Per-file stats via one small aggregate over freshly written parquet
    * (struct min/max = lexicographic composite-key min/max in Spark) —
    * shared by every parquet-writing backend. `schema` is the written
    * frame's, so the read-back infers nothing.
    */
  def fileStats(dir: String, keySpec: KeySpec, schema: StructType): Seq[FileEntry] = {
    val df = spark.read.schema(schema).parquet(dir)
    val kstruct = struct(keySpec.cols.map(col): _*)
    val rows = df.groupBy(input_file_name().as("path"))
      .agg(count(lit(1)).as("rows"), min(kstruct).as("mn"), max(kstruct).as("mx"))
      .collect()
    rows.map { r =>
      val mn = r.getStruct(2); val mx = r.getStruct(3)
      // normKey: under datetime.java8API the collected structs carry
      // Instant/LocalDate — canonicalize before they reach the JSON codec
      FileEntry(r.getString(0), r.getLong(1),
        KeyOrd.normKey(mn.toSeq), KeyOrd.normKey(mx.toSeq))
    }.sortBy(f => f.min)(KeyOrd)
  }

  /** every data file path currently stored for `id`, normalized */
  protected def listDataFiles(id: String): Seq[String]
  protected def deleteDataFile(path: String): Unit
  /** normalize a manifest-recorded path for set-compare with
    * [[listDataFiles]] (FS scans report `file:` URIs; the sweep walks
    * filesystem paths) */
  protected def normalizePath(p: String): String = p

  /** Last-modified wall time of a data file / filelist checkpoint, for
    * vacuum's grace window (an unreferenced-but-YOUNG object may belong to
    * an in-flight commit and must not be swept). `None` = the backend
    * cannot date the object; it is treated as old, i.e. sweepable — the
    * pre-grace behavior.
    */
  protected def dataFileModifiedMs(path: String): Option[Long] = None
  protected def fileListModifiedMs(rel: String): Option[Long] = None

  /** "Now" for vacuum's grace arithmetic. The default is driver wall
    * clock, which ASSUMES the clock writing the object stamps agrees with
    * the driver to well within `graceMs` — against a remote filesystem or
    * object store, skew larger than the grace window in the wrong
    * direction would silently void the in-flight-commit protection (and
    * over-retain garbage in the other). Backends whose stamps come from
    * their own clock should override this to derive 'now' from the SAME
    * clock — [[FsSnapshotStore]] stats a just-written probe object.
    */
  protected def sweepNowMs(): Long = System.currentTimeMillis()

  // ---- shared catalog logic ----

  final def exists(id: String): Boolean = readText(s"$id/LATEST").isDefined

  final def listIndexes(): Seq[String] =
    listNames("").filter(exists).sorted

  /** Create an empty index — reference `Storage.createIndex`
    * (`Storage.scala:20-29`). Fails with IndexAlreadyExists like the
    * reference's INDEX_ALREADY_EXISTS error.
    */
  final def createIndex(id: String, keyCols: Seq[String], valueCols: Seq[String],
                        maxNItems: Long = -1L,
                        colTypes: Seq[String] = Nil): Either[GraftError, SnapshotManifest] = {
    if (exists(id)) Left(GraftError.IndexAlreadyExists(id))
    else {
      val m = SnapshotManifest(id, 0L, UUID.randomUUID().toString, keyCols,
        valueCols, 0L, maxNItems, "", Nil, colTypes)
      commit(m, expectedParent = -1L)
      Right(m)
    }
  }

  final def loadLatest(id: String): Either[GraftError, SnapshotManifest] =
    loadLatestLazy(id).map(resolveFiles)

  final def loadVersion(id: String, version: Long): SnapshotManifest =
    resolveFiles(loadVersionLazy(id, version))

  /** Like [[loadLatest]]/[[loadVersion]] but a filelist-checkpoint ref is
    * KEPT unresolved: `files` stays empty and `filesRef` points at the
    * checkpoint, so the opener ([[graft.core.KVIndex]]) can prune it
    * Spark-side per operation instead of materializing millions of
    * entries on the driver at open. Small manifests (inline files) come
    * back identical to the eager load.
    */
  final def loadLatestLazy(id: String): Either[GraftError, SnapshotManifest] =
    readText(s"$id/LATEST") match {
      case None => Left(GraftError.IndexNotFound(id))
      case Some(v) => Right(loadVersionLazy(id, v.trim.stripPrefix("v").toLong))
    }

  final def loadVersionLazy(id: String, version: Long): SnapshotManifest =
    SnapshotManifest.fromJson(readText(s"$id/v$version.manifest.json")
      .getOrElse(throw new java.util.NoSuchElementException(s"$id@v$version")))

  /** Materialize a checkpointed file list (and clear the ref, so eager
    * manifests always carry inline files — see `filesRef`).
    */
  private def resolveFiles(m: SnapshotManifest): SnapshotManifest =
    m.filesRef match {
      case Some(ref) => m.copy(files = readFileList(ref), filesRef = None)
      case None => m
    }

  /** Full file list of `m`, resolving a checkpoint ref if present. */
  private[graft] final def resolveAllFiles(m: SnapshotManifest): Seq[FileEntry] =
    m.filesRef.fold(m.files)(readFileList)

  /** Only the entries of `m`'s file list satisfying `pred`, in manifest
    * (min-sorted) order. With a checkpoint ref the filter runs Spark-side
    * ([[readFileListWhere]]) and the driver materializes survivors only.
    */
  private[graft] final def resolveFilesWhere(m: SnapshotManifest,
                                            pred: FileEntry => Boolean): Seq[FileEntry] =
    m.filesRef.fold(m.files.filter(pred))(readFileListWhere(_, pred))

  /** First entry (manifest order; last when `fromEnd`) satisfying `pred` —
    * the successor/predecessor file seek without materializing the list.
    */
  private[graft] final def resolveFirstFile(m: SnapshotManifest, pred: FileEntry => Boolean,
                                           fromEnd: Boolean): Option[FileEntry] =
    m.filesRef match {
      case Some(ref) => readFileListFirst(ref, pred, fromEnd)
      case None => (if (fromEnd) m.files.reverse else m.files).find(pred)
    }

  /** Backend hook for [[resolveFilesWhere]]; default filters driver-side
    * (in-process backends already hold the list in memory / one blob).
    */
  protected def readFileListWhere(rel: String, pred: FileEntry => Boolean): Seq[FileEntry] =
    readFileList(rel).filter(pred)

  /** Backend hook for [[resolveFirstFile]]; same default stance. */
  protected def readFileListFirst(rel: String, pred: FileEntry => Boolean,
                                  fromEnd: Boolean): Option[FileEntry] = {
    val fs = readFileList(rel)
    (if (fromEnd) fs.reverse else fs).find(pred)
  }

  /** Atomic commit: create-new manifest for version parent+1 (fails if a
    * concurrent writer already committed that version — the CAS), then
    * repoint LATEST atomically. `expectedParent < 0` means "new lineage"
    * (createIndex/copy/merge/split); otherwise the manifest must be exactly
    * the parent's successor — the CREATE_NEW below enforces uniqueness, the
    * require catches caller bugs that would silently skip versions.
    *
    * `recordHistory = true` folds the temporal log append INTO the commit
    * protocol: the history line is written after the manifest CAS but
    * BEFORE LATEST is repointed, so no crash window can leave a committed
    * (LATEST-visible) version invisible to time travel. (The reference has
    * the reverse window — two separate saves, `TemporalIndex.scala:55-85`;
    * ours trades it for the benign one: a crash after the history append
    * may log a version whose LATEST swap was lost, which time travel can
    * still read consistently because its manifest and files are durable.)
    *
    * Replay is idempotent when recording history: if the manifest CAS
    * fails but the existing manifest carries the SAME `lastChangeVersion`
    * (this transaction already won it, then crashed mid-commit), the
    * interrupted commit is completed instead — history appended if (and
    * only if) missing, LATEST repointed. A different writer's version
    * still fails the CAS like before.
    */
  final def commit(m: SnapshotManifest, expectedParent: Long,
                   recordHistory: Boolean = false,
                   historyTs: Long = System.nanoTime(),
                   historyWallMs: Long = System.currentTimeMillis()): SnapshotManifest = {
    require(expectedParent < 0 || m.version == expectedParent + 1,
      s"commit: manifest version ${m.version} is not expectedParent ${expectedParent} + 1")
    try writeTextCreateNew(s"${m.id}/v${m.version}.manifest.json",
      serializeManifest(m))
    catch { case e: java.nio.file.FileAlreadyExistsException =>
      if (!recordHistory) throw e
      val existing = loadVersion(m.id, m.version)
      if (existing.lastChangeVersion != m.lastChangeVersion) throw e
      // same-tx replay after a crash between the CAS and the LATEST swap:
      // complete the interrupted commit (this path is rare, so the O(log)
      // dup check stays off the steady-state commit path)
      if (!historyLog(m.id).exists(_._2 == m.version)) {
        appendText(historyRel(m.id), historyLine(historyTs, m.version, historyWallMs))
        invalidateTemporal(m.id)
      }
      writeTextAtomic(s"${m.id}/LATEST", s"v${m.version}")
      return existing
    }
    if (recordHistory) {
      appendText(historyRel(m.id), historyLine(historyTs, m.version, historyWallMs))
      invalidateTemporal(m.id)
    }
    writeTextAtomic(s"${m.id}/LATEST", s"v${m.version}")
    m
  }

  /** Inline JSON below [[inlineFilesMax]] files; above it the file list
    * goes to a columnar checkpoint keyed by snapshotId (unique per commit
    * attempt, so a replay never collides) and the JSON carries only the
    * ref. A checkpoint orphaned by a crash between its write and the
    * manifest CAS is swept by vacuum.
    */
  private def serializeManifest(m: SnapshotManifest): String = {
    require(m.filesRef.isEmpty,
      s"commit of ${m.id}@v${m.version}: writer manifests must inline their " +
        "file list (a lazily-opened manifest's ref must not be re-committed)")
    if (m.files.size <= inlineFilesMax)
      SnapshotManifest.toJson(m.copy(disjointHint = None))
    else {
      val ref = s"${m.id}/filelist/${m.snapshotId}"
      writeFileList(ref, m.files)
      // record disjointness next to the ref: lazy opens route reads
      // without materializing the checkpoint
      SnapshotManifest.toJson(m.copy(files = Nil, filesRef = Some(ref),
        disjointHint = Some(m.filesDisjointOrdered)))
    }
  }

  /** Read one snapshot as a DataFrame. Files are immutable so this is a
    * consistent non-blocking read of that frozen version regardless of
    * concurrent writes — reference `readme.md:4`. A zero-file snapshot
    * reads as a typed EMPTY DataFrame (reference: empty reads return
    * empty results, not errors).
    */
  final def read(m: SnapshotManifest): DataFrame = {
    val fs = resolveAllFiles(m)
    if (fs.isEmpty) emptyTyped(m)
    else readFiles(fs.map(_.path), m)
  }

  private[graft] def emptyTyped(m: SnapshotManifest): DataFrame = {
    val schema = m.readSchema.getOrElse( // legacy manifest without types
      StructType((m.keyCols ++ m.valueCols :+ "version").map(StructField(_, StringType))))
    // a local relation, so the optimizer sees the emptiness and prunes
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  // ---- temporal log (reference TemporalIndex.scala) ----

  protected final def historyRel(id: String) = s"$id/history.jsonl"

  /** Cheap fingerprint of `id`'s current history log, used to validate
    * [[temporalCache]] entries. Must change whenever the log's content
    * changes — including changes made by OTHER processes sharing the store
    * (concurrent writers are a supported scenario via the commit CAS), which
    * is why validation happens per lookup instead of relying on same-process
    * invalidation. Default hashes the log content; backends override with
    * something cheaper (the FS store stats the file).
    */
  protected def historyFingerprint(id: String): Long =
    readText(historyRel(id)) match {
      case None => -1L
      case Some(s) => s.length.toLong * 1000003L + s.hashCode.toLong
    }

  /** memo for [[findIndexAt]] — the reference caches opened historical
    * indexes per (id, t) in a bounded Caffeine cache
    * (`TemporalIndex.scala:40-53`); here a TrieMap keyed the same way.
    * Each entry carries the [[historyFingerprint]] observed BEFORE the fill
    * read, and a lookup only serves entries whose fingerprint still matches
    * the log — so a record/vacuum from THIS or ANOTHER process is seen at
    * the next lookup (no stale-forever window, and no fill-vs-invalidate
    * race: validation, not eviction, is the correctness mechanism).
    * Bounded: at [[temporalCacheMax]] entries the cache is dropped
    * wholesale — entries are cheap to refill (one history + one manifest
    * read) and an LRU would buy little here.
    */
  private val temporalCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, Boolean), (Long, SnapshotManifest)] // (id, t, isWallClock)
  private val temporalCacheMax = 4096

  /** Best-effort same-process eviction (memory release); correctness never
    * depends on it — see [[temporalCache]].
    */
  private def invalidateTemporal(id: String): Unit =
    temporalCache.keys.filter(_._1 == id).foreach(temporalCache.remove)

  /** One history line. `wallMs` (epoch millis) rides ALONGSIDE the
    * monotonic stamp: the reference timeline is `System.nanoTime`
    * (`TemporalIndex.scala:22`) — opaque, not wall-clock — but SQL
    * `TIMESTAMP AS OF` needs a wall-clock floor lookup, so every new
    * entry is dual-stamped. Pre-upgrade lines without `ms` still parse
    * (wall-clock lookups refuse them with a typed error).
    */
  private def historyLine(ts: Long, version: Long, wallMs: Long): String =
    s"""{"ts":$ts,"version":$version,"ms":$wallMs}""" + "\n"

  /** T2: record (ts -> version) — reference `TemporalIndex.scala:21-27`
    * inserts `(System.nanoTime -> ctx.snapshot())` into the history index.
    */
  final def recordSnapshot(id: String, version: Long,
                           ts: Long = System.nanoTime(),
                           wallMs: Long = System.currentTimeMillis()): Long = {
    appendText(historyRel(id), historyLine(ts, version, wallMs))
    invalidateTemporal(id)
    ts
  }

  final def historyLog(id: String): Seq[(Long, Long)] =
    historyLogWall(id).map { case (ts, v, _) => (ts, v) }

  /** The full temporal log: (monotonic ts, version, wall-clock epoch ms).
    * `ms` is None for entries recorded before the dual-stamp upgrade.
    */
  final def historyLogWall(id: String): Seq[(Long, Long, Option[Long])] =
    readText(historyRel(id)).toSeq.flatMap(_.split("\n")).filter(_.nonEmpty).map { line =>
      val j = JsonMethods.parse(line)
      ((j \ "ts").asInstanceOf[JInt].num.toLong,
       (j \ "version").asInstanceOf[JInt].num.toLong,
       j \ "ms" match {
         case JInt(n) => Some(n.toLong)
         case _ => None
       })
    }

  /** T3: floor lookup — snapshot current AT time t = greatest ts <= t,
    * clamped to the earliest entry like the reference's binSearch position
    * clamp (`TemporalIndex.scala:31-38`).
    */
  final def findAt(id: String, t: Long): Option[Long] = {
    val log = historyLog(id)
    if (log.isEmpty) None
    else log.filter(_._1 <= t).lastOption.map(_._2).orElse(Some(log.head._2))
  }

  /** T4: open the historical snapshot — reference `TemporalIndex.scala:40-53`.
    * Memoized per (id, t): a repeated time-travel open of the same instant
    * costs one [[historyFingerprint]] (a file stat on the FS store) instead
    * of re-reading + parsing the history log and the manifest. The
    * fingerprint is taken BEFORE the fill read, so an entry filled while a
    * writer was racing is stored under the pre-write fingerprint and simply
    * re-validated away at the next lookup — never served stale.
    */
  final def findIndexAt(id: String, t: Long): Option[SnapshotManifest] =
    memoizedFind(id, t, wall = false, () => findAt(id, t))

  /** Wall-clock floor lookup (SQL `TIMESTAMP AS OF`): greatest entry whose
    * epoch-millis stamp is <= `ms`, clamped to the earliest entry — the
    * exact T3 [[findAt]] semantics on the wall-clock timeline. Typed
    * refusal when any entry predates the dual-stamp upgrade: a PARTIAL
    * wall-clock timeline would silently floor past undated history.
    */
  final def findAtWallClock(id: String, ms: Long): Option[Long] = {
    val log = historyLogWall(id)
    if (log.isEmpty) return None
    val undated = log.count(_._3.isEmpty)
    if (undated > 0) throw new UnsupportedOperationException(
      s"graft: wall-clock time travel needs a complete epoch-millis " +
        s"timeline, but $undated of ${log.size} history entries of '$id' " +
        "were recorded without one (pre-upgrade history — the monotonic " +
        "ts timeline is System.nanoTime, not wall-clock); use VERSION AS " +
        "OF / KVIndex.openAt, or re-record the history")
    val dated = log.map { case (_, v, m) => (m.get, v) }
    dated.filter(_._1 <= ms).lastOption.map(_._2).orElse(Some(dated.head._2))
  }

  /** Wall-clock twin of [[findIndexAt]], same fingerprint-validated memo. */
  final def findIndexAtWall(id: String, ms: Long): Option[SnapshotManifest] =
    memoizedFind(id, ms, wall = true, () => findAtWallClock(id, ms))

  private def memoizedFind(id: String, t: Long, wall: Boolean,
                           lookup: () => Option[Long]): Option[SnapshotManifest] = {
    val fp = historyFingerprint(id)
    temporalCache.get((id, t, wall)) match {
      case Some((f, m)) if f == fp => Some(m)
      case _ =>
        val r = lookup().map(v => loadVersion(id, v))
        r.foreach { m =>
          if (temporalCache.size >= temporalCacheMax) temporalCache.clear()
          temporalCache.update((id, t, wall), (fp, m))
        }
        r
    }
  }

  // ---- garbage collection ----

  private val ManifestRe = "v(\\d+)\\.manifest\\.json".r

  /** Drop an index: all control entries (manifests, LATEST, history),
    * its filelist checkpoints, and its data files — EXCEPT data files
    * still referenced by another index's manifests (zero-copy clones via
    * copyTo/merge/split keep shared files alive, the same mark phase as
    * [[vacuum]]). Concurrency contract matches vacuum: a maintenance
    * operation, not to be raced with writers/cloners of this index.
    * Returns false when the index does not exist.
    */
  final def dropIndex(id: String): Boolean = {
    if (!exists(id)) return false
    val referenced: Set[String] = (for {
      otherId <- listIndexes() if otherId != id
      mn <- listNames(otherId).collect { case n @ ManifestRe(_) => n }
      m = SnapshotManifest.fromJson(readText(s"$otherId/$mn").get)
      f <- m.filesRef.fold(m.files)(readFileList)
    } yield normalizePath(f.path)).toSet
    // control plane first so concurrent opens fail fast
    listNames(id).foreach(n => scala.util.Try(deleteControl(s"$id/$n")))
    listFileLists(id).foreach(sid => scala.util.Try(deleteFileList(s"$id/filelist/$sid")))
    listDataFiles(id).filterNot(p => referenced.contains(normalizePath(p)))
      .foreach(p => scala.util.Try(deleteDataFile(p)))
    invalidateTemporal(id)
    true
  }

  /** Garbage collection: keep the newest `retainVersions` snapshots of `id`,
    * drop older manifests + history entries, then delete every data file of
    * `id` that NO kept manifest references (mark-and-sweep over manifests —
    * the price of COW structural sharing; the reference never reclaims
    * blocks at all, `Storage.scala` has no delete).
    *
    * The mark phase walks the manifests of EVERY index under `root`, not
    * just the vacuumed one: `copyTo`/`merge`/`split` create manifests under
    * OTHER index ids that share this index's data files (zero-copy clones),
    * and vacuuming the original must never invalidate them — the
    * reference's "old roots stay valid forever" invariant (`readme.md:4`).
    *
    * Concurrency contract: vacuum is a maintenance operation — do not run
    * it concurrently with `copyTo`/`merge`/`split` of the SAME index's
    * files (a clone committed after the mark phase could reference a
    * just-swept file). Same-index writers are safe PROVIDED their
    * write-to-commit span is shorter than `graceMs`: an in-flight commit's
    * data files and filelist checkpoint exist before its manifest CAS, so
    * they look unreferenced to the mark phase — the grace window keeps the
    * sweep's hands off anything younger than `graceMs` (objects a backend
    * cannot date are treated as old). `graceMs = 0` restores the exact
    * deterministic sweep (single-writer maintenance windows, tests).
    *
    * `dryRun = true` (SQL: `VACUUM … DRY RUN`, the Delta idiom) runs the
    * SAME planning — cutoff, mark over the surviving manifests, grace
    * filter — but touches NOTHING: no manifest drop, no history rewrite,
    * no deletes, no cache invalidation. The returned counts are exactly
    * what an immediately-following destructive run would remove (given no
    * intervening writes; the mark excludes the would-be-dropped manifests
    * the destructive path deletes before marking).
    *
    * Returns (#manifests removed, #files deleted) — would-be counts under
    * `dryRun`.
    */
  final def vacuum(id: String, retainVersions: Int = 2,
                   graceMs: Long = SnapshotStore.DefaultVacuumGraceMs,
                   dryRun: Boolean = false): (Int, Int) = {
    require(retainVersions >= 1)
    val sweepStartMs = sweepNowMs()
    def aged(modified: Option[Long]): Boolean =
      graceMs <= 0 || !modified.exists(sweepStartMs - _ < graceMs)
    val latest = loadLatest(id).fold(e => throw new IllegalStateException(e.message), identity)
    val cutoff = latest.version - retainVersions + 1
    val dropM = listNames(id).collect {
      case n @ ManifestRe(v) if v.toLong < cutoff => n
    }
    val dropSet = dropM.toSet
    // mark: files referenced by ANY surviving manifest of ANY index —
    // resolving filelist checkpoints, else a big manifest's data files
    // would all look unreferenced and be swept. The would-be-dropped
    // manifests of `id` are excluded here (rather than deleted first),
    // so the dry-run plan and the destructive sweep count identically.
    val kept = for {
      otherId <- listIndexes()
      mn <- listNames(otherId).collect { case n @ ManifestRe(_) => n }
      if otherId != id || !dropSet.contains(mn)
    } yield SnapshotManifest.fromJson(readText(s"$otherId/$mn").get)
    val referenced: Set[String] = (for {
      km <- kept
      f <- km.filesRef.fold(km.files)(readFileList)
    } yield normalizePath(f.path)).toSet
    // this index's filelist checkpoints no kept manifest points at
    // (dropped versions' checkpoints, plus AGED orphans of crashed commits
    // — young ones may be an in-flight commit's, written pre-CAS)
    val keptRefs = kept.flatMap(_.filesRef).toSet
    val dropLists = listFileLists(id)
      .map(sid => s"$id/filelist/$sid")
      .filterNot(keptRefs.contains)
      .filter(rel => aged(fileListModifiedMs(rel)))
    // this index's unreferenced, out-of-grace data files
    val dropData = listDataFiles(id).filterNot(referenced.contains)
      .filter(p => aged(dataFileModifiedMs(p)))
    if (dryRun) return (dropM.size, dropData.size)
    dropM.foreach(n => deleteControl(s"$id/$n"))
    invalidateTemporal(id)
    // prune history entries pointing at dropped versions (preserving
    // each kept entry's wall-clock stamp — or its absence — verbatim)
    if (readText(historyRel(id)).isDefined) {
      val keptH = historyLogWall(id).filter(_._2 >= cutoff)
      writeTextAtomic(historyRel(id),
        keptH.map { case (ts, v, ms) =>
          ms.fold(s"""{"ts":$ts,"version":$v}""")(m =>
            s"""{"ts":$ts,"version":$v,"ms":$m}""")
        }.mkString("", "\n", "\n"))
    }
    dropLists.foreach(deleteFileList)
    var deleted = 0
    dropData.foreach { p => deleteDataFile(p); deleted += 1 }
    (dropM.size, deleted)
  }
}

object SnapshotStore {
  /** default backend */
  def apply(root: String, spark: SparkSession): SnapshotStore =
    new FsSnapshotStore(root, spark)

  /** Default vacuum grace window: unreferenced objects younger than this
    * survive the sweep, protecting in-flight commits (whose data files and
    * filelist checkpoint legitimately precede their manifest CAS). Sized
    * for a generous multi-TB write; writers slower than this must not
    * overlap a vacuum.
    */
  val DefaultVacuumGraceMs: Long = 15L * 60L * 1000L
}

/** Filesystem/HadoopFS-backed store: manifests are JSON files, data files
  * are range-sorted parquet — parquet already handles the block layer IO4
  * that the reference hand-rolls with protobuf+LZ4
  * (`GrpcByteSerializer.scala:19-63`). The commit CAS is
  * CREATE_NEW of the versioned manifest (on HDFS/ABFS: rename-no-overwrite).
  */
class FsSnapshotStore(val root: String, val spark: SparkSession)
    extends SnapshotStore {

  private def p(rel: String): Path =
    if (rel.isEmpty) Paths.get(root) else Paths.get(root, rel.split("/").toSeq: _*)

  override protected def readText(rel: String): Option[String] = {
    val f = p(rel)
    if (Files.exists(f)) Some(Files.readString(f)) else None
  }

  /** One stat instead of a content read: every append grows the log and
    * every vacuum rewrite replaces the file, so (size, mtime) changes on
    * every mutation — including mutations by other processes on a shared
    * filesystem.
    */
  override protected def historyFingerprint(id: String): Long = {
    val f = p(historyRel(id))
    try {
      val a = Files.readAttributes(f,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      a.size() * 1000003L + a.lastModifiedTime().toMillis
    } catch { case _: java.io.IOException => -1L }
  }

  override protected def writeTextCreateNew(rel: String, s: String): Unit = {
    val f = p(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, s.getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  }

  override protected def writeTextAtomic(rel: String, s: String): Unit = {
    val f = p(rel)
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.${UUID.randomUUID()}")
    Files.writeString(tmp, s)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  override protected def appendText(rel: String, s: String): Unit = {
    val f = p(rel)
    Files.createDirectories(f.getParent)
    Files.writeString(f, s, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  override protected def listNames(relDir: String): Seq[String] = {
    val d = p(relDir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d) // close the stream — each leaks a directory fd
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
  }

  override protected def deleteControl(rel: String): Unit = Files.delete(p(rel))

  /** Filelist checkpoint as parquet (Delta-checkpoint pattern): one row per
    * file, composite min/max keys JSON-encoded per cell (type-exact via the
    * same encoding as inline manifests), a `seq` column pinning the sorted
    * order across partitions. ~3M rows read back in seconds where the JSON
    * monolith took a driver-bound parse.
    */
  override protected def writeFileList(rel: String, files: Seq[FileEntry]): Unit = {
    import spark.implicits._
    val rows = files.iterator.zipWithIndex.map { case (f, i) =>
      (i.toLong, f.path, f.rows,
        SnapshotManifest.keyToJson(f.min), SnapshotManifest.keyToJson(f.max))
    }.toSeq
    val nParts = math.max(1, rows.size / 1000000)
    spark.createDataset(rows).toDF(FsSnapshotStore.FileListSchema.fieldNames.toSeq: _*)
      .repartition(nParts)
      .write.mode("errorifexists").parquet(p(rel).toString)
  }

  /** A checkpoint read: its fixed schema is declared, never inferred. */
  private def fileListScan(rel: String): DataFrame =
    spark.read.schema(FsSnapshotStore.FileListSchema).parquet(p(rel).toString)

  override protected def readFileList(rel: String): Seq[FileEntry] =
    fileListScan(rel).orderBy("seq").collect().iterator.map { r =>
      FileEntry(r.getAs[String]("path"), r.getAs[Long]("rows"),
        SnapshotManifest.keyFromJson(r.getAs[String]("minJson")),
        SnapshotManifest.keyFromJson(r.getAs[String]("maxJson")))
    }.toSeq

  /** Spark-side checkpoint prune: the predicate ships INTO the checkpoint
    * scan, each task decodes and tests its rows, and the driver collects
    * ONLY survivors — a point get over a 3M-file snapshot materializes a
    * handful of entries instead of the whole list. The closure captures
    * just the predicate (key literals + the KeyOrd module), never the
    * store.
    */
  override protected def readFileListWhere(rel: String,
                                           pred: FileEntry => Boolean): Seq[FileEntry] = {
    import spark.implicits._
    val dec = FsSnapshotStore.decodeEntry
    val keep = pred
    fileListScan(rel).as[(Long, String, Long, String, String)]
      .filter(t => keep(dec(t)))
      .collect().sortBy(_._1).iterator.map(dec).toSeq
  }

  override protected def readFileListFirst(rel: String, pred: FileEntry => Boolean,
                                           fromEnd: Boolean): Option[FileEntry] = {
    import spark.implicits._
    val dec = FsSnapshotStore.decodeEntry
    val keep = pred
    val survivors = fileListScan(rel).as[(Long, String, Long, String, String)]
      .filter(t => keep(dec(t)))
    val row = survivors
      .orderBy(if (fromEnd) col("seq").desc else col("seq").asc)
      .limit(1).collect()
    row.headOption.map(dec)
  }

  override protected def deleteFileList(rel: String): Unit = {
    val dir = p(rel)
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }

  override protected def listFileLists(id: String): Seq[String] =
    listNames(s"$id/filelist")

  override def writeData(id: String, df: DataFrame, keySpec: KeySpec,
                         targetPartitions: Int = 0): (String, Seq[FileEntry]) = {
    val snapshotId = UUID.randomUUID().toString
    val dir = p(id).resolve("data").resolve(snapshotId)
    val nParts =
      if (targetPartitions > 0) targetPartitions
      else math.max(1, df.sparkSession.sparkContext.defaultParallelism / 4)
    (snapshotId, writeParquetWithStats(dir.toString, df, keySpec, nParts))
  }

  override def readFiles(paths: Seq[String], m: SnapshotManifest): DataFrame =
    readParquet(paths, m)

  override protected def listDataFiles(id: String): Seq[String] = {
    val dataDir = p(id).resolve("data")
    if (!Files.exists(dataDir)) Nil
    else Files.walk(dataDir).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
  }

  override protected def deleteDataFile(path: String): Unit =
    Files.delete(Paths.get(path))

  override protected def normalizePath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  override protected def dataFileModifiedMs(path: String): Option[Long] =
    try Some(Files.getLastModifiedTime(Paths.get(path)).toMillis)
    catch { case _: java.io.IOException => None }

  override protected def fileListModifiedMs(rel: String): Option[Long] =
    try Some(Files.getLastModifiedTime(p(rel)).toMillis)
    catch { case _: java.io.IOException => None }

  /** Grace-window 'now' from the FILESYSTEM's clock, not the driver's: the
    * object stamps vacuum compares against are backend mtimes, so 'now' is
    * the mtime of a just-written probe object — skew between driver and a
    * remote filesystem cancels out of the subtraction. Falls back to wall
    * clock if the probe cannot be written.
    */
  override protected def sweepNowMs(): Long = {
    val f = p(s".vacuum-probe-${java.util.UUID.randomUUID()}")
    try {
      Files.createDirectories(f.getParent)
      Files.write(f, Array.emptyByteArray)
      Files.getLastModifiedTime(f).toMillis
    } catch { case _: java.io.IOException => System.currentTimeMillis() }
    finally { try Files.deleteIfExists(f) catch { case _: java.io.IOException => () } }
  }
}

object FsSnapshotStore {
  /** The filelist checkpoint table: one row per file in manifest order. */
  private[core] val FileListSchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("path", StringType),
    StructField("rows", LongType), StructField("minJson", StringType),
    StructField("maxJson", StringType)))

  /** Checkpoint-row decoder as a standalone serializable function — shipped
    * inside executor-side prune closures, so it must not capture a store.
    */
  private[core] val decodeEntry: ((Long, String, Long, String, String)) => FileEntry =
    t => FileEntry(t._2, t._3,
      SnapshotManifest.keyFromJson(t._4), SnapshotManifest.keyFromJson(t._5))
}

/** In-memory store — the reference's `MemoryStorage` analogue
  * (`MemoryStorage.scala:10-106`): control files in a TrieMap, data
  * "files" as views over a Spark-cached RDD pinned at write time (content
  * frozen — later transformations can't change what a committed snapshot
  * reads, same immutability contract as parquet files). Test/dev-scale by
  * design, exactly like the reference's: data must fit the cluster's
  * block-manager storage, there is no durability. Proves the storage
  * abstraction and removes disk+parquet-codec cost from test suites.
  */
final class MemorySnapshotStore(val spark: SparkSession,
                                val root: String = "mem") extends SnapshotStore {
  import scala.collection.concurrent.TrieMap

  private val control = TrieMap.empty[String, String]
  private val dataFiles = TrieMap.empty[String, DataFrame]
  private val snapshotRdds = TrieMap.empty[String, RDD[Row]]
  private val fileLists = TrieMap.empty[String, Seq[FileEntry]]
  // creation stamps for vacuum's grace window (keys: data paths + rels)
  private val createdMs = TrieMap.empty[String, Long]

  override protected def writeFileList(rel: String, files: Seq[FileEntry]): Unit = {
    fileLists(rel) = files
    createdMs(rel) = System.currentTimeMillis()
  }
  override protected def readFileList(rel: String): Seq[FileEntry] =
    fileLists.getOrElse(rel,
      throw new java.util.NoSuchElementException(s"no such filelist: $rel"))
  override protected def deleteFileList(rel: String): Unit = {
    fileLists.remove(rel); createdMs.remove(rel)
  }
  override protected def listFileLists(id: String): Seq[String] = {
    val prefix = s"$id/filelist/"
    fileLists.keys.filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).toSeq
  }

  override protected def readText(rel: String): Option[String] = control.get(rel)

  override protected def writeTextCreateNew(rel: String, s: String): Unit =
    if (control.putIfAbsent(rel, s).isDefined)
      throw new java.nio.file.FileAlreadyExistsException(rel)

  override protected def writeTextAtomic(rel: String, s: String): Unit =
    control(rel) = s

  override protected def appendText(rel: String, s: String): Unit =
    control.synchronized { control(rel) = control.getOrElse(rel, "") + s }

  override protected def listNames(relDir: String): Seq[String] = {
    val prefix = if (relDir.isEmpty) "" else relDir + "/"
    (control.keys ++ dataFiles.keys.map(_.stripPrefix(s"$root/")))
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).takeWhile(_ != '/'))
      .toSeq.distinct
  }

  override protected def deleteControl(rel: String): Unit = control.remove(rel)

  override def writeData(id: String, df: DataFrame, keySpec: KeySpec,
                         targetPartitions: Int = 0): (String, Seq[FileEntry]) = {
    val snapshotId = UUID.randomUUID().toString
    val dirKey = s"$root/$id/data/$snapshotId"
    val keyCols = keySpec.cols.map(col)
    val nParts =
      if (targetPartitions > 0) targetPartitions
      else math.max(1, df.sparkSession.sparkContext.defaultParallelism / 4)
    // pin computed rows (incl. the partition stamp) into an RDD so the
    // "files" are frozen content with a leaf plan, like closed parquet files
    val part = df.repartitionByRange(nParts, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .withColumn("__file", spark_partition_id())
    val rdd = part.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // nullable throughout, as a parquet file reads
    val pinned = spark.createDataFrame(rdd,
      SnapshotManifest.nullable(part.schema).asInstanceOf[StructType])
    val kstruct = struct(keyCols: _*)
    val stats = pinned.groupBy(col("__file"))
      .agg(count(lit(1)).as("rows"), min(kstruct).as("mn"), max(kstruct).as("mx"))
      .collect()
    snapshotRdds(dirKey) = rdd
    val entries = stats.map { r =>
      val fileNo = r.getInt(0)
      val path = s"$dirKey/part-$fileNo"
      dataFiles(path) = pinned.filter(col("__file") === fileNo).drop("__file")
      createdMs(path) = System.currentTimeMillis()
      FileEntry(path, r.getLong(1), KeyOrd.normKey(r.getStruct(2).toSeq),
        KeyOrd.normKey(r.getStruct(3).toSeq))
    }.toSeq.sortBy(_.min)(KeyOrd)
    (snapshotId, entries)
  }

  override def readFiles(paths: Seq[String], m: SnapshotManifest): DataFrame = {
    val cols = (m.keyCols ++ m.valueCols :+ "version").map(col)
    paths.map(pt => dataFiles.getOrElse(pt,
        throw new java.util.NoSuchElementException(s"no such data file: $pt")))
      .reduce(_ unionByName _).select(cols: _*)
  }

  override protected def listDataFiles(id: String): Seq[String] =
    dataFiles.keys.filter(_.startsWith(s"$root/$id/data/")).toSeq

  override protected def deleteDataFile(path: String): Unit = {
    dataFiles.remove(path)
    createdMs.remove(path)
    val dirKey = path.substring(0, path.lastIndexOf('/'))
    if (!dataFiles.keys.exists(_.startsWith(dirKey + "/")))
      snapshotRdds.remove(dirKey).foreach(_.unpersist(blocking = false))
  }

  override protected def dataFileModifiedMs(path: String): Option[Long] =
    createdMs.get(path)

  override protected def fileListModifiedMs(rel: String): Option[Long] =
    createdMs.get(rel)
}
