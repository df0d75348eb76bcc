package graft.core

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences, BoundReference, InterpretedOrdering, Predicate, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Union}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType

/** The driver-local read tier: a small read decodes its covering parquet
  * files on the driver and answers with a `LocalRelation` DataFrame, so
  * `collect()` runs no Spark job. At this scale a library read costs one
  * job's fixed latency, not its data; the reference answers `get` with one
  * root-to-leaf search (`Index.scala:813-818`, `Leaf.scala:207-234`).
  *
  * The decode is Spark's own parquet reader function
  * (`ParquetFileFormat.buildReaderWithPartitionValues`) built with the
  * session's confs (vectorized or row reader, rebase modes, nanosAsLong)
  * and the manifest's [[SnapshotManifest.readSchema]]. The read's row
  * predicate runs DURING the decode, interpreted (key literals change on
  * every call, so a generated predicate would compile a class per call),
  * and only matching rows are copied. Rows come out in the given file
  * order and each file's own order, which on the disjoint layout is key
  * order; a reverse read reverses both.
  *
  * The answer is a bare `LocalRelation`: a library caller's filter,
  * projection and limit fold into it (`ConvertToLocalRelation`), but a
  * sort, repartition or aggregate above it still runs jobs, so ordered
  * answers arrive already ordered and counts are summed here. Catalog SQL
  * goes further: a statement whose only leaf is such a read folds whole on
  * the driver, group-less aggregates included, and runs no job at all
  * (`graft.sources.LocalFold`); its ordered and top-k rewrites read in
  * key order or reversed, so no sort remains.
  *
  * A read takes the tier only when its covering files' manifest rows times
  * the schema's default row size fit under [[BudgetBytes]], the snapshot
  * has a typed manifest, and the store can hand the files to the driver as
  * local parquet ([[SnapshotStore.localParquet]]: the filesystem and JDBC
  * stores; the memory store's frames cost a job to read anyway).
  *
  * The same budget is the one driver bound of the library: every "is this
  * input small enough to hold on the driver?" decision goes through
  * [[collectBelow]]/[[collectLocal]] or [[localInput]] — the driver folds
  * of `WordPiece.train`, `Unigram.train` and `Dedup.clusters`, the churn
  * keys of `Scd2.refresh`, the band probes of
  * `EventStreams.streamNearDupIngest`, a commit's batch in
  * `KVIndex.execute` (its validation tags, which also prune its files
  * exactly, and its written rows), the commit's touched-file read (this
  * tier), and `SnapshotStore.writeData`, which writes a local input on the
  * driver.
  */
private[graft] object LocalScan {
  /** Largest input the driver holds, in estimated bytes: rows ×
    * `schema.defaultSize`, manifest rows for a covering read and collected
    * rows for [[collectBelow]]. Set from the measured crossover between a
    * driver decode and one Spark job over the same files (CHANGES.md has
    * the table).
    */
  val BudgetBytes: Long = 4L << 20

  private val budget = new scala.util.DynamicVariable[Long](BudgetBytes)

  /** Run `f` with the budget at `bytes` (0 = always Spark, `Long.MaxValue`
    * = always the driver): the seam specs compare both sides by. A thread
    * started inside `f` (a streaming query) inherits it.
    */
  private[graft] def withBudget[A](bytes: Long)(f: => A): A = budget.withValue(bytes)(f)

  /** Rows of `schema` the budget admits. */
  private def rowBound(schema: StructType): Int =
    math.min(budget.value / math.max(1, schema.defaultSize), Int.MaxValue - 1L).toInt

  /** `df`'s rows as one local relation when its optimized plan is one, or
    * a union of them (a batch of in-memory commands: Spark folds each
    * child's projection but not the union) — the rows are already on the
    * driver, so no job runs. Only a plan whose leaves are all local
    * relations is optimized here.
    */
  def local(df: DataFrame): Option[LocalRelation] =
    if (!df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(l)
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        Some(LocalRelation(u.output, u.children.flatMap(_.asInstanceOf[LocalRelation].data)))
      case _ => None
    }

  /** All rows of `df` as a local relation when at most
    * `budget / df.schema.defaultSize` of them exist, else None: a
    * [[local]] input as it is (no job), anything else through one bounded
    * `limit(n + 1).collect()`, so the driver never holds more than one row
    * past the bound.
    */
  def collectLocal(df: DataFrame): Option[LocalRelation] = {
    val n = rowBound(df.schema)
    if (n <= 0) None
    else local(df) match {
      case Some(l) => Some(l).filter(_.data.size <= n)
      case None =>
        val rows = df.limit(n + 1).collect()
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
        if (rows.length > n) None
        else Some(LocalRelation(DataTypeUtils.toAttributes(df.schema),
          rows.map(toCatalyst(_).asInstanceOf[InternalRow]).toSeq))
    }
  }

  /** [[collectLocal]] as rows. */
  def collectBelow(df: DataFrame): Option[Array[Row]] =
    collectLocal(df).map(l => Shim.ofRows(df.sparkSession, l).collect())

  /** `df` as a [[local]] relation whose rows × `schema.defaultSize` fit
    * the budget: an input `SnapshotStore.writeData` writes on the driver.
    */
  def localInput(df: DataFrame): Option[LocalRelation] = {
    val n = rowBound(df.schema)
    if (n <= 0) None else local(df).filter(_.data.size <= n)
  }

  /** The tier over `fs` (in manifest order) of `m`, when it serves them. */
  def apply(store: SnapshotStore, m: SnapshotManifest, fs: Seq[FileEntry]): Option[LocalScan] =
    for {
      schema <- m.readSchema
      if fs.iterator.map(_.rows).sum <= budget.value / schema.defaultSize
      paths <- store.localParquet(fs.map(_.path))
    } yield new LocalScan(store.spark, schema, paths)
}

private[graft] final class LocalScan(spark: SparkSession, schema: StructType,
                                     paths: Seq[String]) {
  private val attrs = DataTypeUtils.toAttributes(schema)

  def numFiles: Int = paths.size

  private def frame(rows: Seq[InternalRow]): DataFrame =
    Shim.ofRows(spark, LocalRelation(attrs, rows))

  /** `c` resolved against the snapshot schema (with the analyzer's
    * coercions) as an interpreted row test.
    */
  private def test(c: Column): InternalRow => Boolean = {
    val cond = Shim.ofRows(spark, LocalRelation(attrs)).filter(c).queryExecution.analyzed match {
      case Filter(e, _) => e
      case other => sys.error(s"LocalScan: unexpected analyzed predicate $other")
    }
    val p = Predicate.createInterpreted(BindReferences.bindReference(cond, attrs))
    p.initialize(0)
    p.eval
  }

  private lazy val hconf = spark.sessionState.newHadoopConf()

  /** Spark's parquet reader function, built once per read. */
  private lazy val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
    new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hconf)

  /** Feed the rows of `files`, in order, to `visit` until it returns
    * false. Rows are the reader's reused buffers: `visit` copies what it
    * keeps.
    */
  private def decode(files: Seq[String])(visit: InternalRow => Boolean): Unit = {
    var go = true
    val it = files.iterator
    while (go && it.hasNext) {
      val path = new Path(it.next())
      val len = path.getFileSystem(hconf).getFileStatus(path).getLen
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(path),
        0L, len, Array.empty[String], 0L, len, Map.empty))
      rows match {
        case c: java.io.Closeable => // the vectorized reader: close on early stop
          try while (go && rows.hasNext) go = visit(rows.next()) finally c.close()
        case _ => // the row reader closes its file once drained
          while (go && rows.hasNext) go = visit(rows.next())
          while (rows.hasNext) rows.next()
      }
    }
  }

  /** Rows passing `pred`, at most `limit`, in file order — or, `reverse`,
    * in reversed file order with each file's rows reversed.
    */
  def where(pred: Column, limit: Int = Int.MaxValue, reverse: Boolean = false): DataFrame =
    Shim.ofRows(spark, relation(pred, limit, reverse))

  /** [[where]] as a bare `LocalRelation` over the snapshot schema. */
  def relation(pred: Column, limit: Int = Int.MaxValue,
               reverse: Boolean = false): LocalRelation = {
    val keep = test(pred)
    val toUnsafe = UnsafeProjection.create(schema)
    val out = ArrayBuffer.empty[InternalRow]
    if (!reverse) decode(paths) { r =>
      if (keep(r)) out += toUnsafe(r).copy()
      out.size < limit
    }
    else paths.reverseIterator.takeWhile(_ => out.size < limit).foreach { p =>
      // a file decodes forward: keep only its last `want` matches
      val want = limit - out.size
      val last = mutable.ArrayDeque.empty[InternalRow]
      decode(Seq(p)) { r =>
        if (keep(r)) {
          if (last.size == want) last.removeHead()
          last += toUnsafe(r).copy()
        }
        true
      }
      out ++= last.reverseIterator
    }
    LocalRelation(attrs, out.toSeq)
  }

  /** Number of rows passing `pred`. */
  def count(pred: Column): Long = {
    val keep = test(pred)
    var n = 0L
    decode(paths) { r => if (keep(r)) n += 1; true }
    n
  }

  /** Multi-get: rows whose `keyCols` (the key or a leading prefix of it)
    * equal one of `keys`, by membership of that projection in a hash set
    * of the batch (nulls never match, as in the semi-join of the Spark
    * path). With `mustFindAll`, the missing batch keys are counted and the
    * first five in key order listed.
    */
  def getAll(keyCols: Seq[String], keys: Seq[Seq[Any]], mustFindAll: Boolean): GetResult = {
    val keyIdx = keyCols.map(schema.fieldIndex)
    val keySchema = StructType(keyIdx.map(schema(_)))
    def keyRef(ordinal: Int, i: Int) = BoundReference(ordinal, schema(i).dataType, nullable = true)
    // one key layout for both sides, NaN and -0.0 folded as a join's keys are
    def keyOf(ordinals: Seq[Int]) = UnsafeProjection.create(
      ordinals.zip(keyIdx).map { case (o, i) => Shim.normalizeFloats(keyRef(o, i)) })
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(keySchema)
    val batch = keys.map(k => toCatalyst(Row.fromSeq(k)).asInstanceOf[InternalRow])
    val batchKey = keyOf(keyIdx.indices)
    val normalized = batch.map(batchKey(_).copy())
    val wanted = new java.util.HashSet[UnsafeRow]()
    normalized.foreach(k => if (!k.anyNull) wanted.add(k))
    val rowKey = keyOf(keyIdx)
    val toUnsafe = UnsafeProjection.create(schema)
    val out = ArrayBuffer.empty[InternalRow]
    val found = new java.util.HashSet[UnsafeRow]()
    decode(paths) { r =>
      val k = rowKey(r)
      if (wanted.contains(k)) { out += toUnsafe(r).copy(); found.add(k.copy()) }
      true
    }
    if (!mustFindAll) return GetResult(frame(out.toSeq), -1L, success = true, None)
    val missing = batch.zip(normalized).collect { case (k, n) if !found.contains(n) => k }
    if (missing.isEmpty) GetResult(frame(out.toSeq), 0L, success = true, None)
    else {
      val ord = new InterpretedOrdering(keyIdx.indices.zip(keyIdx).map { case (o, i) =>
        SortOrder(keyRef(o, i), Ascending) })
      val toScala = CatalystTypeConverters.createToScalaConverter(keySchema)
      val first5 = missing.sorted(ord).take(5)
        .map(k => toScala(k).asInstanceOf[Row].mkString("/"))
      GetResult(frame(out.toSeq), missing.size.toLong, success = false,
        Some(GraftError.KeyNotFound(first5)))
    }
  }
}
