package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.sources.GraftTable

/** A snapshot's schema comes from its manifest (`colTypes` plus the string
  * `version` stamp): file reads declare it instead of inferring it from
  * parquet footers, writes cast to it, and the catalog reports it. Only a
  * legacy manifest without `colTypes` infers.
  */
abstract class ManifestSchemaSpecBase extends SparkSuite {
  import spark.implicits._

  def newStore(): SnapshotStore

  /** Spark jobs started while `f` runs (the listener bus is async, so
    * earlier jobs drain first and late events get time to arrive).
    */
  private def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Thread.sleep(500)
    spark.sparkContext.addSparkListener(listener)
    try { val a = f; Thread.sleep(500); (a, jobs.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withAnsi[A](f: => A): A = {
    val conf = spark.conf
    val before = conf.getOption("spark.sql.ansi.enabled")
    conf.set("spark.sql.ansi.enabled", "true")
    try f
    finally before.fold(conf.unset("spark.sql.ansi.enabled"))(conf.set("spark.sql.ansi.enabled", _))
  }

  /** The type file `f` holds for column `c`, as a read that infers it from
    * the file sees it (on the memory backend, the frozen frame's type).
    */
  private def fileType(store: SnapshotStore, m: SnapshotManifest, f: FileEntry,
                       c: String): DataType =
    store.readFiles(Seq(f.path), m.copy(colTypes = Nil)).schema(c).dataType

  private def newFiles(before: SnapshotManifest, after: SnapshotManifest): Seq[FileEntry] =
    after.files.filterNot(f => before.files.exists(_.path == f.path))

  private def kv(n: Int): DataFrame =
    spark.range(0, n).select(format_string("k%03d", col("id") * 2).as("k"),
      col("id").cast("int").as("v"))

  test("writes cast to the manifest's column types") {
    val store = newStore()
    // an index with files and an INT value column; BIGINT batches land
    // inside a file and beyond every file
    val ix = KVIndex.bootstrap(store, "narrow", kv(40), Seq("k"), maxRowsPerFile = 10)
      .fold(e => fail(e.message), identity)
    assert(ix.manifest.colTypes == Seq("STRING", "INT"))
    val inRange = Seq(("k013", 13L)).toDF("k", "v")
    val r1 = ix.execute(Seq(Command.Insert(inRange)))
    assert(r1.success, r1.error)
    val m1 = r1.snapshot.get
    val beyond = Seq(("zz", 99L)).toDF("k", "v")
    val r2 = new KVIndex(store, m1).execute(Seq(Command.Insert(beyond)))
    assert(r2.success, r2.error)
    val m2 = r2.snapshot.get
    for ((before, after) <- Seq(ix.manifest -> m1, m1 -> m2)) {
      val written = newFiles(before, after)
      assert(written.nonEmpty)
      written.foreach(f => assert(fileType(store, after, f, "v") == IntegerType, f.path))
    }
    val back = KVIndex.open(store, "narrow").toOption.get.df
    assert(back.schema("v").dataType == IntegerType)
    assert(back.filter(col("k").isin("k013", "zz")).select("k", "v").as[(String, Int)]
      .collect().toSet == Set(("k013", 13), ("zz", 99)))

    // an empty index created with a BIGINT column, the way CREATE TABLE
    // records it; its first insert is INT-typed
    val created = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    store.createIndex("wide", Seq("k"), Seq("v"),
      colTypes = created.fields.map(_.dataType.sql).toSeq)
      .fold(e => fail(e.message), identity)
    val empty = KVIndex.open(store, "wide").toOption.get
    val r3 = empty.execute(Seq(Command.Insert(Seq(("a", 1), ("b", 2)).toDF("k", "v"))))
    assert(r3.success, r3.error)
    val m3 = r3.snapshot.get
    assert(m3.files.nonEmpty)
    m3.files.foreach(f => assert(fileType(store, m3, f, "v") == LongType, f.path))
    val wide = KVIndex.open(store, "wide").toOption.get.df
    assert(wide.schema("v").dataType == LongType)
    assert(wide.select("k", "v").as[(String, Long)].collect().toSet == Set(("a", 1L), ("b", 2L)))

    // a caller's own version column is stored as the string stamp
    val own = KVIndex.bootstrap(store, "stamped", kv(4).withColumn("version", lit(7)), Seq("k"))
      .fold(e => fail(e.message), identity)
    own.manifest.files.foreach(f => assert(fileType(store, own.manifest, f, "version") == StringType))
    assert(KVIndex.open(store, "stamped").toOption.get.df.select("version").as[String]
      .collect().toSeq == Seq.fill(4)("7"))
  }

  test("under ANSI mode an out-of-range narrowing fails the batch") {
    val store = newStore()
    val ix = KVIndex.bootstrap(store, "ansi", kv(20), Seq("k"))
      .fold(e => fail(e.message), identity)
    val huge = Seq(("k004", 3000000000L)).toDF("k", "v")
    withAnsi {
      val e = intercept[Exception](ix.execute(Seq(Command.Insert(huge, upsert = true))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("CAST_OVERFLOW")), e)
    }
    val now = KVIndex.open(store, "ansi").toOption.get
    assert(now.manifest.version == ix.manifest.version)
    assert(now.get(Seq("k004")).select("v").as[Int].collect().toSeq == Seq(2))
  }

  test("one schema everywhere: file reads, empty reads and the catalog") {
    val store = newStore()
    val rows = spark.range(0, 40).select(
      format_string("k%03d", col("id")).as("k"),
      col("id").cast("int").as("i"),
      (col("id") * 1000000007L).as("l"),
      (col("id") / 4).as("d"),
      (col("id") / 8).cast("decimal(10,2)").as("dec"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      (col("id") % 2 === 0).as("b"),
      col("id").cast("string").cast("binary").as("bin"),
      array(col("id").cast("int"), (col("id") + 1).cast("int")).as("arr"),
      struct(col("id").cast("short").as("x"), lit("y").as("y")).as("st"))
    val ix = KVIndex.bootstrap(store, "typed", rows, Seq("k"), maxRowsPerFile = 10)
      .fold(e => fail(e.message), identity)
    val up = rows.filter(col("k") === "k007").withColumn("i", lit(-7))
    val m = ix.execute(Seq(Command.Insert(up, upsert = true))).snapshot.get
    val schema = m.readSchema.getOrElse(fail("typed manifest without a read schema"))
    assert(schema.fieldNames.toSeq == rows.columns.toSeq :+ "version")
    val read = store.readFiles(m.files.map(_.path), m)
    assert(read.schema == schema)
    assert(store.emptyTyped(m).schema == schema)
    assert(new GraftTable(store, m).schema() == schema)
    assert(KVIndex.open(store, "typed").toOption.get.df.schema == schema)

    // the same files under a manifest without column types: inferred, same rows
    store.commit(m.copy(id = "legacy", version = 0L,
      snapshotId = UUID.randomUUID().toString, colTypes = Nil), -1L)
    val legacy = KVIndex.open(store, "legacy").toOption.get
    assert(legacy.manifest.readSchema.isEmpty)
    def sorted(df: DataFrame): Seq[Row] = df.orderBy("k").collect().toSeq
    val typedRows = sorted(read)
    assert(typedRows.size == 40)
    assert(typedRows.find(_.getString(0) == "k007").get.getInt(1) == -7)
    assert(sorted(legacy.df) == typedRows)
    assert(sorted(legacy.get(Seq("k011"))) == typedRows.filter(_.getString(0) == "k011"))
  }

  test("library reads spend no Spark job on the schema") {
    val store = newStore()
    KVIndex.bootstrap(store, "jobs", kv(400), Seq("k"), maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)
    val m = KVIndex.open(store, "jobs").toOption.get.manifest
    assert(m.files.size >= 4)
    val (built, buildJobs) = jobsOf(store.readFiles(m.files.map(_.path), m))
    assert(buildJobs == 0)
    assert(built.schema == m.readSchema.get)
    val reader = new KVIndex(store, m)
    val (got, getJobs) = jobsOf(reader.get(Seq("k100")).collect())
    assert(got.map(_.getInt(1)).toSeq == Seq(50))
    val (ranged, rangeJobs) = jobsOf(reader.range(Seq("k100"), Seq("k110"), true, true).collect())
    assert(ranged.length == 6)
    val (next, nextJobs) = jobsOf(reader.nextKey(Seq("k100")).collect())
    assert(next.map(_.getString(0)).toSeq == Seq("k102"))
    assert((getJobs, rangeJobs, nextJobs) == (1, 1, 1),
      s"jobs: get $getJobs, range $rangeJobs, nextKey $nextJobs")
  }
}

class FsManifestSchemaSpec extends ManifestSchemaSpecBase {
  override def newStore(): SnapshotStore = new FsSnapshotStore(tmpDir("graft-mschema"), spark)
}

class MemoryManifestSchemaSpec extends ManifestSchemaSpecBase {
  override def newStore(): SnapshotStore = new MemorySnapshotStore(spark)
}

class JdbcManifestSchemaSpec extends ManifestSchemaSpecBase {
  override def newStore(): SnapshotStore = JdbcSnapshotStore.inMemory(spark)
}
