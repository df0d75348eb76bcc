package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

/** A commit below the driver bound folds and writes its batch on the
  * driver (`BatchFold.OnDriver`, `SnapshotStore.writeParquetWithStats`).
  * Every case executes the same batch on two identical indexes, at
  * `LocalScan.withBudget(0)` (the Spark fold and write) and at
  * `withBudget(Long.MaxValue)` (the driver), and expects the same
  * `success`, `error` and `commandRowCounts`, the same snapshot rows
  * (`version` included), and files that are disjoint, sorted and whose
  * manifest rows, min and max equal a parquet read-back (`fileStats`).
  * Batches touch every file inside their key hull, so the hull pruning of
  * budget 0 and the exact pruning of the driver touch the same files and
  * report the same touched-range counts.
  */
class LocalCommitSpec extends SparkSuite {
  import spark.implicits._

  private val SparkTier = 0L
  private val DriverTier = Long.MaxValue

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

  private val ids = new AtomicInteger

  /** Every file of `m` is disjoint from and after its predecessor, and
    * its manifest entry equals what a read-back of the written parquet
    * computes.
    */
  private def checkFiles(store: SnapshotStore, m: SnapshotManifest): Unit = {
    assert(SnapshotManifest.disjointOrdered(m.files), m.files)
    def local(p: String) = new java.net.URI(p).getPath
    m.files.groupBy(f => local(f.path).substring(0, local(f.path).lastIndexOf('/'))).foreach {
      case (dir, entries) =>
        val back = store.fileStats(dir, m.keySpec, m.readSchema.get)
          .map(f => local(f.path) -> f).toMap
        entries.foreach { e =>
          val b = back(local(e.path))
          assert(b.rows == e.rows && KeyOrd.compare(b.min, e.min) == 0 &&
            KeyOrd.compare(b.max, e.max) == 0, s"manifest $e, read back $b")
        }
    }
  }

  /** `cmds` executed at `budget` on a fresh index from `boot`, reopened
    * with `maxRowsPerFile`: the result, the snapshot's rows afterwards and
    * the Spark jobs the call ran.
    */
  private def commit(store: SnapshotStore, boot: String => KVIndex, cmds: () => Seq[Command],
                     budget: Long, maxRowsPerFile: Long): (BatchResult, Seq[String], Int) = {
    val id = s"lc${ids.incrementAndGet()}"
    val ix = new KVIndex(store, boot(id).manifest, maxRowsPerFile)
    val batch = cmds()
    val (res, jobs) = jobsOf(LocalScan.withBudget(budget)(ix.execute(batch, txVersion = "tx1")))
    res.snapshot.foreach(checkFiles(store, _))
    val rows = KVIndex.open(store, id).toOption.get.df.collect().map(_.mkString("|")).sorted.toSeq
    (res, rows, jobs)
  }

  /** [[commit]] at both budgets, compared; returns the driver's side. */
  private def bothTiers(boot: (SnapshotStore, String) => KVIndex, cmds: () => Seq[Command],
                        maxRowsPerFile: Long = 1L << 19,
                        driverWrites: Boolean = true): (BatchResult, Seq[String], Int) = {
    val store = new FsSnapshotStore(tmpDir("graft-localcommit"), spark)
    val (s, sRows, sJobs) = commit(store, boot(store, _), cmds, SparkTier, maxRowsPerFile)
    val (d, dRows, dJobs) = commit(store, boot(store, _), cmds, DriverTier, maxRowsPerFile)
    assert(s.success == d.success, s"spark $s, driver $d")
    assert(s.error == d.error, s"spark ${s.error}, driver ${d.error}")
    assert(s.commandRowCounts == d.commandRowCounts)
    assert(sRows == dRows)
    if (d.success) {
      assert(s.writeTier == WriteTier.Spark)
      assert(d.writeTier == (if (driverWrites) WriteTier.Driver else WriteTier.Spark))
      assert(sJobs >= 1, "budget 0 runs the Spark fold and write")
    }
    (d, dRows, dJobs)
  }

  // ---- kvbench-shaped data: (tenant INT, seq BIGINT) keys ----

  private val kvSchema = StructType(Seq(
    StructField("tenant", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("amount", LongType), StructField("payload", StringType),
    StructField("gen", LongType)))

  private def kvRows(keys: Seq[(Int, Long)], gen: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keys.map { case (t, s) =>
      Row(t, s, t * 1000L + s + gen, s"p$t-$s-$gen", gen) }: _*), kvSchema)

  private def kvBoot(store: SnapshotStore, id: String): KVIndex =
    KVIndex.bootstrap(store, id, kvRows(for (t <- 0 until 4; s <- 0 until 40) yield (t, 2L * s), 0L),
      Seq("tenant", "seq"), txVersion = "tx0", maxRowsPerFile = 48)
      .fold(e => fail(e.message), identity)

  test("a kvbench-shaped 4-command batch commits on the driver in 0 Spark jobs") {
    val keys = (0 until 20).map(s => (1, 2L * s))
    def cmds() = Seq(
      Command.Insert(kvRows(keys.take(10), 1L), upsert = true),
      Command.Update(kvRows(keys.slice(10, 15), 1L).withColumn("expectedVersion", lit("tx0"))),
      Command.Remove(spark.createDataFrame(java.util.Arrays.asList(
        keys.drop(15).map { case (t, s) => Row(t, s) }: _*), StructType(kvSchema.take(2)))),
      Command.Insert(kvRows((0 until 5).map(s => (1, 2L * s + 1)), 1L)))
    val (d, rows, jobs) = bothTiers(kvBoot, cmds)
    assert(d.success, d.error)
    assert(jobs == 0, s"driver commit ran $jobs Spark jobs")
    val touched = d.commandRowCounts.head
    assert(d.commandRowCounts == Seq(touched, touched, touched - 5, touched))
    assert(rows.size == 160)
    assert(rows.count(_.endsWith("|tx1")) == 20)
  }

  // ---- string-keyed data ----

  private def kv(rows: Seq[(String, Int)]): DataFrame = rows.toDF("k", "v")

  private def strBoot(n: Int, maxRowsPerFile: Long = 1L << 19)(store: SnapshotStore, id: String): KVIndex =
    KVIndex.bootstrap(store, id, kv((0 until n).map(i => (f"k$i%03d", i))), Seq("k"),
      txVersion = "tx0", maxRowsPerFile = maxRowsPerFile).fold(e => fail(e.message), identity)

  test("every GraftError kind: the reference's order, the first failing command, first 5 keys in key order") {
    val boot = strBoot(40) _
    def err(cmds: () => Seq[Command]): Option[GraftError] = {
      val (d, _, _) = bothTiers(boot, cmds)
      assert(!d.success)
      d.error
    }
    // duplicates outrank the clash of the same command
    assert(err(() => Seq(
      Command.Insert(kv(Seq("k001" -> 1)), upsert = true),
      Command.Insert(kv(Seq("k002" -> 0) ++ (106 to 100 by -1).flatMap(i => Seq(s"k$i" -> 0, s"k$i" -> 1)))))) ==
      Some(GraftError.DuplicatedKeys(Seq("k100", "k101", "k102", "k103", "k104"))))
    assert(err(() => Seq(Command.Insert(kv((9 to 3 by -1).map(i => f"k$i%03d" -> 0))))) ==
      Some(GraftError.KeyAlreadyExists(Seq("k003", "k004", "k005", "k006", "k007"))))
    assert(err(() => Seq(Command.Update(kv((6 to 0 by -1).map(i => s"ghost$i" -> 0))))) ==
      Some(GraftError.KeyNotFound(Seq("ghost0", "ghost1", "ghost2", "ghost3", "ghost4"))))
    assert(err(() => Seq(Command.Update(kv((16 to 10 by -1).map(i => f"k$i%03d" -> 0))
      .withColumn("expectedVersion", lit("stale"))))) ==
      Some(GraftError.VersionChanged(Seq("k010", "k011", "k012", "k013", "k014"))))
    // the first failing command is reported, not the later one's kinds
    assert(err(() => Seq(
      Command.Insert(kv(Seq("k050" -> 1))),
      Command.Remove(kv(Seq("ghost" -> 0)).select("k")),
      Command.Insert(kv(Seq("k200" -> 1, "k200" -> 2))))) ==
      Some(GraftError.KeyNotFound(Seq("ghost"))))
    // a key inserted by an earlier command of the batch clashes in a later one
    assert(err(() => Seq(Command.Insert(kv(Seq("k300" -> 1))), Command.Insert(kv(Seq("k300" -> 2))))) ==
      Some(GraftError.KeyAlreadyExists(Seq("k300"))))
  }

  test("duplicate keys within one command") {
    // a repeated key in one Remove is removed once
    val (d, rows, _) = bothTiers(strBoot(40), () =>
      Seq(Command.Remove(kv(Seq("k003" -> 0, "k003" -> 0, "k004" -> 0)).select("k"))))
    assert(d.success && d.commandRowCounts == Seq(38L) && rows.size == 38)
    // and fails an upsert
    val (u, _, _) = bothTiers(strBoot(40), () =>
      Seq(Command.Insert(kv(Seq("k005" -> 1, "k005" -> 2)), upsert = true)))
    assert(u.error.contains(GraftError.DuplicatedKeys(Seq("k005"))))
  }

  test("null key components never match: they insert apart and are never found") {
    val schema = StructType(Seq(StructField("a", StringType), StructField("b", IntegerType),
      StructField("v", StringType)))
    def rows(rs: Row*): DataFrame = spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    def boot(store: SnapshotStore, id: String) = KVIndex.bootstrap(store, id,
      rows(Row(null, 1, "n1"), Row("x", 1, "x1"), Row("x", 2, "x2"), Row("y", null, "yn"),
        Row("y", 3, "y3")), Seq("a", "b"), txVersion = "tx0").fold(e => fail(e.message), identity)
    val (ins, insRows, _) = bothTiers(boot, () => Seq(
      Command.Insert(rows(Row(null, 1, "n1b"), Row("x", 9, "x9"))),
      Command.Insert(rows(Row("x", 1, "x1b"), Row("y", null, "ynb")), upsert = true)))
    assert(ins.success, ins.error)
    assert(insRows.count(_.startsWith("null|1|")) == 2 && insRows.count(_.startsWith("y|null|")) == 2)
    val (upd, _, _) = bothTiers(boot, () => Seq(Command.Update(rows(Row(null, 1, "n")))))
    assert(upd.error.exists(_.code == "KEY_NOT_FOUND"))
    val (rem, _, _) = bothTiers(boot, () => Seq(Command.Remove(rows(Row("y", null, "")).select("a", "b"))))
    assert(rem.error.exists(_.code == "KEY_NOT_FOUND"))
  }

  test("NaN and -0.0 in a double key group as Spark groups them") {
    def dv(rs: (Double, String)*): DataFrame = rs.toDF("d", "v")
    def boot(store: SnapshotStore, id: String) = KVIndex.bootstrap(store, id,
      dv(-1.0 -> "m1", 0.0 -> "zero", 2.5 -> "two", Double.NaN -> "nan"), Seq("d"),
      txVersion = "tx0").fold(e => fail(e.message), identity)
    val (up, rows, _) = bothTiers(boot, () => Seq(
      Command.Insert(dv(-0.0 -> "negzero", Double.NaN -> "nan2"), upsert = true),
      Command.Update(dv(Double.NaN -> "nan3").withColumn("expectedVersion", lit("tx1")))))
    assert(up.success, up.error)
    assert(up.commandRowCounts == Seq(4L, 4L))
    assert(rows.size == 4 && rows.exists(_.startsWith("NaN|nan3|")) && rows.exists(_.contains("negzero")))
    val (clash, _, _) = bothTiers(boot, () => Seq(Command.Insert(dv(-0.0 -> "again"))))
    assert(clash.error.exists(_.code == "LEAF_DUPLICATE_KEY"))
    // a file whose min is 0.0 covers -0.0: the upsert replaces that row
    // instead of pruning the file away and committing a second one
    def oneFile(store: SnapshotStore, id: String) = KVIndex.bootstrap(store, id,
      dv(0.0 -> "zero", 1.0 -> "one", 2.0 -> "two"), Seq("d"),
      txVersion = "tx0").fold(e => fail(e.message), identity)
    val (neg, negRows, _) = bothTiers(oneFile, () => Seq(
      Command.Insert(dv(-0.0 -> "negzero"), upsert = true)))
    assert(neg.success, neg.error)
    assert(negRows.size == 3 && negRows.count(_.contains("|negzero|")) == 1 &&
      !negRows.exists(_.contains("|zero|")), negRows)
  }

  test("keys typed unlike the manifest's fold and write as Spark does") {
    def boot(store: SnapshotStore, id: String) = KVIndex.bootstrap(store, id,
      (0L until 20L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"), txVersion = "tx0")
      .fold(e => fail(e.message), identity)
    // INT keys into a BIGINT index: alone, and written next to a BIGINT-keyed
    // remove, whose union with them is BIGINT
    val (alone, aloneRows, _) = bothTiers(boot, () => Seq(
      Command.Insert(Seq((100, "a"), (5, "b")).toDF("k", "v"), upsert = true)), driverWrites = false)
    assert(alone.success && aloneRows.size == 21 && aloneRows.contains("5|b|tx1"))
    val (mixed, mixedRows, _) = bothTiers(boot, () => Seq(
      Command.Insert(Seq((101, "c")).toDF("k", "v")), Command.Remove(Seq(3L).toDF("k"))),
      driverWrites = false)
    assert(mixed.success && mixedRows.size == 20 && mixedRows.contains("101|c|tx1"))
  }

  test("an empty index, and an out-of-range insert that touches no file") {
    def empty(store: SnapshotStore, id: String) = KVIndex.bootstrap(store, id,
      kv(Seq("a" -> 1)).filter(col("v") < 0), Seq("k"), txVersion = "tx0")
      .fold(e => fail(e.message), identity)
    val (e, eRows, _) = bothTiers(empty, () => Seq(Command.Insert(kv(Seq("b" -> 2, "a" -> 1)))))
    assert(e.success && e.commandRowCounts == Seq(2L) && eRows.size == 2)
    val (missing, _, _) = bothTiers(empty, () => Seq(Command.Remove(kv(Seq("a" -> 0)).select("k"))))
    assert(missing.error.contains(GraftError.KeyNotFound(Seq("a"))))
    val (far, farRows, _) = bothTiers(strBoot(40, maxRowsPerFile = 10),
      () => Seq(Command.Insert(kv(Seq("zz1" -> 1, "zz2" -> 2)))))
    assert(far.success && far.commandRowCounts == Seq(2L) && farRows.size == 42)
  }

  test("a write of several files cuts the new state into disjoint key ranges") {
    val (d, rows, _) = bothTiers(strBoot(40), () =>
      Seq(Command.Insert(kv((0 until 40 by 4).map(i => f"k$i%03d" -> -i)), upsert = true)),
      maxRowsPerFile = 12)
    assert(d.success && d.commandRowCounts == Seq(40L) && rows.size == 40)
    assert(d.snapshot.get.files.size == 4)
  }

  test("under ANSI mode an out-of-range value fails the batch on both tiers") {
    val store = new FsSnapshotStore(tmpDir("graft-localcommit-ansi"), spark)
    for (budget <- Seq(SparkTier, DriverTier)) {
      val ix = strBoot(20)(store, s"ansi$budget")
      val huge = Seq(("k004", 3000000000L)).toDF("k", "v")
      withAnsi {
        val e = intercept[Exception](LocalScan.withBudget(budget)(
          ix.execute(Seq(Command.Insert(huge, upsert = true)))))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("CAST_OVERFLOW")), e)
      }
      assert(KVIndex.open(store, s"ansi$budget").toOption.get.manifest.version == ix.manifest.version)
    }
  }

  test("validation precedes value evaluation on both tiers") {
    def boom(k: String) = spark.range(1)
      .select(lit(k).as("k"), raise_error(lit("value column evaluated")).cast("int").as("v"))
    val (d, _, _) = bothTiers(strBoot(20), () =>
      Seq(Command.Update(kv(Seq("ghost" -> 1))), Command.Insert(boom("new1"))))
    assert(d.error.contains(GraftError.KeyNotFound(Seq("ghost"))))
    // a batch that validates evaluates its values, and the error surfaces
    val store = new FsSnapshotStore(tmpDir("graft-localcommit-boom"), spark)
    for (budget <- Seq(SparkTier, DriverTier)) {
      val ix = strBoot(20)(store, s"boom$budget")
      val e = intercept[Exception](LocalScan.withBudget(budget)(
        ix.execute(Seq(Command.Insert(boom("new2"))))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("value column evaluated")), e)
    }
  }
}
