package graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core._

/** The driver-local read tier ([[LocalScan]]): below its budget a library
  * read decodes its covering files on the driver and returns a local
  * relation, so `collect()` runs no Spark job. Every read must answer
  * exactly as the Spark path does (budget 0 against budget ∞) — rows and
  * their order, counts, missing keys, prefix batches — across types, null
  * key components, reverse reads, empty answers, the overlapping layout, a
  * legacy manifest and both parquet reader modes.
  */
abstract class LocalReadSpecBase extends SparkSuite {
  import spark.implicits._

  def newStore(): SnapshotStore

  private val Off = 0L
  private val On = Long.MaxValue

  /** Spark jobs started while `f` runs (the listener bus is async, so
    * earlier jobs drain first and late events get time to arrive).
    */
  protected def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(listener)
    try { val a = f; Thread.sleep(300); (a, jobs.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withConf[A](k: String, v: String)(f: => A): A = {
    val before = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** A row as comparable values (binary columns by content). */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  private def rows(df: DataFrame): Seq[Any] = df.collect().toSeq.map(norm)

  /** Every tier-candidate read of `ix`, each as a comparable answer. */
  private def answers(ix: KVIndex, probes: Seq[Seq[Any]], prefixes: Seq[Seq[Any]],
                      batch: Seq[Seq[Any]]): Seq[(String, Any)] = {
    val sorted = probes.sorted(KeyOrd)
    val pairs = (sorted.head, sorted.last) +: sorted.zip(sorted.tail)
    probes.flatMap { p =>
      Seq(s"get $p" -> rows(ix.get(p)),
        s"nextKey $p" -> rows(ix.nextKey(p)),
        s"previousKey $p" -> rows(ix.previousKey(p))) ++
        Seq(false, true).flatMap { inc => Seq(false, true).flatMap { rev =>
          Seq(s"gt $p $inc $rev" -> rows(ix.gt(p, inc, rev)),
            s"lt $p $inc $rev" -> rows(ix.lt(p, inc, rev))) } }
    } ++ pairs.flatMap { case (a, b) =>
      Seq(s"range $a $b" -> rows(ix.range(a, b, incFrom = true, incTo = true)),
        s"range rev open $a $b" -> rows(ix.range(a, b, incFrom = false, incTo = false, reverse = true)),
        s"countRange $a $b" -> ix.countRange(a, b),
        s"countRange open $a $b" -> ix.countRange(a, b, incFrom = false, incTo = false))
    } ++ prefixes.flatMap { p =>
      Seq(s"prefix $p" -> rows(ix.prefix(p)), s"prefix rev $p" -> rows(ix.prefix(p, reverse = true)))
    } ++ Seq(1, 7, 1000).flatMap { n =>
      Seq(s"head $n" -> rows(ix.headOrdered(n)), s"tail $n" -> rows(ix.headOrdered(n, reverse = true)))
    } ++ Seq(false, true).map { must =>
      val r = ix.getAll(batch, mustFindAll = must)
      s"getAll $must" -> ((rows(r.found).map(_.toString).sorted, r.missing, r.success,
        r.error.map(_.message)))
    } :+ ("getAllPrefix" -> rows(ix.getAllPrefix(prefixes)).map(_.toString).sorted)
  }

  /** Both tiers give identical answers, in both reader modes. */
  private def sameOnBothTiers(ix: KVIndex, probes: Seq[Seq[Any]], prefixes: Seq[Seq[Any]],
                              batch: Seq[Seq[Any]]): Unit =
    for (vectorized <- Seq("true", "false"))
      withConf("spark.sql.parquet.enableVectorizedReader", vectorized) {
        val spark0 = LocalScan.withBudget(Off)(answers(ix, probes, prefixes, batch))
        val local = LocalScan.withBudget(On)(answers(ix, probes, prefixes, batch))
        assert(spark0.map(_._1) == local.map(_._1))
        spark0.zip(local).foreach { case ((what, a), (_, b)) =>
          assert(a == b, s"$what (vectorized=$vectorized)")
        }
      }

  private def typed(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).select(
      format_string("k%03d", col("id") * 2).as("k"),
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

  test("every read answers identically on both tiers: all manifest types, a COW file mix") {
    val store = newStore()
    val ix0 = KVIndex.bootstrap(store, "typed", typed(120), Seq("k"), maxRowsPerFile = 16)
      .fold(e => fail(e.message), identity)
    val up = typed(10, 30).withColumn("i", lit(-1))
    val ix = new KVIndex(store, ix0.execute(Seq(Command.Insert(up, upsert = true))).orThrow)
    assert(ix.numFiles >= 4 && ix.manifest.filesDisjointOrdered)
    val probes = Seq(Seq[Any]("k000"), Seq[Any]("k061"), Seq[Any]("k064"),
      ix.manifest.files(2).min, ix.manifest.files(2).max, Seq[Any]("a"), Seq[Any]("zz"))
    // 7 missing keys (more than the error lists), a duplicate, a hit
    val batch = Seq("k004", "k071", "k999", "k003", "k001", "a", "k005", "k002", "k071", "zz")
      .map(Seq[Any](_))
    sameOnBothTiers(ix, probes, Seq(Seq[Any]("k010")), batch)
  }

  test("decimal and timestamp keys, composite, with array and struct values") {
    val store = newStore()
    val df = typed(90).select(col("ts"), col("dec"), col("arr"), col("st"), col("k"))
    val ix = KVIndex.bootstrap(store, "tskey", df, Seq("ts", "dec"), maxRowsPerFile = 20)
      .fold(e => fail(e.message), identity)
    assert(ix.numFiles >= 4)
    val ts = (h: Int) => new java.sql.Timestamp(h * 3600L * 1000L)
    val dec = (s: String) => new java.math.BigDecimal(s)
    val probes = Seq(Seq[Any](ts(8), dec("1.00")), Seq[Any](ts(41), dec("5.13")),
      Seq[Any](ts(60), dec("7.50")), ix.manifest.files(1).max, Seq[Any](ts(500), dec("0.00")))
    val batch = probes ++ Seq(Seq[Any](ts(9), dec("1.13")), Seq[Any](ts(3), dec("9.99")))
    sameOnBothTiers(ix, probes, Seq(Seq[Any](ts(16)), Seq[Any](ts(17))), batch)
  }

  test("null key components, on a disjoint and on an overlapping layout") {
    val store = newStore()
    def rowsOf(gs: Seq[Option[Int]]): DataFrame = gs.flatMap(g => (1 to 6).map(i =>
      (g.map(Integer.valueOf).orNull, f"k$i%02d", s"v$g-$i"))).toDF("g", "k", "v")
    val all = None +: (1 to 20).map(Some(_))
    val a = KVIndex.bootstrap(store, "nullA", rowsOf(all.filter(_.forall(_ % 2 == 0))),
      Seq("g", "k"), maxRowsPerFile = 12).fold(e => fail(e.message), identity)
    val b = KVIndex.bootstrap(store, "nullB", rowsOf(all.filter(_.exists(_ % 2 == 1))),
      Seq("g", "k"), maxRowsPerFile = 12).fold(e => fail(e.message), identity)
    val m = a.manifest.copy(id = "nullOvl", version = 0L,
      snapshotId = UUID.randomUUID().toString, numElements = a.count + b.count,
      files = (a.manifest.files ++ b.manifest.files).sortBy(_.min)(KeyOrd))
    store.commit(m, -1L)
    val ovl = KVIndex.open(store, "nullOvl").toOption.get
    assert(a.manifest.filesDisjointOrdered && !ovl.manifest.filesDisjointOrdered)
    val probes = Seq(Seq[Any](null, "k03"), Seq[Any](null, null), Seq[Any](4, "k02"),
      Seq[Any](7, "k00"), Seq[Any](11, null), Seq[Any](30, "k01"))
    val batch = probes ++ Seq(Seq[Any](2, "k06"), Seq[Any](13, "k01"))
    for (ix <- Seq(a, ovl))
      sameOnBothTiers(ix, probes, Seq(Seq[Any](null), Seq[Any](8), Seq[Any](9)), batch)
  }

  test("empty answers, an empty snapshot and a legacy manifest without column types") {
    val store = newStore()
    val ix = KVIndex.bootstrap(store, "small", typed(40), Seq("k"), maxRowsPerFile = 10)
      .fold(e => fail(e.message), identity)
    val probes = Seq(Seq[Any]("k001"), Seq[Any]("k0011"), Seq[Any]("zzz"))
    sameOnBothTiers(ix, probes, Seq(Seq[Any]("q")), Seq(Seq[Any]("k0011")))
    assert(LocalScan.withBudget(On)(ix.get(Seq("k0011"))).collect().isEmpty)
    assert(LocalScan.withBudget(On)(ix.countRange(Seq("k0011"), Seq("k0013"))) == 0L)

    // typed, empty: every read answers from the manifest on both tiers
    store.createIndex("none", Seq("k"), Seq("v"), colTypes = Seq("STRING", "INT"))
      .fold(e => fail(e.message), identity)
    val none = KVIndex.open(store, "none").toOption.get
    sameOnBothTiers(none, Seq(Seq[Any]("a")), Seq(Seq[Any]("a")), Seq(Seq[Any]("a")))

    // the same files without colTypes: the legacy manifest stays on Spark
    store.commit(ix.manifest.copy(id = "legacy", version = 0L,
      snapshotId = UUID.randomUUID().toString, colTypes = Nil), -1L)
    val legacy = KVIndex.open(store, "legacy").toOption.get
    assert(legacy.manifest.readSchema.isEmpty)
    assert(!LocalScan.withBudget(On)(legacy.get(Seq("k002"))).isLocal)
    assert(LocalScan.withBudget(On)(legacy.get(Seq("k002"))).collect().length == 1)
  }

  test("below the budget a read and its collect run no Spark job") {
    val store = newStore()
    KVIndex.bootstrap(store, "zero", typed(400), Seq("k"), maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)
    val ix = KVIndex.open(store, "zero").toOption.get
    assert(ix.numFiles >= 8)
    val (from, to) = (Seq[Any]("k100"), Seq[Any]("k180"))
    val reads: Seq[(String, () => Any)] = Seq(
      "get" -> (() => ix.get(Seq("k100")).collect()),
      "getAll" -> (() => ix.getAll(Seq(Seq("k100"), Seq("k700"), Seq("k701")),
        mustFindAll = true).found.collect()),
      "range" -> (() => ix.range(from, to, incFrom = true, incTo = false).collect()),
      "gt" -> (() => ix.gt(to, inclusive = true, reverse = true).collect()),
      "prefix" -> (() => ix.prefix(Seq("k1")).collect()),
      "nextKey" -> (() => ix.nextKey(from).collect()),
      "previousKey" -> (() => ix.previousKey(from).collect()),
      "headOrdered" -> (() => ix.headOrdered(50, reverse = true).collect()),
      "countRange" -> (() => ix.countRange(from, to, incFrom = false)))
    for ((what, read) <- reads) {
      val (_, jobs) = jobsOf(read())
      assert(jobs == 0, s"$what ran $jobs jobs")
    }
    // a caller's filter, projection and limit fold into the local answer
    val (n, jobs) = jobsOf(ix.range(from, to, incFrom = true, incTo = true).filter(col("i") > 60)
      .select("k").limit(3).collect().length)
    assert((n, jobs) == (3, 0))
  }

  test("above the budget getAll's key batch is a local relation: pinned job count") {
    val store = newStore()
    val ix = KVIndex.bootstrap(store, "many", typed(200), Seq("k"), maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)
    val keys = Seq("k010", "k100", "k101", "k398").map(Seq[Any](_))
    val (found, jobs) = LocalScan.withBudget(Off)(jobsOf(ix.getAll(keys).found.collect()))
    assert(found.map(_.getString(0)).sorted.toSeq == Seq("k010", "k100", "k398"))
    // a parallelized key RDD cost 4 jobs here; the local relation 2
    assert(jobs == 2, s"getAll ran $jobs jobs")
  }

  test("KEY_NOT_FOUND lists the first five missing keys in key order on both tiers") {
    val store = newStore()
    val ix = KVIndex.bootstrap(store, "miss", typed(60), Seq("k"), maxRowsPerFile = 16)
      .fold(e => fail(e.message), identity)
    val missing = Seq("k091", "k001", "k200", "k051", "a", "k013", "k0021", "k007")
    val keys = (missing ++ Seq("k002", "k004")).map(Seq[Any](_))
    for (budget <- Seq(Off, On)) {
      val r = LocalScan.withBudget(budget)(ix.getAll(keys, mustFindAll = true))
      assert(!r.success && r.missing == missing.size, s"budget $budget")
      assert(r.error.contains(GraftError.KeyNotFound(missing.sorted.take(5))), s"budget $budget")
    }
  }
}

class FsLocalReadSpec extends LocalReadSpecBase {
  override def newStore(): SnapshotStore = new FsSnapshotStore(tmpDir("graft-local"), spark)
}

class JdbcLocalReadSpec extends LocalReadSpecBase {
  override def newStore(): SnapshotStore = JdbcSnapshotStore.inMemory(spark)
}

/** The memory store keeps its frames as cached RDDs: reading them costs a
  * job either way, so its reads stay on the Spark path at any budget.
  */
class MemoryLocalReadSpec extends SparkSuite {
  import spark.implicits._

  test("the memory store's reads stay on the Spark path at any budget") {
    val store = new MemorySnapshotStore(spark)
    val ix = KVIndex.bootstrap(store, "mem", (1 to 50).map(i => (f"k$i%03d", i)).toDF("k", "v"),
      Seq("k"), maxRowsPerFile = 10).fold(e => fail(e.message), identity)
    LocalScan.withBudget(Long.MaxValue) {
      assert(!ix.get(Seq("k007")).isLocal)
      assert(ix.get(Seq("k007")).select("v").as[Int].collect().toSeq == Seq(7))
      assert(!ix.range(Seq("k003"), Seq("k021"), true, true).isLocal)
      assert(ix.countRange(Seq("k003"), Seq("k021"), true, true) == 19L)
      assert(!ix.getAll(Seq(Seq("k001"))).found.isLocal)
    }
  }
}
