package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.core._
import graft.sources.GraftScan

/** Catalog SQL below the driver bound: when [[LocalScan]] serves a catalog
  * scan's covering files, the statement is answered on the driver and runs
  * no Spark job. Every statement must answer exactly as the Spark path
  * does (budget 0 against budget ∞): the benchmark's five SQL shapes, and
  * the edges of each rewrite — an empty cover, a null leading key, a
  * descending range, a limit under a non-key filter, key min/max, a
  * registered view and an ANSI overflow.
  */
class LocalSqlSpec extends SparkSuite {
  import spark.implicits._

  private val Cat = "lsqlcat"
  private val Off = 0L
  private val On = Long.MaxValue

  // (tenant, seq)-keyed like the KV benchmark: 8 tenants x 500 even seqs
  // in 256-row files, then one upsert commit, so VERSION AS OF has a past;
  // "n" holds null leading keys, "big" sums past Long.MaxValue
  private lazy val (store, first) = {
    val st = new FsSnapshotStore(tmpDir("graft-localsql") + "/store", spark)
    val rows = for (t <- 0L until 8L; s <- 0L until 500L) yield (t, s * 2, t * 1000 + s)
    val ix = KVIndex.bootstrap(st, "t", rows.toDF("tenant", "seq", "amount"),
      Seq("tenant", "seq"), maxRowsPerFile = 256).fold(e => sys.error(e.message), identity)
    val m2 = ix.execute(Seq(Command.Insert(
      (0L until 50L).map(s => (3L, s * 2, -s)).toDF("tenant", "seq", "amount"),
      upsert = true)), "tx-v2").orThrow
    new KVIndex(st, m2).createOrReplaceView("lsql_t")
    val nulls = (Seq[(java.lang.Long, Long, Long)]((null, 1L, 7L), (null, 2L, 8L)) ++
      (1L to 300L).map(k => (java.lang.Long.valueOf(k), 0L, k * 3))).toDF("k", "s", "x")
    KVIndex.bootstrap(st, "n", nulls, Seq("k", "s"), maxRowsPerFile = 64)
      .fold(e => sys.error(e.message), identity)
    val huge = Long.MaxValue / 2 + 1
    KVIndex.bootstrap(st, "big", Seq((1L, 0L, huge), (1L, 1L, huge), (2L, 0L, 1L))
      .toDF("k", "s", "amount"), Seq("k", "s"), maxRowsPerFile = 2)
      .fold(e => sys.error(e.message), identity)
    spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Cat.root", st.root)
    (st, ix.manifest.version)
  }

  /** Spark jobs started while `f` runs (the listener bus is async, so
    * earlier jobs drain first and late events get time to arrive).
    */
  private def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Thread.sleep(300)
    spark.sparkContext.addSparkListener(listener)
    try { val a = f; Thread.sleep(300); (a, jobs.get) }
    finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The statement's rows (sorted unless it orders them) at `budget`. */
  private def rowsAt(budget: Long, sql: String): Seq[Row] = {
    val got = LocalScan.withBudget(budget)(spark.sql(sql).collect().toSeq)
    if (sql.contains("ORDER BY")) got else got.sortBy(_.toString)
  }

  /** Equal rows on both tiers; the answer. */
  private def same(sql: String): Seq[Row] = {
    store
    val onSpark = rowsAt(Off, sql)
    assert(rowsAt(On, sql) == onSpark, s"budget 0 vs ∞ differ for: $sql")
    onSpark
  }

  private val Cols = "tenant, seq, amount"
  private def t = s"$Cat.t"

  private val shapes = Seq(
    s"SELECT $Cols FROM $$t WHERE tenant = 3 AND seq BETWEEN 40 AND 400 ORDER BY tenant, seq",
    s"SELECT $Cols FROM $$t WHERE tenant <= 5 ORDER BY tenant DESC, seq DESC LIMIT 30",
    "SELECT count(*) FROM $t WHERE tenant >= 2 AND tenant <= 4",
    s"SELECT $Cols FROM $$t VERSION AS OF $$v WHERE tenant = 3 AND seq BETWEEN 0 AND 200 " +
      "ORDER BY tenant, seq",
    "SELECT count(*), sum(amount) FROM $t WHERE tenant = 3")

  private def on(template: String, table: String): String =
    template.replace("$t", table).replace("$v", first.toString)

  test("the benchmark's five SQL shapes: equal rows at budget 0 and ∞, 0 jobs by default") {
    store
    shapes.foreach { template =>
      val q = on(template, t)
      val want = same(q)
      assert(want.nonEmpty, q)
      spark.sql(q).collect() // warm
      val (_, sparkJobs) = LocalScan.withBudget(Off)(jobsOf(spark.sql(q).collect()))
      assert(sparkJobs > 0, s"the Spark path ran no job: $q")
      GraftScan.lastPlannedFiles = -1
      val (got, jobs) = jobsOf(spark.sql(q).collect().toSeq)
      assert(jobs == 0, s"$jobs Spark jobs below the budget: $q")
      assert(GraftScan.lastPlannedFiles >= 0, s"no planned-file count: $q")
      assert((if (q.contains("ORDER BY")) got else got.sortBy(_.toString)) == want, q)
    }
    // spot-check the answers themselves
    assert(same(on(shapes(2), t)) == Seq(Row(1500L)))
    assert(same(on(shapes(4), t)) == Seq(Row(500L,
      (0L until 500L).map(s => if (s < 50) -s else 3000L + s).sum)))
    val topk = same(on(shapes(1), t))
    assert(topk.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L until 30L).map(i => (5L, 998L - 2 * i)))
  }

  test("a registered view answers like the catalog table, on both tiers") {
    store
    shapes.foreach { template =>
      assert(same(on(template, "lsql_t")) == same(on(template, t)), template)
    }
  }

  test("an empty cover, a descending range and a limit under a non-key filter") {
    store
    assert(same(s"SELECT $Cols FROM $t WHERE tenant = 99 ORDER BY tenant, seq").isEmpty)
    assert(same(s"SELECT $Cols FROM $t WHERE tenant = 99 ORDER BY tenant DESC, seq DESC LIMIT 5")
      .isEmpty)
    assert(same(s"SELECT count(*) FROM $t WHERE tenant > 50") == Seq(Row(0L)))
    assert(same(s"SELECT count(*), sum(amount) FROM $t WHERE tenant = 99") == Seq(Row(0L, null)))
    val desc = same(s"SELECT $Cols FROM $t WHERE tenant BETWEEN 2 AND 3 ORDER BY tenant DESC, seq DESC")
    assert(desc.size == 1000 && desc.head.getLong(0) == 3L && desc.last.getLong(0) == 2L)
    assert(desc.map(r => (r.getLong(0), r.getLong(1))) ==
      desc.map(r => (r.getLong(0), r.getLong(1))).sorted.reverse)
    val filtered = same(s"SELECT $Cols FROM $t WHERE amount % 7 = 0 ORDER BY tenant, seq LIMIT 12")
    assert(filtered.size == 12 && filtered.forall(_.getLong(2) % 7 == 0))
    assert(same(s"SELECT $Cols FROM $t WHERE tenant >= 6 AND amount % 5 = 1 " +
      "ORDER BY tenant DESC, seq DESC LIMIT 7").size == 7)
    assert(same(s"SELECT $Cols FROM $t WHERE seq > 990 ORDER BY tenant, seq").size == 32)
  }

  test("min and max of key columns under a range fold on both tiers") {
    store
    assert(same(s"SELECT min(seq), max(seq), count(*) FROM $t " +
      "WHERE tenant = 3 AND seq BETWEEN 11 AND 301") == Seq(Row(12L, 300L, 145L)))
    assert(same(s"SELECT min(tenant), max(tenant) FROM $t WHERE tenant > 1 AND tenant < 6") ==
      Seq(Row(2L, 5L)))
    assert(same(s"SELECT max(amount), min(seq) FROM $t WHERE tenant = 4") ==
      Seq(Row(4499L, 0L)))
  }

  test("a null leading key: ordered, top-k, counts and aggregates") {
    store
    val n = s"$Cat.n"
    val asc = same(s"SELECT k, s, x FROM $n ORDER BY k, s")
    assert(asc.size == 302 && asc.take(2).map(_.getLong(1)) == Seq(1L, 2L) &&
      asc.take(2).forall(_.isNullAt(0)))
    val desc = same(s"SELECT k, x FROM $n ORDER BY k DESC, s DESC LIMIT 4")
    assert(desc.map(_.getLong(0)) == Seq(300L, 299L, 298L, 297L))
    assert(same(s"SELECT k, s FROM $n ORDER BY k DESC, s DESC").last == Row(null, 1L))
    assert(same(s"SELECT k, x FROM $n WHERE k < 3 ORDER BY k").map(_.getLong(0)) == Seq(1L, 2L))
    assert(same(s"SELECT count(*) FROM $n WHERE k < 100") == Seq(Row(99L)))
    assert(same(s"SELECT count(*) FROM $n WHERE k IS NOT NULL") == Seq(Row(300L)))
    assert(same(s"SELECT count(*), sum(x), min(k) FROM $n WHERE k <= 10") == Seq(Row(10L, 165L, 1L)))
    assert(same(s"SELECT count(*), sum(x) FROM $n") == Seq(Row(302L, 135465L)))
  }

  test("an ANSI sum overflow raises the same error class on both tiers") {
    store
    val before = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    def condition(budget: Long, q: String): String = {
      val e = intercept[Throwable](LocalScan.withBudget(budget)(spark.sql(q).collect()))
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.getOrElse(fail(s"no error class in $e"))
    }
    try {
      Seq(s"SELECT sum(amount) FROM $Cat.big WHERE k = 1",
        s"SELECT count(*), sum(amount) FROM $Cat.big").foreach { q =>
        val onSpark = condition(Off, q)
        assert(onSpark == "ARITHMETIC_OVERFLOW", q)
        assert(condition(On, q) == onSpark, q)
      }
      assert(same(s"SELECT sum(amount) FROM $Cat.big WHERE k = 2") == Seq(Row(1L)))
    } finally before.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
      spark.conf.set("spark.sql.ansi.enabled", _))
  }
}
