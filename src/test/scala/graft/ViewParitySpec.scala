package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.core._
import graft.sources.GraftScan

/** A registered snapshot view IS the catalog table pinned at its
  * snapshot: the same SQL over `createOrReplaceView`'s name and over
  * `cat.t` returns the same rows, runs the same number of Spark jobs and
  * scans the same files — so every graft rewrite a catalog query gets
  * (ordered stitch, top-k, count-range, prefix-cluster, co-range join)
  * reaches the view too.
  */
class ViewParitySpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Cat = "vparcat"

  // (tenant, seq)-keyed like the KV benchmark: 8 tenants x 500 even seqs,
  // then one upsert commit, so VERSION AS OF has a past to read
  private lazy val (store, first) = {
    val st = new FsSnapshotStore(tmpDir("graft-vparity") + "/store", spark)
    val rows = for (t <- 0L until 8L; s <- 0L until 500L) yield (t, s * 2, t * 1000 + s)
    val ix = KVIndex.bootstrap(st, "t", rows.toDF("tenant", "seq", "amount"),
      Seq("tenant", "seq"), maxRowsPerFile = 256).fold(e => sys.error(e.message), identity)
    val m2 = ix.execute(Seq(Command.Insert(
      (0L until 50L).map(s => (3L, s * 2, -s)).toDF("tenant", "seq", "amount"),
      upsert = true)), "tx-v2").orThrow
    new KVIndex(st, m2).createOrReplaceView("vpar_t")
    val other = (for (t <- 2L until 6L; s <- 0L until 300L) yield (t, s * 4, s))
      .toDF("tenant", "seq", "bv")
    KVIndex.bootstrap(st, "u", other, Seq("tenant", "seq"), maxRowsPerFile = 200)
      .fold(e => sys.error(e.message), identity).createOrReplaceView("vpar_u")
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

  /** (rows, Spark jobs, files scanned) of one statement, after a warm
    * run; rows sorted unless the statement orders them.
    */
  private def profile(sql: String): (Seq[Row], Int, Long) = {
    spark.sql(sql).collect()
    val df = spark.sql(sql)
    val (got, jobs) = jobsOf(df.collect().toSeq)
    val rows = if (sql.contains("ORDER BY")) got else got.sortBy(_.toString)
    val files = collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.sum
    (rows, jobs, files)
  }

  private def assertParity(template: String): Unit = {
    store
    val onView = profile(template.replace("$t", "vpar_t").replace("$u", "vpar_u"))
    val onCat = profile(template.replace("$t", s"$Cat.t").replace("$u", s"$Cat.u"))
    assert(onView._1.nonEmpty, s"empty answer: $template")
    assert(onView == onCat, s"view vs catalog (rows, jobs, files) differ for: $template")
  }

  private val Cols = "tenant, seq, amount"

  test("the benchmark's five SQL shapes: same rows, jobs and files on a view and cat.t") {
    assertParity(s"SELECT $Cols FROM $$t WHERE tenant = 3 AND seq BETWEEN 40 AND 400 " +
      "ORDER BY tenant, seq")
    assertParity(s"SELECT $Cols FROM $$t WHERE tenant <= 5 ORDER BY tenant DESC, seq DESC LIMIT 30")
    assertParity("SELECT count(*) FROM $t WHERE tenant >= 2 AND tenant <= 4")
    assertParity(s"SELECT $Cols FROM $$t VERSION AS OF $first WHERE tenant = 3 " +
      "AND seq BETWEEN 0 AND 200 ORDER BY tenant, seq")
    assertParity("SELECT count(*), sum(amount) FROM $t WHERE tenant = 3")
  }

  test("a prefix GROUP BY and a two-snapshot key join: same rows, jobs and files") {
    assertParity("SELECT tenant, count(*) AS n, sum(amount) AS s FROM $t GROUP BY tenant")
    assertParity("SELECT a.tenant, a.seq, a.amount, b.bv FROM $t a JOIN $u b " +
      "ON a.tenant = b.tenant AND a.seq = b.seq")
  }

  test("count-range over a view reads at most the two boundary files") {
    store
    GraftScan.lastPlannedFiles = -1
    val n = spark.sql("SELECT count(*) FROM vpar_t WHERE tenant >= 2 AND tenant <= 4")
      .head.getLong(0)
    assert(n == 1500L)
    val planned = GraftScan.lastPlannedFiles
    assert(planned >= 0 && planned <= 2, s"count-range over a view planned $planned files")
  }

  test("a view-to-view key join plans zero exchanges") {
    store
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql("SELECT a.tenant, a.seq, a.amount, b.bv FROM vpar_t a " +
        "JOIN vpar_u b ON a.tenant = b.tenant AND a.seq = b.seq")
      val want = for (t <- 2L until 6L; s <- 0L until 300L if s * 4 < 1000)
        yield (t, s * 4, if (t == 3L && s * 4 < 100) -(s * 2) else t * 1000 + s * 2, s)
      assert(q.as[(Long, Long, Long, Long)].collect().sorted.toSeq == want.sorted)
      val plan = q.queryExecution.executedPlan
      assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"view-to-view key join must plan zero exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
  }

  test("a view stays read-only: INSERT and DELETE on its name change nothing") {
    store
    val before = spark.sql("SELECT count(*), sum(amount) FROM vpar_t").head
    intercept[Exception](spark.sql("INSERT INTO vpar_t VALUES (9, 0, 0, 'x')").collect())
    intercept[Exception](spark.sql("DELETE FROM vpar_t WHERE tenant = 1").collect())
    assert(spark.sql("SELECT count(*), sum(amount) FROM vpar_t").head == before)
    val latest = KVIndex.open(store, "t").fold(e => sys.error(e.message), identity)
    assert(latest.manifest.numElements == 4000L)
  }
}
