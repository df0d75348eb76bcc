package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.core._
import graft.plans.{AsOfZipJoinExec, ZipPartitionsJoinExec}
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

  /** Parity of the Spark plans (budget 0: below the driver bound a
    * single-scan statement runs no job and scans no file), and of the
    * answers at the default budget.
    */
  private def assertParity(template: String): Unit = {
    store
    val view = template.replace("$t", "vpar_t").replace("$u", "vpar_u")
    val cat = template.replace("$t", s"$Cat.t").replace("$u", s"$Cat.u")
    val onView = LocalScan.withBudget(0L)(profile(view))
    val onCat = LocalScan.withBudget(0L)(profile(cat))
    assert(onView._1.nonEmpty, s"empty answer: $template")
    assert(onView == onCat, s"view vs catalog (rows, jobs, files) differ for: $template")
    assert(profile(view)._1 == onView._1 && profile(cat)._1 == onView._1,
      s"default-budget answer differs for: $template")
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
    for (budget <- Seq(0L, LocalScan.BudgetBytes)) {
      GraftScan.lastPlannedFiles = -1
      val n = LocalScan.withBudget(budget)(
        spark.sql("SELECT count(*) FROM vpar_t WHERE tenant >= 2 AND tenant <= 4").head.getLong(0))
      assert(n == 1500L)
      val planned = GraftScan.lastPlannedFiles
      assert(planned >= 0 && planned <= 2, s"count-range over a view planned $planned files")
    }
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

  /** The zip execs of a frame's plan, by kind, join type and coalesced
    * slots, plus its exchange count and output partitions.
    */
  private def zipShape(df: org.apache.spark.sql.DataFrame): (Seq[String], Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (collect(plan) {
      case z: ZipPartitionsJoinExec => s"zip ${z.joinType} ${z.coalescedLeft.size}"
      case z: AsOfZipJoinExec => s"asof outer=${z.leftOuter} strict=${z.strict} tol=${z.tolerance}"
    }, collect(plan) { case e: ShuffleExchangeExec => e }.size, df.rdd.getNumPartitions)
  }

  /** A library join and the same statement in catalog SQL: equal rows, the
    * same zip exec, zero exchanges.
    */
  private def assertJoinParity(what: String, api: org.apache.spark.sql.DataFrame,
                               sql: String, empty: Boolean = false): Unit = {
    val q = spark.sql(sql.replace("$t", s"$Cat.t").replace("$u", s"$Cat.u")
      .replace("$w", s"$Cat.w"))
    assert(api.columns.toSeq == q.columns.toSeq, s"$what: columns")
    val rows = api.collect().map(_.toString).sorted.toSeq
    assert(rows.isEmpty == empty, s"$what: ${rows.size} rows")
    assert(rows == q.collect().map(_.toString).sorted.toSeq, s"$what: rows differ")
    val shape = zipShape(api)
    assert(shape._1.size == 1 && shape._2 == 0,
      s"$what: expected one zip exec and no exchange:\n${api.queryExecution.executedPlan}")
    assert(shape == zipShape(q), s"$what: API and SQL plans differ\n" +
      s"${api.queryExecution.executedPlan}\n${q.queryExecution.executedPlan}")
  }

  test("the library joins are their catalog statements: same rows, same zip exec") {
    store
    def open(id: String) = KVIndex.open(store, id).fold(e => sys.error(e.message), identity)
    val (t, u) = (open("t"), open("u"))
    val w = KVIndex.bootstrap(store, "w", (2L until 6L).map(i => (i, s"w$i")).toDF("wk", "wv"),
      Seq("wk")).fold(e => sys.error(e.message), identity)
    val legs = 256L
    spark.conf.set("spark.graft.corange.rowsPerLeg", legs.toString)
    try {
      val on = "a.tenant = b.tenant AND a.seq = b.seq"
      val left = "a.tenant, a.seq, a.amount, a.version"
      for ((jt, sqlJoin) <- Seq("inner" -> "JOIN", "left_outer" -> "LEFT JOIN")) {
        assertJoinParity(jt, t.coRangeJoin(u, legs, jt),
          s"SELECT $left, b.bv FROM $$t a $sqlJoin $$u b ON $on")
      }
      for ((jt, sqlJoin) <- Seq("left_semi" -> "LEFT SEMI JOIN", "left_anti" -> "LEFT ANTI JOIN")) {
        assertJoinParity(jt, t.coRangeJoin(u, legs, jt),
          s"SELECT $left FROM $$t a $sqlJoin $$u b ON $on")
      }
      for ((jt, sqlJoin) <- Seq("right_outer" -> "RIGHT JOIN", "full_outer" -> "FULL JOIN")) {
        assertJoinParity(jt, t.coRangeJoin(u, legs, jt),
          "SELECT coalesce(a.tenant, b.tenant) AS tenant, coalesce(a.seq, b.seq) AS seq, " +
            "a.amount, coalesce(a.version, b.version) AS version, b.bv " +
            s"FROM $$t a $sqlJoin $$u b ON $on")
      }
      assertJoinParity("equiLen prefix", t.coRangeJoin(w, legs, equiLen = 1),
        s"SELECT $left, b.wv FROM $$t a JOIN $$w b ON a.tenant = b.wk")

      for (outer <- Seq(false, true); strict <- Seq(false, true); tol <- Seq(-1L, 0L, 6L)) {
        val band = if (tol >= 0) s" AND b.seq >= a.seq - $tol" else ""
        assertJoinParity(s"asOf outer=$outer strict=$strict tol=$tol",
          t.asOfJoin(u, equiLen = 1, joinType = if (outer) "left_outer" else "inner",
            strict = strict, tolerance = tol, rowsPerLeg = legs),
          s"""SELECT tenant, seq, amount, version, asof_ts, bv FROM (
                SELECT $left, b.seq AS asof_ts, b.bv, row_number() OVER (
                  PARTITION BY a.tenant, a.seq ORDER BY b.seq DESC) AS rn
                FROM $$t a ${if (outer) "LEFT JOIN" else "JOIN"} $$u b
                  ON a.tenant = b.tenant AND b.seq ${if (strict) "<" else "<="} a.seq$band
              ) WHERE rn = 1""",
          // strictly before, yet within 0 of the probe: nothing matches
          empty = !outer && strict && tol == 0)
      }
    } finally spark.conf.unset("spark.graft.corange.rowsPerLeg")

    // the diff: the statement reads whole snapshots, the library only the
    // files the two do not share, so their leg counts differ
    val older = new KVIndex(store, store.loadVersion("t", first))
    val d = older.diff(t)
    val q = spark.sql(
      s"""SELECT tenant, seq, old_amount, new_amount, change FROM (
            SELECT tenant, seq, o.amount AS old_amount, n.amount AS new_amount,
              CASE WHEN o.__old IS NULL THEN 'added' WHEN n.__new IS NULL THEN 'removed'
                   WHEN NOT (o.amount <=> n.amount) THEN 'changed' END AS change
            FROM (SELECT tenant, seq, amount, true AS __old FROM $Cat.t VERSION AS OF $first) o
            FULL JOIN (SELECT tenant, seq, amount, true AS __new FROM $Cat.t) n
              USING (tenant, seq)) WHERE change IS NOT NULL""")
    val diffRows = d.collect().map(_.toString).sorted.toSeq
    assert(diffRows.size == 50 && diffRows == q.collect().map(_.toString).sorted.toSeq)
    for (df <- Seq(d, q)) {
      val (execs, exchanges, _) = zipShape(df)
      assert(execs == Seq("zip FullOuter 2") && exchanges == 0,
        s"diff must plan the coalesced zip join:\n${df.queryExecution.executedPlan}")
    }
    // nothing changed: no file to read and no Spark job
    val (same, jobs) = jobsOf(t.diff(t).collect())
    assert(same.isEmpty && jobs == 0, s"self-diff ran $jobs jobs")
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
