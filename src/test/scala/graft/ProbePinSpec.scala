package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core._

/** The probe pin contract and the probe paths' job counts.
  *
  * The streaming enrichers persist each micro-batch before handing it to
  * [[KVIndex.probeJoin]] / [[KVIndex.asOfProbe]]: the bounds pass, the
  * ≥256-probe bloom pass and the routing pass must then all read the
  * cache, so the probe frame's source runs exactly once (a counting
  * accumulator in the source proves it), and the result equals the stock
  * join. The job counts per call — API and SQL probe paths alike — are
  * pinned: probe routing is one shared path, and it must not add or drop
  * a job on any of them.
  */
class ProbePinSpec extends SparkSuite {
  import spark.implicits._

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

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def withoutBroadcast[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // 400 keys × 3 timestamps over ~19 files, keyed (k, ts)
  private lazy val (root, ix): (String, KVIndex) = {
    val st = new FsSnapshotStore(s"${tmpDir("graft-pin")}/store", spark)
    val snap = (1L to 400L).flatMap(k => Seq(0L, 10L, 20L).map(ts => (k, ts, k * 100 + ts)))
    val ix = KVIndex.bootstrap(st, "pin", snap.toDF("k", "ts", "rv").repartition(1),
      Seq("k", "ts"), maxRowsPerFile = 64).fold(e => fail(e.message), identity)
    (st.root, ix)
  }

  /** `n` probes (k, pts, lv), some beyond the snapshot's keys; every row
    * the source produces ticks `acc` once.
    */
  private def probes(n: Int, acc: org.apache.spark.util.LongAccumulator): DataFrame = {
    val tick = udf { (k: Long) => acc.add(1); k }
    spark.range(0, n, 1, 4).select(
      (col("id") * 7 % 450 + 1).as("k"), (col("id") % 25).as("pts"),
      concat(lit("p"), col("id").cast("string")).as("lv"))
      .select(tick(col("k")).as("k"), col("pts"), col("lv"))
  }

  private def stockProbeJoin(p: DataFrame): DataFrame =
    p.join(ix.df.select("k", "ts", "rv"), Seq("k"))

  private def stockAsOf(p: DataFrame): DataFrame = {
    val s = ix.df.select(col("k").as("sk"), col("ts").as("asof_ts"), col("rv"))
    p.join(s, p("k") === s("sk") && s("asof_ts") <= p("pts"), "left_outer")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lv").orderBy(col("asof_ts").desc_nulls_last)))
      .filter(col("rn") === 1).select("k", "pts", "lv", "asof_ts", "rv")
  }

  private val calls: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("probeJoin", p => ix.probeJoin(p, Seq("k")), stockProbeJoin),
    ("asOfProbe", p => ix.asOfProbe(p, Seq("k"), "pts", joinType = "left_outer"), stockAsOf))

  /** jobs per call, persist through collect: the bounds job (which also
    * fills the cache), the bloom job at 300 probes, and the result's jobs
    */
  private val apiJobs = Map(
    "probeJoin@10" -> 4, "probeJoin@300" -> 6,
    "asOfProbe@10" -> 4, "asOfProbe@300" -> 6)

  test("a persisted probe frame runs its source once; results equal the stock join") {
    assert(ix.count == 1200L) // the fixture's build jobs stay out of the counts
    val measured = for ((name, call, stock) <- calls; n <- Seq(10, 300)) yield {
      val acc = spark.sparkContext.longAccumulator(s"pin-$name-$n")
      val pinned = probes(n, acc).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        assert(acc.value == 0L, "persist alone must not run the source")
        val (got, jobs) = jobsOf(rows(call(pinned)))
        assert(acc.value == n.toLong,
          s"$name@$n: the bounds, bloom and routing passes must read the cache " +
            s"(source ran for ${acc.value} rows, expected $n)")
        assert(got == rows(stock(pinned)), s"$name@$n: result differs from the stock join")
        assert(acc.value == n.toLong, s"$name@$n: the cache must serve every later read")
        s"$name@$n" -> jobs
      } finally { pinned.unpersist(blocking = true); () }
    }
    assert(measured.toMap == apiJobs, "Spark jobs per probe call")
  }

  /** jobs per statement, planning and execution */
  private val sqlJobs = Map(
    "sql_probe_eager" -> 3, "sql_probe_lazy" -> 1,
    "sql_asof_probe" -> 5, "merge_probe" -> 16)

  test("the SQL probe rewrites and the MERGE probe path keep their job counts") {
    val cat = "gpin"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (1L to 60L).map(i => (i * 3, s"f$i")).toDF("k", "fv").createOrReplaceTempView("pin_facts")
    (1L to 60L).map(i => (i * 5, i % 25)).toDF("k", "t").createOrReplaceTempView("pin_events")
    ix.df.createOrReplaceTempView("pin_stock")
    val probeSql = s"SELECT f.k, f.fv, d.ts, d.rv FROM pin_facts f JOIN $cat.pin d ON f.k = d.k"
    val asOfSql =
      s"""SELECT k, pts, asof_ts, rv FROM (
            SELECT p.k, p.pts, r.ts AS asof_ts, r.rv,
                   row_number() OVER (PARTITION BY p.k ORDER BY r.ts DESC) AS rn
            FROM (SELECT k, max(t) AS pts FROM pin_events GROUP BY k) p
            LEFT JOIN $cat.pin r ON p.k = r.k AND r.ts <= p.pts
          ) WHERE rn = 1"""
    val measured = withoutBroadcast {
      def eager[A](v: String)(f: => A): A = {
        spark.conf.set("spark.graft.probe.sqlEagerBounds", v)
        try f finally spark.conf.unset("spark.graft.probe.sqlEagerBounds")
      }
      val stockProbe = rows(spark.sql(probeSql.replace(s"$cat.pin", "pin_stock")))
      Map(
        "sql_probe_eager" -> eager("true")(jobsOf(rows(spark.sql(probeSql)))),
        "sql_probe_lazy" -> eager("false")(jobsOf(rows(spark.sql(probeSql)))),
        "sql_asof_probe" -> jobsOf(rows(spark.sql(asOfSql))),
        "merge_probe" -> {
          // private copies: the MERGE commits. The count is the Spark
          // commit's (budget 0); below the bound the commit runs on the
          // driver, and both tiers must merge to the same rows
          Seq((3L, 20L, -1L), (9999L, 0L, 7L)).toDF("k", "ts", "rv")
            .createOrReplaceTempView("pin_src")
          Seq("pin_merge", "pin_merge_local").foreach(ix.copyTo(_).fold(e => fail(e.message), identity))
          def merge(t: String) = {
            val r = spark.sql(
              s"""MERGE INTO $cat.$t t USING pin_src s ON t.k = s.k AND t.ts = s.ts
                 |WHEN MATCHED THEN UPDATE SET rv = s.rv
                 |WHEN NOT MATCHED THEN INSERT (k, ts, rv) VALUES (s.k, s.ts, s.rv)
                 |""".stripMargin)
            assert(graft.sources.GraftDml.lastMergeJoinPath == "probe")
            r
          }
          val r = jobsOf(LocalScan.withBudget(0L)(merge("pin_merge")))
          merge("pin_merge_local")
          def merged(t: String) = rows(spark.table(s"$cat.$t").select("k", "ts", "rv"))
          assert(merged("pin_merge") == merged("pin_merge_local"))
          assert(Seq("3|20|-1", "9999|0|7").forall(merged("pin_merge_local").contains))
          (Seq.empty[String], r._2)
        }
      ).map { case (k, (got, jobs)) =>
        if (k.startsWith("sql_probe")) assert(got == stockProbe, s"$k: result differs")
        k -> jobs
      }
    }
    assert(measured == sqlJobs, "Spark jobs per SQL statement")
  }
}
