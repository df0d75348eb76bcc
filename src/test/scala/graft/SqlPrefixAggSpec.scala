package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.core._

/** Exchange-free GROUP BY / Window PARTITION BY on a leading key prefix
  * (`GraftPrefixCluster`): the snapshot re-plans as prefix-grain legs
  * claiming `RangePartitioning(prefix)`, and the STOCK EnsureRequirements
  * elides the aggregate/window hash exchange. Content parity against the
  * raw parquet tables is the correctness contract; zero exchanges, the
  * decline rules, and join safety above the claim are the scale contract.
  */
class SqlPrefixAggSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  private def globalSorts(df: org.apache.spark.sql.DataFrame): Int =
    """Sort \[[^\]]*\], true""".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  // (g, k) keyed snapshot, ~70 rows per g over 64-row files: prefix
  // groups straddle file boundaries, so prefix-grain leg cutting is
  // genuinely exercised (a file-grain cut would split groups)
  private lazy val (rows, cat) = {
    val st = new FsSnapshotStore(tmpDir("graft-pfxagg") + "/store", spark)
    val rs = (1L to 3500L).filter(_ % 5 != 0).map(i => (i / 70, i, i % 13))
    KVIndex.bootstrap(st, "pa", rs.toDF("g", "k", "v").repartition(1),
      Seq("g", "k"), maxRowsPerFile = 64).toOption.get
    spark.conf.set("spark.sql.catalog.pfxc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pfxc.root", st.root)
    (rs, "pfxc")
  }

  test("GROUP BY the leading key runs exchange-free with exact content") {
    val q = spark.sql(
      s"SELECT g, count(*) AS n, sum(v) AS sv, max(k) AS mk FROM $cat.pa GROUP BY g")
    assert(exchanges(q) == 0,
      s"prefix GROUP BY must plan no exchange:\n${q.queryExecution.executedPlan}")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, rs.map(_._3).sum, rs.map(_._2).max) }.toSeq.sortBy(_._1)
    assert(got == want, "prefix GROUP BY content mismatch")
  }

  test("ORDER BY above the prefix aggregate elides its exchange too") {
    val q = spark.sql(
      s"SELECT g, count(*) AS n FROM $cat.pa GROUP BY g ORDER BY g")
    // the Sort NODE stays (aggregate output order is unclaimed) but runs
    // per partition with zero exchanges: the claim satisfies the sort's
    // OrderedDistribution — partitions already ascend by g — so the only
    // remaining work is a local sort of each leg's group rows
    assert(exchanges(q) == 0,
      s"GROUP BY + ORDER BY on the prefix must plan no exchange:\n${q.queryExecution.executedPlan}")
    assert(q.select("g").as[Long].collect().toSeq == rows.map(_._1).distinct.sorted)
  }

  test("full-key grouping and extra grouping columns stay exchange-free") {
    val full = spark.sql(s"SELECT g, k, sum(v) AS sv FROM $cat.pa GROUP BY g, k")
    assert(exchanges(full) == 0, "full-key grouping must plan no exchange")
    assert(full.count() == rows.size)
    // an extra NON-key grouping column only narrows groups within a
    // prefix partition — still exchange-free
    val extra = spark.sql(s"SELECT g, v, count(*) AS n FROM $cat.pa GROUP BY g, v")
    assert(exchanges(extra) == 0, "prefix + value grouping must plan no exchange")
    val gotE = extra.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val wantE = rows.groupBy(r => (r._1, r._3)).map { case (kk, rs) => kk -> rs.size.toLong }
    assert(gotE == wantE)
  }

  test("a WHERE prunes files and the aggregate stays exchange-free") {
    val q = spark.sql(
      s"SELECT g, count(*) AS n FROM $cat.pa WHERE g >= 20 AND g < 30 GROUP BY g")
    assert(exchanges(q) == 0)
    assert(q.inputFiles.length < spark.sql(
      s"SELECT g, count(*) AS n FROM $cat.pa GROUP BY g").inputFiles.length,
      "the pushed bound must keep pruning the legs' files")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = rows.filter(r => r._1 >= 20 && r._1 < 30).groupBy(_._1)
      .map { case (g, rs) => (g, rs.size.toLong) }.toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("window PARTITION BY prefix ORDER BY key: no exchange, local sort only") {
    val q = spark.sql(
      s"""SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k) AS rn
          FROM $cat.pa""")
    val plan = q.queryExecution.executedPlan.toString
    assert(exchanges(q) == 0, s"prefix window must plan no exchange:\n$plan")
    // intra-leg order is NOT claimed (file packing order), so the window
    // keeps a LOCAL per-partition sort — but never a global one
    assert(globalSorts(q) == 0,
      s"the window's sort must stay partition-local:\n$plan")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(_._2).sorted.zipWithIndex.map { case (k, i) => (g, k, i + 1) } }.toSet
    assert(got.toSet == want, "window content mismatch")
  }

  test("two-column prefix grouping on a three-column key, conf-sized legs") {
    val st = new FsSnapshotStore(tmpDir("graft-pfxagg3") + "/store", spark)
    val rs = (0L until 900L).map(i => (i / 300, (i / 100) % 3, i, i % 7))
    KVIndex.bootstrap(st, "pa3", rs.toDF("g1", "g2", "k", "v").repartition(1),
      Seq("g1", "g2", "k"), maxRowsPerFile = 32).toOption.get
    spark.conf.set("spark.sql.catalog.pfxc3", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pfxc3.root", st.root)
    spark.conf.set("spark.graft.corange.rowsPerLeg", "128")
    try {
      val q = spark.sql(
        "SELECT g1, g2, count(*) AS n, sum(v) AS sv FROM pfxc3.pa3 GROUP BY g1, g2")
      assert(exchanges(q) == 0,
        s"two-column prefix grouping must plan no exchange:\n${q.queryExecution.executedPlan}")
      assert(q.rdd.getNumPartitions > 1, "conf-sized legs must split the snapshot")
      val got = q.collect().map(r =>
        ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
      val want = rs.groupBy(r => (r._1, r._2)).map { case (kk, g) =>
        kk -> (g.size.toLong, g.map(_._4).sum) }
      assert(got == want, "two-column prefix content mismatch")
    } finally spark.conf.set("spark.graft.corange.rowsPerLeg", "-1")
  }

  test("declines: non-key grouping shuffles; tail-key grouping shuffles") {
    val nv = spark.sql(s"SELECT v, count(*) AS n FROM $cat.pa GROUP BY v")
    assert(exchanges(nv) >= 1, "value-column grouping must keep its shuffle")
    assert(nv.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      rows.groupBy(_._3).map { case (v, rs) => v -> rs.size.toLong })
    // k alone is NOT a leading prefix (a k-group could split across legs
    // only if keys repeated — they don't — but the claim is structural)
    val tail = spark.sql(s"SELECT k, count(*) AS n FROM $cat.pa GROUP BY k")
    assert(exchanges(tail) >= 1, "tail-key grouping must keep its shuffle")
  }

  test("SELECT DISTINCT on key-prefix supersets runs exchange-free") {
    // DISTINCT lowers to Aggregate(all cols) — the full column set
    // contains the (g) and (g, k) prefixes, so the claim satisfies it
    val q = spark.sql(s"SELECT DISTINCT g, k, v FROM $cat.pa")
    assert(exchanges(q) == 0,
      s"DISTINCT over a prefix superset must plan no exchange:\n${q.queryExecution.executedPlan}")
    assert(q.count() == rows.size) // (g, k) unique => all rows distinct
    val qd = spark.sql(s"SELECT DISTINCT g FROM $cat.pa")
    assert(exchanges(qd) == 0)
    assert(qd.count() == rows.map(_._1).distinct.size)
  }

  test("randomized prefix-aggregate differential vs the disabled-rule twin — seed 67") {
    val rnd = new scala.util.Random(67)
    for (round <- 1 to 10) {
      // random grouping set over {g, k, v} (nonempty), random aggregates
      val groupCols = Seq("g", "k", "v").filter(_ => rnd.nextBoolean()) match {
        case Seq() => Seq("g")
        case gs => gs
      }
      val aggs = Seq(
        "count(*) AS n",
        "sum(v) AS sv",
        "min(k) AS mn",
        "max(k) AS mx").filter(_ => rnd.nextBoolean()) match {
        case Seq() => Seq("count(*) AS n")
        case as => as
      }
      val sqlText = s"SELECT ${groupCols.mkString(", ")}, ${aggs.mkString(", ")} " +
        s"FROM $cat.pa GROUP BY ${groupCols.mkString(", ")}"
      val rpl = 64 << rnd.nextInt(4)
      spark.conf.set("spark.graft.corange.rowsPerLeg", rpl.toString)
      try {
        val got = spark.sql(sqlText)
        // leading prefix present => exchange-free; else stock shape
        if (groupCols.contains("g"))
          assert(exchanges(got) == 0, s"round $round [$sqlText] must elide")
        else assert(exchanges(got) >= 1, s"round $round [$sqlText] must shuffle")
        val gotRows = got.collect().map(_.toSeq.map(String.valueOf))
          .sortBy(_.mkString("|")).toSeq
        spark.conf.set("spark.graft.sql.prefixCluster", "false")
        val want = try spark.sql(sqlText).collect().map(_.toSeq.map(String.valueOf))
          .sortBy(_.mkString("|")).toSeq
        finally spark.conf.set("spark.graft.sql.prefixCluster", "true")
        assert(gotRows == want, s"round $round [$sqlText] content mismatch " +
          s"(${gotRows.length} vs ${want.length} rows, rowsPerLeg=$rpl)")
      } finally spark.conf.set("spark.graft.corange.rowsPerLeg", "-1")
    }
  }

  // ~6-group rollup whose groups span WHOLE files (500 rows per g over
  // 64-row files): the manifest signal is trustworthy (wideFrac small,
  // groupsLB near-exact) and says stock partial aggregation wins — the
  // r18 cardinality-aware decline (VERDICT r17 #1)
  private lazy val (loRows, loCat) = {
    val st = new FsSnapshotStore(tmpDir("graft-pfxlo") + "/store", spark)
    val rs = (1L to 3000L).map(i => (i / 500, i, i % 11))
    KVIndex.bootstrap(st, "lo", rs.toDF("g", "k", "v").repartition(1),
      Seq("g", "k"), maxRowsPerFile = 64).toOption.get
    spark.conf.set("spark.sql.catalog.pfxlo", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pfxlo.root", st.root)
    (rs, "pfxlo")
  }

  test("low-cardinality rollup DECLINES to the stock partial-agg plan") {
    val q = spark.sql(s"SELECT g, count(*) AS n, sum(v) AS sv FROM $loCat.lo GROUP BY g")
    // manifest says ~7 groups over ~47 files: the stock shuffle is a
    // sliver of the stream, the rewrite's fence cannot repay it — the
    // rule must stand aside and leave the stock shuffled aggregate
    assert(exchanges(q) >= 1,
      s"low-cardinality rollup must keep the stock plan:\n${q.queryExecution.executedPlan}")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = loRows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, rs.map(_._3).sum) }.toSeq.sortBy(_._1)
    assert(got == want, "declined rollup content mismatch")
  }

  test("big-file low-cardinality declines via the integral span upper bound") {
    // files BIGGER than groups (1024-row files over 500-row groups):
    // every file straddles groups, so the bound-transition LOWER bound is
    // untrusted (wideFrac 1) — but the leading column is integral, and
    // Σ min(rows, span+1) proves the group count small from the manifest
    // alone; the decline must still fire (the 50k-of-5M probe shape)
    val st = new FsSnapshotStore(tmpDir("graft-pfxspan") + "/store", spark)
    val rs = (1L to 3000L).map(i => (i / 500, i, i % 11))
    KVIndex.bootstrap(st, "sp", rs.toDF("g", "k", "v").repartition(1),
      Seq("g", "k"), maxRowsPerFile = 1024).toOption.get
    spark.conf.set("spark.sql.catalog.pfxsp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pfxsp.root", st.root)
    val q = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv FROM pfxsp.sp GROUP BY g")
    assert(exchanges(q) >= 1,
      s"span bound must decline the big-file rollup:\n${q.queryExecution.executedPlan}")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = rs.groupBy(_._1).map { case (g, rows) =>
      (g, rows.size.toLong, rows.map(_._3).sum) }.toSeq.sortBy(_._1)
    assert(got == want, "span-declined rollup content mismatch")
  }

  test("declineShare=0 restores the unconditional r17 rewrite") {
    spark.conf.set("spark.graft.sql.prefixCluster.declineShare", "0")
    try {
      val q = spark.sql(s"SELECT g, count(*) AS n FROM $loCat.lo GROUP BY g")
      assert(exchanges(q) == 0,
        s"declineShare=0 must always rewrite:\n${q.queryExecution.executedPlan}")
      assert(q.count() == loRows.map(_._1).distinct.size)
    } finally spark.conf.unset("spark.graft.sql.prefixCluster.declineShare")
  }

  test("windows are NEVER declined: low-cardinality prefix window still rewrites") {
    // stock window plans have no partial aggregation — the deleted
    // exchange is always the full row stream, so the decline is
    // aggregate-only by design
    val q = spark.sql(
      s"""SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k) AS rn
          FROM $loCat.lo""")
    assert(exchanges(q) == 0,
      s"low-cardinality prefix window must still rewrite:\n${q.queryExecution.executedPlan}")
    assert(q.count() == loRows.size)
  }

  test("high-cardinality grouping is untouched by the decline (wide-file guard)") {
    // the MAIN fixture's files nearly all straddle groups (56-row groups
    // over 64-row files): the manifest bound is uninformative, cardinality
    // is plausibly high, and the rewrite keeps its win
    val q = spark.sql(s"SELECT g, count(*) AS n FROM $cat.pa GROUP BY g")
    assert(exchanges(q) == 0,
      "wide-file layouts must keep the exchange-free rewrite")
  }

  test("declineShare rejects junk and out-of-range values") {
    for (bad <- Seq("nope", "-0.5", "1.5")) {
      spark.conf.set("spark.graft.sql.prefixCluster.declineShare", bad)
      try {
        val e = intercept[Exception] {
          spark.sql(s"SELECT g, count(*) AS n FROM $loCat.lo GROUP BY g")
            .queryExecution.executedPlan
        }
        assert(e.getMessage.contains("declineShare"), s"value '$bad' must fail loudly")
      } finally spark.conf.unset("spark.graft.sql.prefixCluster.declineShare")
    }
  }

  test("VIEW path: GROUP BY the leading key over a registered view runs exchange-free") {
    // a registered view is the catalog table pinned at its snapshot, so
    // the prefix-cluster rule matches the VIEW's scan relation and cuts
    // its legs at prefix grain exactly like a catalog scan's
    val st = new FsSnapshotStore(tmpDir("graft-pfxview") + "/store", spark)
    val rs = (1L to 3500L).filter(_ % 5 != 0).map(i => (i / 70, i, i % 13))
    val ix = KVIndex.bootstrap(st, "pv", rs.toDF("g", "k", "v").repartition(1),
      Seq("g", "k"), maxRowsPerFile = 64).toOption.get
    ix.createOrReplaceView("pfx_view")
    val q = spark.sql(
      "SELECT g, count(*) AS n, sum(v) AS sv FROM pfx_view GROUP BY g")
    assert(exchanges(q) == 0,
      s"view-path prefix GROUP BY must plan no exchange:\n${q.queryExecution.executedPlan}")
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = rs.groupBy(_._1).map { case (g, xs) =>
      (g, xs.size.toLong, xs.map(_._3).sum) }.toSeq.sortBy(_._1)
    assert(got == want, "view-path prefix GROUP BY content mismatch")

    // a WHERE over the view replays above the legs — content stays exact
    val qw = spark.sql(
      "SELECT g, count(*) AS n FROM pfx_view WHERE v < 7 GROUP BY g")
    assert(exchanges(qw) == 0,
      s"filtered view-path aggregate must stay exchange-free:\n${qw.queryExecution.executedPlan}")
    val gotW = qw.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val wantW = rs.filter(_._3 < 7).groupBy(_._1)
      .map { case (g, xs) => (g, xs.size.toLong) }.toSeq.sortBy(_._1)
    assert(gotW == wantW, "filtered view-path content mismatch")

    // window over the view: the same elision, only a local sort remains
    val qwin = spark.sql(
      """SELECT g, k, row_number() OVER (PARTITION BY g ORDER BY k) AS rn
         FROM pfx_view""")
    assert(exchanges(qwin) == 0,
      s"view-path prefix window must plan no exchange:\n${qwin.queryExecution.executedPlan}")
    assert(globalSorts(qwin) == 0, "window sort must stay partition-local")
    val gotWin = qwin.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantWin = rs.groupBy(_._1).flatMap { case (g, xs) =>
      xs.map(_._2).sorted.zipWithIndex.map { case (k, i) => (g, k, i + 1) } }.toSet
    assert(gotWin == wantWin, "view-path window content mismatch")

    // non-key grouping over the view keeps its shuffle (decline intact)
    val nv = spark.sql("SELECT v, count(*) AS n FROM pfx_view GROUP BY v")
    assert(exchanges(nv) >= 1, "view-path non-key grouping must shuffle")

    // ORDER BY the key over the view still elides (the DeclareOrdered
    // claim survives column narrowing with its trimmed prefix) in the
    // Spark plan; below the driver bound it answers on the driver
    val qo = spark.sql("SELECT g, k FROM pfx_view ORDER BY g, k")
    val qoSpark = sparkPlanned(qo)
    assert(exchanges(qoSpark) == 0,
      s"view ORDER BY key must stay exchange-free:\n${qoSpark.queryExecution.executedPlan}")
    assert(qo.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      rs.map(x => (x._1, x._2)))
  }

  test("kill-switch: spark.graft.sql.prefixCluster=false restores the stock plan") {
    spark.conf.set("spark.graft.sql.prefixCluster", "false")
    try {
      val q = spark.sql(s"SELECT g, count(*) AS n FROM $cat.pa GROUP BY g")
      assert(exchanges(q) >= 1, "disabled rule must keep the stock shuffle")
      assert(q.count() == rows.map(_._1).distinct.size)
    } finally spark.conf.set("spark.graft.sql.prefixCluster", "true")
  }

  test("join safety: two prefix aggregates joined still plan their exchanges") {
    val q = spark.sql(
      s"""SELECT a.g, a.n, b.sv FROM
            (SELECT g, count(*) AS n FROM $cat.pa GROUP BY g) a
          JOIN (SELECT g, sum(v) AS sv FROM $cat.pa GROUP BY g) b ON a.g = b.g""")
    // RangeShuffleSpec is compatible with nothing: the join must replan
    // its own exchanges (or broadcast) rather than zip the two claims
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, rs.map(_._3).sum) }.toSeq.sortBy(_._1)
    assert(got == want, "joined aggregates content mismatch")
  }
}
