package graft

import org.apache.spark.sql.functions._

import graft.core._

/** SQL `ORDER BY <key prefix> LIMIT n` → manifest top-k
  * ([[graft.sources.GraftOrderedScan]]'s limit rung): the scan re-plans as
  * the file prefix covering the first n rows, so `LIMIT 10` reads ONE file
  * where the stock plan pays a TakeOrderedAndProject over every covering
  * file. Content parity with a full sort is the correctness contract; the
  * inputFiles bound and the strict declines (filters, pushed bounds,
  * non-key sorts) are the scale contract — at 100× snapshot size the file
  * count read stays ⌈n/rowsPerFile⌉. Files are counted on the Spark plan
  * ([[SparkSuite.sparkPlanned]]); the answers are checked at the default
  * budget, where these small snapshots answer on the driver.
  */
class SqlTopKSpec extends SparkSuite {
  import spark.implicits._

  // 4000 unique keys over a multi-file layout; every top-k set is
  // deterministic. File row counts come from the manifest (bootstrap
  // sizes files by byte estimate, not an exact row count).
  private lazy val (store, ix) = {
    val st = new FsSnapshotStore(tmpDir("graft-topk") + "/store", spark)
    val rows = (1L to 4000L).map(i => (i, s"v$i", i * 3)).toDF("k", "s", "x")
    val i = KVIndex.bootstrap(st, "tk", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(i.numFiles >= 4, "need a multi-file snapshot to observe the prefix cut")
    (st, i)
  }
  private def load() = spark.read.format("graft").option("root", store.root).load("tk")

  /** Files the manifest prefix needs to cover n rows in (reverse?) order. */
  private def expectFiles(n: Int, desc: Boolean): Int = {
    val sizes = ix.manifestFiles.map(_.rows)
    val seq = if (desc) sizes.reverse else sizes
    var cum = 0L; var c = 0
    seq.foreach { r => if (cum < n) { c += 1; cum += r } }
    c
  }

  test("ORDER BY key LIMIT n reads only the covering manifest prefix") {
    val q = load().orderBy("k").limit(10)
    assert(sparkPlanned(q).inputFiles.length == 1,
      s"LIMIT 10 must read ONE file, got ${sparkPlanned(q).inputFiles.length} of ${ix.numFiles}")
    assert(q.select("k").as[Long].collect().toSeq.sorted == (1L to 10L))

    // a limit spanning files takes exactly the covering prefix
    val n2 = (ix.manifestFiles.head.rows + 1).toInt
    val q2 = load().orderBy("k").limit(n2)
    assert(sparkPlanned(q2).inputFiles.length == expectFiles(n2, desc = false),
      s"LIMIT $n2 must read the exact covering prefix, got ${sparkPlanned(q2).inputFiles.length}")
    assert(q2.select("k").as[Long].collect().toSeq.sorted == (1L to n2))
  }

  test("DESC limit reads the TAIL file prefix (reverse stitch)") {
    val q = load().orderBy($"k".desc).limit(10)
    assert(sparkPlanned(q).inputFiles.length == 1,
      s"DESC LIMIT 10 must read the single tail file, got ${sparkPlanned(q).inputFiles.length}")
    assert(q.select("k").as[Long].collect().toSeq.sorted == (3991L to 4000L))
  }

  test("SQL text over the catalog surface gets the same file bound") {
    spark.conf.set("spark.sql.catalog.tkc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tkc.root", store.root)
    val q = spark.sql("SELECT k, x FROM tkc.tk ORDER BY k LIMIT 7")
    assert(sparkPlanned(q).inputFiles.length == 1,
      s"SQL LIMIT 7 must read one file, got ${sparkPlanned(q).inputFiles.length}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (1L to 7L).map(i => (i, i * 3)))
  }

  test("limit beyond the snapshot reads everything and returns everything") {
    val q = load().orderBy("k").limit(5000)
    assert(sparkPlanned(q).inputFiles.length == ix.numFiles)
    assert(q.count() == 4000L)
  }

  test("a non-key filter never trusts the file-prefix row counts") {
    // a NON-key predicate can drop prefix rows while later files still
    // hold survivors — the optimizer-time file-prefix cut would return
    // the wrong set. Since r19 this shape takes the grow-the-prefix EXEC
    // rung instead (plan-level inputFiles still lists every covering
    // file; execution pulls only what the survivor count needs)
    val q = load().filter($"x" % 6 === 0).orderBy("k").limit(10)
    assert(sparkPlanned(q).inputFiles.length > 1,
      "a filtered top-k must NOT trust the file-prefix row counts")
    assert(q.select("k").as[Long].collect().toSeq.sorted ==
      (1L to 20L).filter(k => (k * 3) % 6 == 0))
  }

  /** The grow-prefix node's per-query SQL metrics after an action ran
    * `df`; fails when the rung never planned (use [[planWithGrow]] for
    * decline probes).
    */
  private def growTelemetry(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val t = graft.plans.GrowPrefixTopKExec.telemetryOf(df)
    assert(t.size == 1, s"expected one grow-prefix node, got ${t.size}")
    t.head
  }
  private def planWithGrow(df: org.apache.spark.sql.DataFrame): Boolean =
    graft.plans.GrowPrefixTopKExec.telemetryOf(df).nonEmpty

  test("grow-the-prefix exec (r19): a selective filter reads far fewer partitions") {
    // dense survivors: the first doubling batch (1 partition — the
    // geometric cut's SINGLE-FILE first leg) already holds 10 — at ANY
    // snapshot size this reads one file
    // telemetry must be read from the FRAME THAT RAN (metrics are
    // per-execution node state now, not process globals)
    val q = load().filter($"x" % 6 === 0).orderBy("k").limit(10).select("k")
    assert(q.collect().map(_.getLong(0)).toSeq.sorted ==
      (1L to 20L).filter(k => (k * 3) % 6 == 0))
    val (scanned, total, _) = growTelemetry(q)
    // geometric legs: O(log files) children, strictly fewer than files
    // once the snapshot has a few — the PLAN stays narrow at any scale
    assert(total >= 3 && total < ix.numFiles,
      s"geometric cut of ${ix.numFiles} files, got $total legs")
    assert(scanned == 1, s"10 dense survivors live in leg 1, scanned $scanned")

    // sparse survivors (only keys past 3500 pass, a NON-key column
    // predicate): the loop grows through the legs but still stops as
    // soon as the page fills
    val q2 = load().filter($"x" > 10500L).filter($"x" % 2 === 0)
      .orderBy("k").limit(5).select("k")
    val got2 = q2.collect().map(_.getLong(0)).toSeq.sorted
    val want2 = (1L to 4000L).filter(k => k * 3 > 10500 && (k * 3) % 2 == 0).take(5)
    assert(got2 == want2)
    val (scanned2, total2, _) = growTelemetry(q2)
    assert(scanned2 > 1 && scanned2 <= total2,
      s"sparse survivors must grow: $scanned2")

    // SQL text over the catalog gets the same exec
    spark.conf.set("spark.sql.catalog.tkg", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tkg.root", store.root)
    val q3 = spark.sql("SELECT k FROM tkg.tk WHERE x % 6 = 0 ORDER BY k LIMIT 10")
    assert(q3.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filter(k => (k * 3) % 6 == 0))
    val (scanned3, _, _) = growTelemetry(q3)
    assert(scanned3 == 1, s"SQL text grow-prefix: scanned $scanned3")
  }

  test("grow-the-prefix worst case: zero survivors reads all legs exactly once") {
    // collect, not count: an aggregate above would EliminateSorts away
    // the ORDER BY and bypass the top-k shape entirely
    val q = load().filter($"x" < 0L).orderBy("k").limit(10)
    assert(q.collect().isEmpty)
    val (scanned, total, launches) = growTelemetry(q)
    assert(total >= 3 && total < ix.numFiles,
      s"geometric cut of ${ix.numFiles} files, got $total legs")
    assert(scanned == total, "zero survivors must exhaust the covering stitch")
    // doubling batches: ceil(log2(total)) + 1 launches, never a rescan
    // (the per-job transient cap never bites at this limit/leg count)
    val maxLaunches = 32 - Integer.numberOfLeadingZeros(math.max(1, total.toInt)) + 1
    assert(launches <= maxLaunches, s"$launches launches over $total legs")

    // key-range conjuncts still prune the covering set before the loop
    val q2 = load().filter($"k" >= 600L && $"k" < 700L && $"x" < 0L)
      .orderBy("k").limit(10)
    assert(q2.collect().isEmpty)
    val (_, total2, _) = growTelemetry(q2)
    assert(total2 < ix.numFiles,
      s"bounds must prune the covering legs, got $total2")
  }

  test("grow-the-prefix declines: kill-switch, LIMIT cap, computed-column predicates") {
    def viaGrow(df: => org.apache.spark.sql.DataFrame)(check: org.apache.spark.sql.DataFrame => Unit): Boolean = {
      val q = df; check(q); planWithGrow(q)
    }
    val expected = (1L to 20L).filter(k => (k * 3) % 6 == 0)
    // kill-switch off: stock full read, same rows
    spark.conf.set("spark.graft.sql.topk.growPrefix", "false")
    try assert(!viaGrow(load().filter($"x" % 6 === 0).orderBy("k").limit(10)) { q =>
      assert(q.select("k").as[Long].collect().toSeq.sorted == expected)
    }) finally spark.conf.unset("spark.graft.sql.topk.growPrefix")
    // a LIMIT over the driver-residency cap keeps the distributed plan
    spark.conf.set("spark.graft.sql.topk.growMaxRows", "5")
    try assert(!viaGrow(load().filter($"x" % 6 === 0).orderBy("k").limit(10)) { q =>
      assert(q.select("k").as[Long].collect().toSeq.sorted == expected)
    }) finally spark.conf.unset("spark.graft.sql.topk.growMaxRows")
    // a predicate on a COMPUTED column: CollapseProject normally inlines
    // the alias back onto scan attributes (so the rewrite fires and stays
    // correct — content is the contract); the reference guard in
    // growPrefixRelation is the safety net for any shape the optimizer
    // leaves un-inlined, where firing would build an unresolvable Filter
    val got = load().select($"k", ($"x" * 2).as("y"))
      .filter($"y" % 12 === 0).orderBy("k").limit(10)
      .select("k").as[Long].collect().toSeq.sorted
    assert(got == (1L to 20L).filter(k => (k * 6) % 12 == 0), got)
  }

  test("keyset pagination: WHERE k > last ORDER BY k LIMIT page reads ~one file") {
    // the 100 TB pagination shape: a LEADING-KEY range predicate rides
    // the prefix cut — boundary files are read but never counted toward
    // the page guarantee, and the exact predicate replays above
    var last = 0L
    var pages = 0
    while (last < 4000L) {
      val page = load().filter($"k" > last).orderBy("k").limit(100)
      val rows = page.select("k").as[Long].collect().sorted.toSeq
      assert(rows == (last + 1 to math.min(last + 100, 4000L)),
        s"page after $last mismatch")
      assert(sparkPlanned(page).inputFiles.length <= 2,
        s"a 100-row page must read at most 2 files (boundary + guarantee), " +
          s"got ${sparkPlanned(page).inputFiles.length} after k=$last")
      last = rows.last
      pages += 1
    }
    assert(pages == 40)

    // bounded range + DESC page
    val q2 = load().filter($"k" >= 600L && $"k" < 700L).orderBy($"k".desc).limit(10)
    assert(q2.select("k").as[Long].collect().toSeq.sorted == (690L to 699L))
    assert(sparkPlanned(q2).inputFiles.length <= 2,
      s"bounded DESC page must stay file-bounded, got ${sparkPlanned(q2).inputFiles.length}")

    // equality on the key: reads only the covering file(s)
    val q3 = load().filter($"k" === 2000L).orderBy("k").limit(5)
    assert(q3.select("k").as[Long].collect().toSeq == Seq(2000L))
    assert(sparkPlanned(q3).inputFiles.length <= 2)
  }

  test("VIEW path: ORDER BY key LIMIT n over a registered view reads the file prefix") {
    // a view is the catalog table pinned at its snapshot: the same
    // manifest top-k cut catalog scans get
    ix.createOrReplaceView("topk_view")
    val q = spark.sql("SELECT k, x FROM topk_view ORDER BY k LIMIT 10")
    assert(sparkPlanned(q).inputFiles.length == 1,
      s"view LIMIT 10 must read ONE file, got ${sparkPlanned(q).inputFiles.length} of ${ix.numFiles}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ==
      (1L to 10L).map(i => (i, i * 3)))

    // DESC tail page over the view
    val qd = spark.sql("SELECT k FROM topk_view ORDER BY k DESC LIMIT 10")
    assert(sparkPlanned(qd).inputFiles.length == 1,
      s"view DESC LIMIT 10 must read the tail file, got ${sparkPlanned(qd).inputFiles.length}")
    assert(qd.collect().map(_.getLong(0)).sorted.toSeq == (3991L to 4000L))

    // keyset page through the view (the WHERE replays above the stitch)
    val qp = spark.sql(
      "SELECT k FROM topk_view WHERE k > 1500 ORDER BY k LIMIT 100")
    assert(sparkPlanned(qp).inputFiles.length <= 2,
      s"view keyset page must stay file-bounded, got ${sparkPlanned(qp).inputFiles.length}")
    assert(qp.collect().map(_.getLong(0)).sorted.toSeq == (1501L to 1600L))

    // a non-key filter over the view takes the grow-the-prefix exec
    // (r19, the catalog path's rung): dense survivors finish in leg 1
    val qf = spark.sql(
      "SELECT k FROM topk_view WHERE x % 6 = 0 ORDER BY k LIMIT 10")
    assert(qf.collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 20L).filter(k => (k * 3) % 6 == 0))
    val (fScanned, _, _) = growTelemetry(qf)
    assert(fScanned == 1, s"view grow-prefix: scanned $fScanned")

    // mixed keyset + non-key residual over the view: bounds prune the
    // covering legs, the residual counts inside the node
    val qm = spark.sql(
      "SELECT k FROM topk_view WHERE k > 1500 AND x % 6 = 0 ORDER BY k LIMIT 10")
    assert(qm.collect().map(_.getLong(0)).sorted.toSeq ==
      (1501L to 1520L).filter(k => (k * 3) % 6 == 0))
    // bounds prune the covering set to a handful of geometric legs (3-4,
    // depending on how far the prune marker fired before this rule in
    // the shared session's rule order); the doubling loop may pull the
    // zero-survivor BOUNDARY leg (keys <= 1500) plus the first survivor
    // wave — never more than 3 legs either way
    val (mScanned, mTotal, _) = growTelemetry(qm)
    assert(mScanned >= 1 && mTotal > 0 && mScanned <= 3,
      s"view keyset+residual grow: scanned $mScanned of $mTotal")

    // zero survivors over the view: exhausts the (bounds-pruned)
    // covering legs exactly once and returns empty
    val qz = spark.sql(
      "SELECT k FROM topk_view WHERE x < 0 ORDER BY k LIMIT 10")
    assert(qz.collect().isEmpty)
    val (zScanned, zTotal, _) = growTelemetry(qz)
    assert(zScanned == zTotal)
  }

  test("composite bounds prune the grow covering set beyond the lead-only cut (r20)") {
    // composite key (g, k): g splits the snapshot in two, so a lead-only
    // prune for g = 1 keeps ~half the files — a second-key bound near the
    // END of g=1's range must drop boundary files the lead-only cut keeps
    // (growCoveringStitch compares full tuples against per-file min/max)
    val st2 = new FsSnapshotStore(tmpDir("graft-topk-comp") + "/store", spark)
    val rows = (1L to 4000L).map(i => (if (i <= 2000L) 1L else 2L, i, i * 3))
      .toDF("g", "k", "x")
    val cix = KVIndex.bootstrap(st2, "ck", rows, Seq("g", "k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(cix.numFiles >= 6, "need a multi-file snapshot per group")
    def loadC() = spark.read.format("graft").option("root", st2.root).load("ck")
    def q(withSecond: Boolean) = {
      var df = loadC().filter($"g" === 1L)
      if (withSecond) df = df.filter($"k" >= 1900L)
      df.filter($"x" % 6 === 0).orderBy("g", "k").limit(5)
    }
    val lead = q(withSecond = false)
    val comp = q(withSecond = true)
    // contents first: the composite query's rows vs the model
    assert(comp.collect().map(r => r.getLong(1)).sorted.toSeq ==
      (1900L to 2000L).filter(k => (k * 3) % 6 == 0).take(5))
    assert(lead.collect().map(r => r.getLong(1)).sorted.toSeq ==
      (1L to 2000L).filter(k => (k * 3) % 6 == 0).take(5))
    val (_, leadTotal, _) = growTelemetry(lead)
    val (_, compTotal, _) = growTelemetry(comp)
    assert(compTotal < leadTotal,
      s"composite bound must prune below the lead-only covering cut: " +
        s"$compTotal vs $leadTotal legs")
    // DESC twin: the upper tuple (g=1) with a lower second-key bound still
    // prunes the front files of g=1
    val qd = loadC().filter($"g" === 1L && $"k" >= 1900L && $"x" % 6 === 0)
      .orderBy($"g".desc, $"k".desc).limit(5)
    assert(qd.collect().map(_.getLong(1)).sorted.toSeq ==
      (1900L to 2000L).filter(k => (k * 3) % 6 == 0).takeRight(5))
    val (_, descTotal, _) = growTelemetry(qd)
    assert(descTotal < leadTotal,
      s"DESC composite bound must prune too: $descTotal vs $leadTotal")
  }

  test("declines: non-key and mixed-direction sorts keep the stock plan") {
    val q = load().orderBy("x").limit(5)
    assert(q.select("x").as[Long].collect().toSeq.sorted ==
      Seq(3L, 6L, 9L, 12L, 15L))
    val q2 = load().orderBy($"k".asc, $"x".desc).limit(5)
    assert(q2.select("k").as[Long].collect().toSeq.sorted == (1L to 5L))
  }

  test("randomized FILTERED top-k differential, catalog and view paths — seed 43") {
    // the r18 near-miss class: a predicate the prefix cut cannot account
    // for must never be dropped by the rewrite (whether it declines or
    // rides along). Random key ranges, non-key filters, directions and
    // paths vs a driver model.
    val rnd = new scala.util.Random(43)
    ix.createOrReplaceView("topk_fuzz")
    val all = (1L to 4000L).map(i => (i, i * 3))
    for (round <- 1 to 12) {
      val n = 1 + rnd.nextInt(800)
      val desc = rnd.nextBoolean()
      val loB = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(4000)) else None
      val hiB = if (rnd.nextBoolean()) Some(1L + rnd.nextInt(4000)) else None
      val nonKey = rnd.nextInt(3) == 0
      val viaView = rnd.nextBoolean()
      var df = if (viaView) spark.table("topk_fuzz").select("k", "x") else load().select("k", "x")
      loB.foreach(l => df = df.filter($"k" >= l))
      hiB.foreach(h => df = df.filter($"k" < h))
      if (nonKey) df = df.filter($"x" % 9 === 0)
      val q = df.orderBy(if (desc) $"k".desc else $"k".asc).limit(n)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      var model = all
      loB.foreach(l => model = model.filter(_._1 >= l))
      hiB.foreach(h => model = model.filter(_._1 < h))
      if (nonKey) model = model.filter(t => (t._2 % 9) == 0)
      val want = (if (desc) model.reverse else model).take(n).sortBy(_._1)
      assert(got == want,
        s"round $round: n=$n desc=$desc lo=$loB hi=$hiB nonKey=$nonKey view=$viaView " +
          s"(${got.length} vs ${want.length} rows)")
    }
  }

  test("randomized top-k differential vs the full sort — seed 41") {
    val rnd = new scala.util.Random(41)
    for (round <- 1 to 8) {
      val n = 1 + rnd.nextInt(1500)
      val desc = rnd.nextBoolean()
      val ord = if (desc) $"k".desc else $"k".asc
      val got = load().orderBy(ord).limit(n).select("k", "x")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val all = (1L to 4000L).map(i => (i, i * 3))
      val want = (if (desc) all.reverse else all).take(n).sortBy(_._1)
      assert(got == want, s"round $round: n=$n desc=$desc mismatch")
      val files = sparkPlanned(load().orderBy(ord).limit(n)).inputFiles.length
      assert(files == expectFiles(n, desc),
        s"round $round: n=$n desc=$desc must read the exact prefix, got $files")
    }
  }
}
