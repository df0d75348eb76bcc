package graft

import org.apache.spark.sql.functions._
import graft.core._

/** The sort-exchange-free ordered read surface of [[KVIndex]]
  * (`inOrdered` / `headOrdered` / `pullIterator`) must agree with the
  * declarative [[OrderedTable]] scans in rows AND order — on the normal
  * disjoint-file layout (where the fast path must also plan NO shuffle
  * exchange, the flat-layout analogue of the reference's free in-order tree
  * walk, reference `Index.scala:583-664`) and on an overlapping-file
  * manifest (where every entry point must take the sorted fallback).
  *
  * Also pins the temporal open cache: lookups are fingerprint-validated
  * against the history log, so a writer in ANOTHER store instance (= another
  * process on a shared filesystem) is observed at the next lookup — the
  * cache can never serve a stale manifest.
  */
class OrderedReadsSpec extends SparkSuite {
  import spark.implicits._

  private def kv(rows: Seq[(String, String)]) = rows.toDF("k", "v")

  private def boot(store: SnapshotStore, id: String, keys: Seq[Int]): KVIndex =
    KVIndex.bootstrap(store, id, kv(keys.map(i => (f"k$i%04d", s"v$i"))),
      Seq("k"), maxRowsPerFile = 32).fold(e => fail(e.message), identity)

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("k", "v").collect().map(r => (r.getString(0), r.getString(1))).toSeq

  private def iterPairs(it: Iterator[org.apache.spark.sql.Row]): Seq[(String, String)] =
    it.map(r => (r.getAs[String]("k"), r.getAs[String]("v"))).toSeq

  test("disjoint layout: inOrdered/headOrdered/pullIterator agree with OrderedTable, no Exchange") {
    val store = new FsSnapshotStore(tmpDir("graft-ord"), spark)
    val ix = boot(store, "ord", 1 to 100)
    assert(ix.numFiles >= 3, "need a multi-file snapshot to exercise stitching")
    assert(ix.manifest.filesDisjointOrdered)
    val table = ix.table

    // S1/S2 parity, rows AND order
    assert(pairs(ix.inOrdered()) == pairs(table.inOrder()))
    assert(pairs(ix.inOrdered(reverse = true)) == pairs(table.reverseScan()))

    // the whole point: no shuffle exchange anywhere in the fast-path plan
    val plan = ix.inOrdered().queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected exchange-free plan, got:\n$plan")

    // S3 parity — n inside the first file, spanning several, and > table
    for (n <- Seq(5, 50, 1000)) {
      assert(pairs(ix.headOrdered(n)) == pairs(table.head(n)), s"head($n)")
      assert(pairs(ix.headOrdered(n, reverse = true)) == pairs(table.tail(n)), s"tail($n)")
    }

    // P4/P5: one-file successor/predecessor — parity incl. file boundaries,
    // absent keys, and past-the-end terms
    for (k <- Seq("k0001", "k0032", "k0033", "k0050", "k0050x", "k0099", "k0100", "k0000")) {
      assert(pairs(ix.nextKey(Seq[Any](k))) == pairs(table.nextKey(Seq[Any](k))), s"nextKey($k)")
      assert(pairs(ix.previousKey(Seq[Any](k))) == pairs(table.previousKey(Seq[Any](k))), s"previousKey($k)")
    }

    // pull-iterator parity: plain, predicate, seek resume, reverse seek
    assert(iterPairs(ix.pullIterator()) == iterPairs(table.pullIterator()))
    val pred = col("v").endsWith("7")
    assert(iterPairs(ix.pullIterator(pred)) == iterPairs(table.pullIterator(pred)))
    val seek = Some(Seq[Any]("k0042"))
    assert(iterPairs(ix.pullIterator(seek = seek)) ==
      iterPairs(table.pullIterator(seek = seek)))
    assert(iterPairs(ix.pullIterator(seek = seek, reverse = true)) ==
      iterPairs(table.pullIterator(seek = seek, reverse = true)))
    // early stop computes only a prefix and agrees with the table's order
    assert(iterPairs(ix.pullIterator().take(7)) ==
      iterPairs(table.pullIterator()).take(7))
  }

  test("fragmented manifest: orderedUnion batches files into legs — bounded plan leaves, order intact") {
    val store = new FsSnapshotStore(tmpDir("graft-frag"), spark)
    var ix = KVIndex.bootstrap(store, "frag",
      kv((0 until 50).map(i => (f"a$i%04d", s"v$i"))), Seq("k"))
      .fold(e => fail(e.message), identity)
    // 12 append commits, each one small out-of-range file — the long-lived
    // ingest fragmentation shape
    for (b <- 1 to 12) {
      val rows = kv((0 until 50).map(i => (f"b$b%02d$i%04d", s"w$i")))
      ix = new KVIndex(store, ix.execute(Seq(Command.Insert(rows))).orThrow)
    }
    assert(ix.numFiles >= 13, s"need a fragmented snapshot, got ${ix.numFiles} files")
    val df = ix.inOrdered()
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size <= 2,
      s"${ix.numFiles} small files must batch into O(rows/maxRowsPerFile) legs, " +
        s"got ${scans.size} scan leaves")
    // rows AND order still exact, still exchange-free
    assert(pairs(df) == pairs(ix.table.inOrder()))
    assert(pairs(ix.inOrdered(reverse = true)) == pairs(ix.table.reverseScan()))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    // one TASK per leg: Spark 4.1's UnionExec fuses same-partitioning
    // children into a single serial task unless each leg breaks the
    // fusion (UnfuseUnion) — partition count, not just plan shape,
    // carries the stitch's scan parallelism
    assert(df.rdd.getNumPartitions == scans.size,
      s"stitch must run one task per leg: ${df.rdd.getNumPartitions} " +
        s"partitions for ${scans.size} legs")
    // pruned stitched reads (range) agree too
    assert(pairs(ix.range(Seq("b01"), Seq("b03"), incFrom = true, incTo = false)) ==
      pairs(ix.table.range(Seq("b01"), Seq("b03"), incFrom = true, incTo = false)))
  }

  test("getAll over a huge key batch bloom-prefilters the scan side, result unchanged") {
    val store = new FsSnapshotStore(tmpDir("graft-getall-bloom"), spark)
    val ix = boot(store, "gab", 1 to 3000)
    val hit = (1 to 3000 by 7).map(i => Seq[Any](f"k$i%04d"))
    val miss = Seq(Seq[Any]("zz999"), Seq[Any]("k0000x"))
    val keys = (hit ++ miss)
    assert(keys.size >= 256, "test must cross the bloom threshold")
    // the Spark path (this snapshot is small enough for the driver-local
    // tier, which answers the same keys without a plan)
    val res = LocalScan.withBudget(0L)(ix.getAll(keys))
    assert(res.success)
    val got = pairs(res.found)
    assert(got.map(_._1).sorted == hit.map(_.head.toString).sorted)
    // the membership predicate sits in the scan stage, and no exchange
    // feeds it (the prefilter must not shuffle the corpus side)
    val plan = res.found.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"expected bloom predicate in:\n$plan")
    // small batches skip the sketch job entirely
    val small = LocalScan.withBudget(0L)(ix.getAll(hit.take(10)))
    assert(!small.found.queryExecution.executedPlan.toString.contains("might_contain"))
    assert(pairs(small.found).map(_._1).sorted == hit.take(10).map(_.head.toString).sorted)
    val local = ix.getAll(keys)
    assert(local.found.isLocal && pairs(local.found).sorted == got.sorted)
  }

  test("overlapping manifest: every entry point falls back and stays correct") {
    val store = new FsSnapshotStore(tmpDir("graft-ovl"), spark)
    // two bootstraps with interleaved key ranges, stitched into one manifest
    // that shares their data files zero-copy (the copyTo/merge mechanism) —
    // a deterministic overlapping-file layout
    val a = boot(store, "ovlA", (1 to 200).filter(_ % 2 == 0))
    val b = boot(store, "ovlB", (1 to 200).filter(_ % 2 == 1))
    val m = a.manifest.copy(id = "ovl", version = 0L,
      snapshotId = java.util.UUID.randomUUID().toString,
      numElements = a.count + b.count,
      files = (a.manifest.files ++ b.manifest.files).sortBy(_.min)(KeyOrd))
    store.commit(m, -1L)
    assert(!m.filesDisjointOrdered, "interleaved bootstraps must overlap")

    val ix = new KVIndex(store, m)
    val table = ix.table
    val want = (1 to 200).map(i => (f"k$i%04d", s"v$i")).sortBy(_._1)
    assert(pairs(ix.inOrdered()) == want)
    assert(pairs(ix.inOrdered(reverse = true)) == want.reverse)
    assert(pairs(ix.headOrdered(25)) == want.take(25))
    assert(pairs(ix.headOrdered(25, reverse = true)) == want.reverse.take(25))
    assert(iterPairs(ix.pullIterator(seek = Some(Seq[Any]("k0100")))) ==
      iterPairs(table.pullIterator(seek = Some(Seq[Any]("k0100")))))
    assert(pairs(ix.range(Seq[Any]("k0050"), Seq[Any]("k0150"), incFrom = true, incTo = false)) ==
      pairs(table.range(Seq[Any]("k0050"), Seq[Any]("k0150"), incFrom = true, incTo = false)))
  }

  test("range: stitched fast path prunes files, pushes the bound predicate, plans no exchange") {
    val store = new FsSnapshotStore(tmpDir("graft-rng"), spark)
    val ix = boot(store, "rng", 1 to 100)
    assert(ix.numFiles >= 3)
    val table = ix.table
    val (from, to) = (Seq[Any]("k0020"), Seq[Any]("k0060"))

    for ((incF, incT, rev) <- Seq((true, true, false), (false, true, false),
                                  (true, false, true), (false, false, true))) {
      val got = pairs(ix.range(from, to, incF, incT, rev))
      val want = pairs(table.range(from, to, incF, incT, rev))
      assert(got == want, s"range($incF,$incT,rev=$rev)")
    }

    // the Spark path's plan (below the driver-local tier's budget the
    // answer is a local relation)
    assert(ix.range(from, to, incFrom = true, incTo = true).isLocal)
    val q = LocalScan.withBudget(0L)(ix.range(from, to, incFrom = true, incTo = true))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"range must not shuffle:\n$plan")
    // inclusive bound compiles to (k > b) OR (k <=> b); both legs push down
    assert(plan.contains("PushedFilters: [Or(GreaterThan(k,k0020)"),
      s"range bounds must reach the parquet scan:\n$plan")
    // file pruning: scans only the files intersecting [from,to]
    val expectedFiles = ix.manifest.files.count(f =>
      KeyOrd.compare(f.min, to) <= 0 && KeyOrd.compare(f.max, from) >= 0)
    assert(expectedFiles < ix.numFiles, "bounds should prune at least one file")
    assert(plan.sliding("FileScan".length).count(_ == "FileScan") == expectedFiles)
  }

  test("gt/lt/prefix over a composite-key snapshot agree with OrderedTable, no exchange") {
    val store = new FsSnapshotStore(tmpDir("graft-glp"), spark)
    val rows = for (g <- 1L to 10L; i <- 1 to 20) yield (g, f"k$i%03d", s"v$g-$i")
    val ix = KVIndex.bootstrap(store, "glp", rows.toDF("g", "k", "v"),
      Seq("g", "k"), maxRowsPerFile = 32).fold(e => fail(e.message), identity)
    assert(ix.numFiles >= 3 && ix.manifest.filesDisjointOrdered)
    val table = ix.table

    def trip(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
      df.select("g", "k", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

    val term = Seq[Any](5L, "k010")
    for (rev <- Seq(false, true); inc <- Seq(false, true)) {
      assert(trip(ix.gt(term, inc, rev)) == trip(table.gt(term, inc, rev)), s"gt($inc,$rev)")
      assert(trip(ix.lt(term, inc, rev)) == trip(table.lt(term, inc, rev)), s"lt($inc,$rev)")
    }
    for (rev <- Seq(false, true))
      assert(trip(ix.prefix(Seq[Any](7L), rev)) == trip(table.prefix(Seq[Any](7L), rev)), s"prefix($rev)")

    // the Spark path's plan (below the driver-local tier's budget the
    // answer is a local relation)
    assert(ix.prefix(Seq[Any](7L)).isLocal)
    val p = LocalScan.withBudget(0L)(ix.prefix(Seq[Any](7L))).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"prefix must not shuffle:\n$p")
    // prefix prunes: only the files whose [min,max] can hold g=7
    val nScans = p.sliding("FileScan".length).count(_ == "FileScan")
    assert(nScans < ix.numFiles, s"prefix should prune files ($nScans of ${ix.numFiles}):\n$p")
  }

  test("declared ordering: downstream orderBy on the key is elided, never for other columns, never for joins") {
    val store = new FsSnapshotStore(tmpDir("graft-decl"), spark)
    val ix = boot(store, "decl", 1 to 100)
    assert(ix.numFiles >= 3)

    // orderBy(key) over the declared-ordered read: Catalyst's own
    // RemoveRedundantSorts elides the GLOBAL sort (and its range exchange)
    // — the only Sort nodes left are the per-file local belt-and-braces
    // sorts inside the stitch — and rows still come back in key order.
    // A global SortExec prints as "Sort [...], true, 0".
    val globalSort = """Sort \[[^\]]*\], true""".r
    val sortedOnKey = ix.inOrdered().orderBy("k")
    val p1 = sortedOnKey.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p1).isEmpty && !p1.contains("Exchange"),
      s"expected no global sort / exchange for orderBy(key):\n$p1")
    assert(pairs(sortedOnKey) == (1 to 100).map(i => (f"k$i%04d", s"v$i")))

    // ...but ordering on a NON-key column must still plan a real sort
    val p2 = ix.inOrdered().orderBy("v").queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p2).isDefined,
      s"orderBy(non-key) must keep its global sort:\n$p2")

    // safety: two declared-ordered snapshots joined on the key are NOT
    // co-partitioned (file boundaries differ) — the join must keep its
    // exchanges rather than zip mismatched partitions
    val other = boot(store, "decl2", 1 to 100)
    val joined = ix.inOrdered().join(other.inOrdered().withColumnRenamed("v", "v2"), "k")
    val p3 = joined.queryExecution.executedPlan.toString
    assert(p3.contains("Exchange"), s"join must not elide its exchanges:\n$p3")
    assert(joined.count() == 100)
  }

  /** FsSnapshotStore with counted control-plane reads, to prove cache hits
    * skip the history + manifest reads.
    */
  private class CountingStore(root: String)
      extends FsSnapshotStore(root, spark) {
    var reads = 0
    override protected def readText(rel: String): Option[String] = {
      reads += 1; super.readText(rel)
    }
  }

  test("pullIterator: adjacent files batch into ramped jobs, not one job per file") {
    val store = new FsSnapshotStore(tmpDir("graft-batch"), spark)
    val ix = boot(store, "bat", 1 to 1000)
    assert(ix.numFiles >= 10, s"need many files, got ${ix.numFiles}")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // full drain: ramped batches amortize per-job overhead — far fewer
      // jobs than files (per-file jobs would be numFiles here)
      val n = ix.pullIterator(batchRows = 256L).size
      Thread.sleep(500) // listener bus is async
      val drainJobs = jobs.get()
      assert(n == 1000)
      assert(drainJobs < ix.numFiles,
        s"expected batched jobs < ${ix.numFiles} files, got $drainJobs")
      // early stop: take(5) must compute only the small first batch
      jobs.set(0)
      val first5 = ix.pullIterator(batchRows = 256L).take(5).toSeq
      Thread.sleep(500)
      assert(first5.size == 5 && jobs.get() <= 2,
        s"take(5) ran ${jobs.get()} jobs — early stop broken")
      // batching must preserve global order and seek/pred parity
      assert(iterPairs(ix.pullIterator(batchRows = 64L)) ==
        iterPairs(ix.table.pullIterator()))
      assert(iterPairs(ix.pullIterator(seek = Some(Seq[Any]("k0500")),
          reverse = true, batchRows = 64L)) ==
        iterPairs(ix.table.pullIterator(seek = Some(Seq[Any]("k0500")),
          reverse = true)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("temporal cache: memoized per (id,t), never stale across store instances") {
    val root = tmpDir("graft-shared")
    val reader = new CountingStore(root)
    val writer = new FsSnapshotStore(root, spark) // the "other process"

    val ix = boot(reader, "tix", 1 to 50)
    reader.recordSnapshot("tix", ix.manifest.version, ts = 1000L)

    // fill, then hit: the second open does no control-plane READS (the
    // fingerprint is a file stat) — the reference's Caffeine memo behavior
    // (`TemporalIndex.scala:40-53`)
    val m1 = reader.findIndexAt("tix", 1500L).get
    val before = reader.reads
    assert(reader.findIndexAt("tix", 1500L).get.version == m1.version)
    assert(reader.reads == before, "cache hit must not re-read history/manifest")

    // another instance over the same root commits v2 and records it at an
    // EARLIER-or-equal lookup-relevant time: the reader must observe it on
    // the next lookup (fingerprint changed), not serve the cached v1
    val v2 = new KVIndex(writer, writer.loadLatest("tix").toOption.get)
      .execute(Seq(Command.Insert(kv(Seq(("zzzz", "new"))), upsert = true)))
      .orThrow
    writer.recordSnapshot("tix", v2.version, ts = 1200L)
    assert(reader.findIndexAt("tix", 1500L).get.version == v2.version,
      "stale cached manifest served after a concurrent writer's record")
  }
}
