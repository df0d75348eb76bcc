package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Storage-layer invariants that round 3's review flagged:
  *
  *  1. vacuum must never delete data files still referenced by OTHER
  *     indexes — `copyTo`/`merge`/`split` share files zero-copy, so the
  *     mark phase must span every index under the store root (the
  *     reference's "old roots stay valid forever", `readme.md:4`);
  *  2. a freshly created (zero-file) index must read as a typed EMPTY
  *     result, not throw (the reference returns empty results on empty
  *     index reads).
  */
class StoreSpec extends SparkSuite {
  import spark.implicits._

  private def kv(rows: Seq[(String, String)]) = rows.toDF("k", "v")

  private def boot(store: SnapshotStore, id: String, n: Int = 100): KVIndex =
    KVIndex.bootstrap(store, id,
      kv((1 to n).map(i => (f"k$i%04d", s"v$i"))), Seq("k"), maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)

  private def stores() = Seq(
    new FsSnapshotStore(tmpDir("graft-storespec"), spark),
    new MemorySnapshotStore(spark),
    JdbcSnapshotStore.inMemory(spark))

  test("vacuum keeps data files referenced by a zero-copy clone") {
    for (store <- stores()) {
      var ix = boot(store, "orig")
      val cloned = ix.copyTo("clone").fold(e => fail(e.message), identity)
      val cloneBefore = new KVIndex(store, cloned).df
        .select("k", "v").as[(String, String)].collect().toMap
      // advance the original several versions so vacuum(retain=2) drops the
      // manifests that the clone's file set came from
      (1 to 3).foreach { i =>
        val r = ix.execute(Seq(Command.Insert(
          kv(Seq(f"k0001" -> s"rewrite$i")), upsert = true)))
        assert(r.success)
        ix = new KVIndex(store, r.snapshot.get, maxRowsPerFile = 32)
      }
      val (droppedManifests, deletedFiles) = store.vacuum("orig", retainVersions = 2, graceMs = 0L)
      assert(droppedManifests >= 2)
      // the clone (a different index, version untouched) must still read fully
      val cloneAfter = new KVIndex(store, store.loadLatest("clone").toOption.get)
        .df.select("k", "v").as[(String, String)].collect().toMap
      assert(cloneAfter == cloneBefore,
        s"clone lost rows after vacuum (deleted $deletedFiles files)")
      // and the original's latest snapshot reads fine too
      val latest = KVIndex.open(store, "orig").toOption.get
      assert(latest.df.count() == latest.count)
    }
  }

  test("vacuum still reclaims files nothing references") {
    for (store <- stores()) {
      var ix = boot(store, "gc", n = 64)
      // rewrite the whole key range repeatedly: old files become garbage
      (1 to 3).foreach { i =>
        val all = (1 to 64).map(j => (f"k$j%04d", s"gen$i-$j"))
        val r = ix.execute(Seq(Command.Insert(kv(all), upsert = true)))
        assert(r.success)
        ix = new KVIndex(store, r.snapshot.get, maxRowsPerFile = 32)
      }
      val (_, deleted) = store.vacuum("gc", retainVersions = 1, graceMs = 0L)
      assert(deleted > 0, "full-rewrite garbage must be reclaimed")
      val latest = KVIndex.open(store, "gc").toOption.get
      assert(latest.df.count() == 64)
    }
  }

  test("vacuum's grace window spares an in-flight commit's pre-CAS files") {
    for (store <- stores()) {
      var ix = boot(store, "inflight", n = 64)
      // make real garbage so the grace-0 sweep has something aged to prove
      val r = ix.execute(Seq(Command.Insert(
        kv((1 to 64).map(j => (f"k$j%04d", s"gen2-$j"))), upsert = true)))
      ix = new KVIndex(store, r.snapshot.get, maxRowsPerFile = 32)
      // simulate the pre-CAS half of a commit: data files written, no
      // manifest referencing them yet
      val (_, staged) = store.writeData("inflight",
        kv(Seq(("zz01", "pending"))).withColumn("version", lit("tx-pending")),
        KeySpec(Seq("k")), 1)
      // default grace: the staged (young, unreferenced) files survive
      store.vacuum("inflight", retainVersions = 1)
      val stagedPaths = staged.map(_.path)
      val readable = store.readFiles(stagedPaths,
        store.loadLatest("inflight").toOption.get).count()
      assert(readable == 1L, "grace window must spare pre-CAS files")
      // grace 0: the same unreferenced files are reclaimed as garbage
      val (_, deleted) = store.vacuum("inflight", retainVersions = 1, graceMs = 0L)
      assert(deleted > 0)
      assertThrows[Exception] {
        store.readFiles(stagedPaths,
          store.loadLatest("inflight").toOption.get).count()
      }
      // the committed snapshot is intact either way
      assert(KVIndex.open(store, "inflight").toOption.get.df.count() == 64)
    }
  }

  test("jdbc grace stamps live in the database: a second instance on the same URL cannot sweep young pre-CAS files") {
    val url = s"jdbc:derby:memory:graft-shared-${java.util.UUID.randomUUID()};create=true"
    val ingest = new JdbcSnapshotStore(url, spark)
    val maintenance = new JdbcSnapshotStore(url, spark) // fresh instance, no in-JVM state
    try {
      val ix = boot(ingest, "shared", n = 32)
      // the ingest instance stages the pre-CAS half of a commit...
      val (_, staged) = ingest.writeData("shared",
        kv(Seq(("zz01", "pending"))).withColumn("version", lit("tx-pending")),
        KeySpec(Seq("k")), 1)
      // ...and the MAINTENANCE instance vacuums: it must read the ingest
      // instance's created_ms from the database and spare the young files
      maintenance.vacuum("shared", retainVersions = 1)
      val readable = maintenance.readFiles(staged.map(_.path),
        maintenance.loadLatest("shared").toOption.get).count()
      assert(readable == 1L,
        "second instance swept inside the grace window — stamps must follow the database")
      // grace 0 from the second instance still reclaims deterministically
      val (_, deleted) = maintenance.vacuum("shared", retainVersions = 1, graceMs = 0L)
      assert(deleted > 0)
      assert(new KVIndex(ingest, ingest.loadLatest("shared").toOption.get).df.count() == ix.count)
    } finally { ingest.close(); maintenance.close() }
  }

  test("jdbc history append is O(1): one INSERT, no reread of prior lines") {
    var reads = 0
    val store = new JdbcSnapshotStore(
      s"jdbc:derby:memory:graft-${java.util.UUID.randomUUID()};create=true", spark) {
      override protected def readText(rel: String): Option[String] = {
        reads += 1; super.readText(rel)
      }
    }
    try {
      (1 to 25).foreach(v => store.recordSnapshot("applog", v.toLong, ts = v.toLong * 100))
      // the appends themselves must never read the log back
      assert(reads == 0, s"appendText read the log back $reads times")
      // and the reassembled log is complete and ordered
      assert(store.historyLog("applog") == (1 to 25).map(v => (v.toLong * 100, v.toLong)))
      // whole-content replace folds the rows away; appends resume after it
      store.recordSnapshot("applog", 26L, ts = 2600L)
      assert(store.historyLog("applog").last == ((2600L, 26L)))
    } finally store.close()
  }

  test("empty index reads as typed empty result, not an error") {
    for (store <- stores()) {
      store.createIndex("empty", Seq("a", "b"), Seq("v"),
        colTypes = Seq("BIGINT", "STRING", "DOUBLE")).fold(e => fail(e.message), identity)
      val ix = KVIndex.open(store, "empty").toOption.get
      assert(ix.count == 0)
      assert(ix.df.count() == 0)
      // schema is typed from the manifest
      assert(ix.df.schema("a").dataType.sql == "BIGINT")
      assert(ix.df.schema("v").dataType.sql == "DOUBLE")
      // every read path returns 0 rows instead of throwing
      assert(ix.get(Seq(1L, "x")).count() == 0)
      assert(ix.range(Seq(1L, "a"), Seq(2L, "z"), incFrom = true, incTo = true).count() == 0)
      assert(ix.table.inOrder().count() == 0)
      assert(ix.getAll(Seq(Seq(1L, "x"))).found.count() == 0)
      // and a first write into the empty index works
      val r = ix.execute(Seq(Command.Insert(
        Seq((1L, "b1", 1.5), (2L, "b2", 2.5)).toDF("a", "b", "v"))))
      assert(r.success && r.snapshot.get.numElements == 2)
    }
  }

  test("racing writers from the same snapshot: exactly one commits") {
    for (store <- stores()) {
      val ix = boot(store, "race", n = 64)
      // two handles on the SAME manifest version, executing concurrently —
      // the CREATE_NEW manifest write is the single-writer CAS; exactly one
      // batch may land (reference single-writer `used` flag, Index.scala:1012)
      val handles = Seq("a", "b").map(tag =>
        (tag, new KVIndex(store, ix.manifest, maxRowsPerFile = 32)))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = handles.map { case (tag, h) =>
        Future(tag -> h.execute(Seq(Command.Insert(
          kv(Seq(s"race-$tag" -> tag)))), s"tx-$tag"))
      }.map(Await.result(_, 5.minutes))
      val winners = results.filter(_._2.success)
      assert(winners.size == 1, s"exactly one racer must win, got ${winners.size}")
      val loserErr = results.filter(!_._2.success).head._2.error.get.code
      assert(loserErr == "CONTEXT_USED")
      // committed state contains exactly the winner's row
      val latest = KVIndex.open(store, "race").toOption.get
      val winnerTag = winners.head._1
      assert(latest.count == 65)
      assert(latest.get(Seq(s"race-$winnerTag")).count() == 1)
    }
  }

  test("executeWithRetry: a deterministic CAS loss re-opens LATEST and lands") {
    // a store whose first LATEST read is stale forces the retry path
    // deterministically: attempt 1 executes against v1, loses the CAS to
    // the already-committed v2, attempt 2 re-opens the real LATEST
    val store = new FsSnapshotStore(tmpDir("graft-retry-stale"), spark) {
      @volatile var staleOnce = false
      override protected def readText(rel: String): Option[String] =
        if (staleOnce && rel.endsWith("/LATEST")) { staleOnce = false; Some("v1") }
        else super.readText(rel)
    }
    val ix = boot(store, "retry", n = 32)
    assert(ix.execute(Seq(Command.Insert(kv(Seq("zz-first" -> "w1"))))).success) // -> v2
    store.staleOnce = true
    val r = KVIndex.executeWithRetry(store, "retry",
      Seq(Command.Insert(kv(Seq("zz-second" -> "w2")))))
    assert(r.success, r.error.toString)
    assert(r.snapshot.get.version == 3L, "retry must serialize behind the winner")
    val latest = KVIndex.open(store, "retry").toOption.get
    assert(latest.get(Seq("zz-first")).count() == 1)
    assert(latest.get(Seq("zz-second")).count() == 1)
    // validation failures are NOT retried: inserting an existing key fails
    // once with the real error, no CAS involved
    val dup = KVIndex.executeWithRetry(store, "retry",
      Seq(Command.Insert(kv(Seq("zz-second" -> "again")))))
    assert(!dup.success && dup.error.get.code == "LEAF_DUPLICATE_KEY")
  }

  test("executeWithRetry: concurrent writers all commit, serialized") {
    for (store <- stores()) {
      boot(store, "retryrace", n = 32)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val results = Seq("a", "b").map(tag => Future(
        tag -> KVIndex.executeWithRetry(store, "retryrace",
          Seq(Command.Insert(kv(Seq(s"race-$tag" -> tag)))))))
        .map(Await.result(_, 5.minutes))
      assert(results.forall(_._2.success),
        results.map(r => r._1 -> r._2.error).toString)
      val latest = KVIndex.open(store, "retryrace").toOption.get
      assert(latest.count == 34)
      assert(latest.get(Seq("race-a")).count() == 1)
      assert(latest.get(Seq("race-b")).count() == 1)
      assert(latest.manifest.version == 3L,
        "both batches must land as consecutive serialized versions")
    }
  }

  /** Crash injection for the commit protocol: trips exactly one simulated
    * crash at a chosen point, then behaves normally — the restart. The
    * points: inside the driver's data-file write (after part of the file
    * is written), after `writeData` returned (before the manifest CAS),
    * before the history append and before the LATEST swap. Mixes into any
    * backend.
    */
  private trait Crashing extends SnapshotStore {
    @volatile var crashInFileWrite = false
    @volatile var crashAfterWriteData = false
    @volatile var crashOnLatestSwap = false
    @volatile var crashOnHistoryAppend = false
    abstract override protected def writeTextAtomic(rel: String, s: String): Unit = {
      if (crashOnLatestSwap && rel.endsWith("/LATEST")) {
        crashOnLatestSwap = false
        throw new RuntimeException("simulated crash before LATEST swap")
      }
      super.writeTextAtomic(rel, s)
    }
    abstract override protected def appendText(rel: String, s: String): Unit = {
      if (crashOnHistoryAppend && rel.endsWith("history.jsonl")) {
        crashOnHistoryAppend = false
        throw new RuntimeException("simulated crash before history append")
      }
      super.appendText(rel, s)
    }
    override protected def writeParquetFile(writer: org.apache.spark.sql.execution.datasources.OutputWriter,
                                            rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Unit =
      if (!crashInFileWrite) super.writeParquetFile(writer, rows)
      else {
        crashInFileWrite = false
        super.writeParquetFile(writer, rows.zipWithIndex.map { case (r, i) =>
          if (i == 1) throw new RuntimeException("simulated crash inside a data-file write")
          r
        })
      }
    abstract override def writeData(id: String, df: org.apache.spark.sql.DataFrame, keySpec: KeySpec,
                                    targetPartitions: Int): (String, Seq[FileEntry]) = {
      val written = super.writeData(id, df, keySpec, targetPartitions)
      if (crashAfterWriteData) {
        crashAfterWriteData = false
        throw new RuntimeException("simulated crash after writeData, before the manifest CAS")
      }
      written
    }
    def dataFiles(id: String): Set[String] = listDataFiles(id).toSet
  }

  private class CrashingStore(root: String) extends FsSnapshotStore(root, spark) with Crashing

  private def crashingStores(): Seq[(String, () => Crashing)] = Seq(
    "filesystem" -> (() => new FsSnapshotStore(tmpDir("graft-crash-write"), spark) with Crashing),
    "jdbc" -> (() => new JdbcSnapshotStore(
      s"jdbc:derby:memory:graft-crash-${java.util.UUID.randomUUID()};create=true", spark) with Crashing))

  for ((backend, make) <- crashingStores())
  test(s"crash window: a crash in the driver's data-file write or before the manifest CAS leaves the old snapshot ($backend)") {
    for (point <- Seq("in the data-file write", "after writeData")) {
      val store = make()
      try {
        val ix = KVIndex.bootstrap(store, "cdw", kv((1 to 64).map(i => (f"k$i%04d", s"v$i"))),
          Seq("k"), maxRowsPerFile = 32, recordHistory = true).fold(e => fail(e.message), identity)
        val history = store.historyLog("cdw")
        val before = store.dataFiles("cdw")
        val batch = Seq(Command.Insert(kv(Seq("k0005" -> "x", "k0006" -> "y", "zz" -> "z")), upsert = true))
        if (point == "after writeData") store.crashAfterWriteData = true else store.crashInFileWrite = true
        val e = intercept[RuntimeException] {
          LocalScan.withBudget(Long.MaxValue)(ix.execute(batch, txVersion = "tx-crash", recordHistory = true))
        }
        assert(e.getMessage.contains("simulated crash"), point)
        // LATEST and openAt read the old snapshot; no history line was added
        assert(KVIndex.open(store, "cdw").toOption.get.manifest.version == 1L, point)
        assert(KVIndex.openAt(store, "cdw", System.nanoTime()).toOption.get.manifest.version == 1L, point)
        assert(store.historyLog("cdw") == history, point)
        // the crash orphaned what reached the store: the filesystem keeps the
        // (partial) file; the JDBC store stages files in a temporary
        // directory, so only a write that returned left a blob
        val orphans = store.dataFiles("cdw") -- before
        assert(orphans.nonEmpty == (backend == "filesystem" || point == "after writeData"), s"$point: $orphans")
        // the restart lands the batch
        val r = KVIndex.executeWithRetry(store, "cdw", batch, recordHistory = true, txVersion = "tx-crash")
        assert(r.success && r.snapshot.get.version == 2L && r.writeTier == WriteTier.Driver, s"$point: $r")
        assert(store.historyLog("cdw").map(_._2) == Seq(1L, 2L), point)
        val latest = KVIndex.open(store, "cdw").toOption.get
        assert(latest.count == 65 && latest.get(Seq("k0005")).select("v").as[String].collect().toSeq == Seq("x"))
        // VACUUM spares the young orphans, and after its grace window removes
        // exactly them; DRY RUN lists only them
        assert(store.vacuum("cdw", retainVersions = 3, dryRun = true) == ((0, 0)), point)
        assert(store.vacuum("cdw", retainVersions = 3, graceMs = 0L, dryRun = true) == ((0, orphans.size)), point)
        val live = store.dataFiles("cdw")
        assert(store.vacuum("cdw", retainVersions = 3, graceMs = 0L) == ((0, orphans.size)), point)
        assert(store.dataFiles("cdw") == live -- orphans, point)
        assert(KVIndex.open(store, "cdw").toOption.get.df.count() == 65, point)
      } finally store match {
        case j: JdbcSnapshotStore => j.close()
        case _ =>
      }
    }
  }

  test("crash window: every committed (LATEST-visible) version has a history entry") {
    // With the old two-step protocol (commit THEN recordSnapshot), a crash
    // between the two produced a committed version invisible to time
    // travel. recordHistory=true folds the append inside the commit, BEFORE
    // the LATEST swap — so this invariant holds at every crash point.
    val store = new CrashingStore(tmpDir("graft-crash-hist"))
    val ix = KVIndex.bootstrap(store, "cw",
      kv(Seq("a" -> "1", "b" -> "2")), Seq("k"), recordHistory = true)
      .fold(e => fail(e.message), identity)
    assert(store.historyLog("cw").map(_._2) == Seq(1L))

    // crash point 1: after manifest CAS + history append, before LATEST swap
    store.crashOnLatestSwap = true
    val r = intercept[RuntimeException] {
      ix.execute(Seq(Command.Insert(kv(Seq("c" -> "3")), upsert = true)),
        txVersion = "tx-crash", recordHistory = true)
    }
    assert(r.getMessage.contains("simulated crash"))
    // invariant: LATEST still v1, and v1 is in history; the history may
    // also hold the durable-but-unswapped v2 (benign: its manifest and
    // files are durable and readable)
    assert(KVIndex.open(store, "cw").toOption.get.manifest.version == 1L)
    assert(store.historyLog("cw").map(_._2).contains(1L))

    // restart replay of the SAME tx completes the interrupted commit
    // idempotently: no duplicate history line, LATEST repointed
    val m2 = ix.execute(Seq(Command.Insert(kv(Seq("c" -> "3")), upsert = true)),
      txVersion = "tx-crash", recordHistory = true).orThrow
    assert(m2.version == 2L)
    assert(KVIndex.open(store, "cw").toOption.get.manifest.version == 2L)
    assert(store.historyLog("cw").map(_._2).count(_ == 2L) == 1,
      "replay must not duplicate the history entry")
    assert(KVIndex.open(store, "cw").toOption.get.count == 3)

    // a DIFFERENT writer replaying the same version is still a CAS loss
    val loser = new KVIndex(store, store.loadVersion("cw", 1L))
    val lr = loser.execute(Seq(Command.Insert(kv(Seq("z" -> "9")), upsert = true)),
      txVersion = "tx-other", recordHistory = true)
    assert(!lr.success && lr.error.exists(_.isInstanceOf[GraftError.ContextAlreadyUsed]))
  }

  test("crash window: crash before the history append commits nothing") {
    val store = new CrashingStore(tmpDir("graft-crash-hist2"))
    val ix = KVIndex.bootstrap(store, "cw2",
      kv(Seq("a" -> "1")), Seq("k"), recordHistory = true)
      .fold(e => fail(e.message), identity)
    store.crashOnHistoryAppend = true
    intercept[RuntimeException] {
      ix.execute(Seq(Command.Insert(kv(Seq("b" -> "2")), upsert = true)),
        txVersion = "tx-c2", recordHistory = true)
    }
    // LATEST untouched, history untouched — v2's manifest exists (CAS won)
    // but the version is fully invisible until the tx replays
    assert(KVIndex.open(store, "cw2").toOption.get.manifest.version == 1L)
    assert(store.historyLog("cw2").map(_._2) == Seq(1L))
    // replay completes it: history + LATEST both land
    val m2 = ix.execute(Seq(Command.Insert(kv(Seq("b" -> "2")), upsert = true)),
      txVersion = "tx-c2", recordHistory = true).orThrow
    assert(m2.version == 2L)
    assert(store.historyLog("cw2").map(_._2) == Seq(1L, 2L))
    assert(store.findAt("cw2", System.nanoTime()).contains(2L))
  }

  test("memory store round-trips the full temporal log and catalog") {
    val store = new MemorySnapshotStore(spark)
    val ix = boot(store, "tmem", n = 32)
    val t1 = store.recordSnapshot("tmem", ix.manifest.version)
    val r = ix.execute(Seq(Command.Insert(kv(Seq("zz" -> "new")))))
    assert(r.success)
    val t2 = store.recordSnapshot("tmem", r.snapshot.get.version)
    assert(store.historyLog("tmem").map(_._2) == Seq(ix.manifest.version, r.snapshot.get.version))
    assert(store.findAt("tmem", t1).contains(ix.manifest.version))
    assert(store.findAt("tmem", t2).contains(r.snapshot.get.version))
    val historical = KVIndex.openAt(store, "tmem", t1).toOption.get
    assert(historical.df.count() == 32) // pre-insert snapshot
    assert(store.listIndexes() == Seq("tmem"))
  }
}
