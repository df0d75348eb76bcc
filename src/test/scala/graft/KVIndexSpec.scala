package graft

import org.apache.spark.sql.functions._
import graft.core._

/** Write-path semantics (reference `MainSpec` / error injection in
  * `QueriesRandomSpec.scala:92-126`): dup rejection, upsert, exists check,
  * version CAS, all-or-nothing batches, snapshot isolation, file-granular
  * COW, and the single-writer commit CAS.
  *
  * Abstract over the storage backend — the same contract must hold on the
  * FS store and the in-memory store, like the reference's spec suite runs
  * against `MemoryStorage` by default and `CassandraStorage` in CI
  * (reference `MainSpec.scala:27-44`).
  */
abstract class KVIndexSpecBase extends SparkSuite {
  import spark.implicits._

  def newStore(): SnapshotStore

  private def kv(rows: Seq[(String, String)]) = rows.toDF("k", "v")

  private def dump(ix: KVIndex): Map[String, String] =
    ix.df.select("k", "v").as[(String, String)].collect().toMap

  private def boot(store: SnapshotStore, id: String, n: Int = 100): KVIndex = {
    val rows = (1 to n).map(i => (f"k$i%04d", s"v$i"))
    KVIndex.bootstrap(store, id, kv(rows), Seq("k"), maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)
  }

  test("bootstrap from a stats-less plan sizes files by a count, not the sentinel") {
    // LogicalRDD (like a streaming micro-batch) reports the unknown-stats
    // sentinel; the size-based file heuristic once capped out the range
    // partitioner and wrote ONE FILE PER ROW (a 250-doc ingest bootstrap
    // produced a 250-file manifest every later open/prune/compact paid for)
    val store = newStore()
    val rows = (1 to 250).map(i => org.apache.spark.sql.Row(f"k$i%04d", s"v$i"))
    val rdd = spark.sparkContext.parallelize(rows, 8)
    val df = spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
    val ix = KVIndex.bootstrap(store, "tstats", df, Seq("k"), maxRowsPerFile = 100)
      .fold(e => fail(e.message), identity)
    assert(ix.count == 250)
    assert(ix.numFiles == 3, s"expected ceil(250/100)=3 files, got ${ix.numFiles}")
    assert(dump(ix).size == 250)
  }

  test("bootstrap + read back + O(1) count from manifest") {
    val store = newStore()
    val ix = boot(store, "t1")
    assert(ix.count == 100)            // manifest stat, no scan
    assert(ix.numFiles >= 3)           // maxRowsPerFile=32 → multiple files
    assert(dump(ix) == (1 to 100).map(i => f"k$i%04d" -> s"v$i").toMap)
    // files are range-sorted with disjoint-ish stats
    val files = ix.manifest.files
    assert(files.map(_.rows).sum == 100)
    files.foreach(f => assert(KeyOrd.compare(f.min, f.max) <= 0))
  }

  test("insert: new keys, duplicate-in-batch error, existing-key error, upsert") {
    val store = newStore()
    val ix = boot(store, "t2")
    // intra-batch duplicate → DUPLICATED_KEYS, nothing committed
    val dup = ix.execute(Seq(Command.Insert(kv(Seq("x1" -> "a", "x1" -> "b")))))
    assert(!dup.success && dup.error.exists(_.code == "DUPLICATED_KEYS"))
    assert(store.loadLatest("t2").toOption.get.version == ix.manifest.version)

    // existing key without upsert → LEAF_DUPLICATE_KEY
    val clash = ix.execute(Seq(Command.Insert(kv(Seq("k0001" -> "zz")))))
    assert(!clash.success && clash.error.exists(_.code == "LEAF_DUPLICATE_KEY"))

    // upsert replaces + stamps version
    val tx = "tx-upsert-1"
    val ok = ix.execute(Seq(Command.Insert(kv(Seq("k0001" -> "NEW", "zzzz" -> "added")),
      upsert = true)), tx)
    assert(ok.success)
    val ix2 = KVIndex.open(store, "t2").toOption.get
    assert(ix2.count == 101)
    assert(dump(ix2)("k0001") == "NEW" && dump(ix2)("zzzz") == "added")
    val vers = ix2.df.filter($"k".isin("k0001", "zzzz")).select("version")
      .as[String].collect()
    assert(vers.forall(_ == tx))
    // old snapshot still reads the old state (snapshot isolation)
    assert(dump(ix)("k0001") == "v1")
  }

  test("update: exists check, CAS on expectedVersion, stamp new version") {
    val store = newStore()
    val ix = boot(store, "t3")
    val missing = ix.execute(Seq(Command.Update(kv(Seq("nope" -> "x")))))
    assert(!missing.success && missing.error.exists(_.code == "KEY_NOT_FOUND"))

    val wrongVer = ix.execute(Seq(Command.Update(
      kv(Seq("k0005" -> "x")).withColumn("expectedVersion", lit("stale")))))
    assert(!wrongVer.success && wrongVer.error.exists(_.code == "VERSION_CHANGED"))

    val curVer = ix.df.filter($"k" === "k0005").select("version").as[String].head()
    val ok = ix.execute(Seq(Command.Update(
      kv(Seq("k0005" -> "updated")).withColumn("expectedVersion", lit(curVer)))), "tx-u")
    assert(ok.success)
    val after = KVIndex.open(store, "t3").toOption.get
    assert(dump(after)("k0005") == "updated")
    assert(after.count == 100)
  }

  test("remove: exists check, CAS, and key disappearance") {
    val store = newStore()
    val ix = boot(store, "t4")
    val missing = ix.execute(Seq(Command.Remove(Seq("ghost").toDF("k"))))
    assert(!missing.success && missing.error.exists(_.code == "KEY_NOT_FOUND"))

    val ok = ix.execute(Seq(Command.Remove(Seq("k0010", "k0011").toDF("k"))))
    assert(ok.success)
    val after = KVIndex.open(store, "t4").toOption.get
    assert(after.count == 98 && !dump(after).contains("k0010"))
  }

  test("batch is all-or-nothing: later failing command aborts the whole batch") {
    val store = newStore()
    val ix = boot(store, "t5")
    val res = ix.execute(Seq(
      Command.Insert(kv(Seq("new1" -> "a"))),            // fine
      Command.Remove(Seq("ghost").toDF("k"))             // fails
    ))
    assert(!res.success && res.error.exists(_.code == "KEY_NOT_FOUND"))
    val latest = KVIndex.open(store, "t5").toOption.get
    assert(latest.count == 100 && !dump(latest).contains("new1"))
  }

  test("sequential commands in one batch see each other's effects") {
    val store = newStore()
    val ix = boot(store, "t6")
    val res = ix.execute(Seq(
      Command.Insert(kv(Seq("aa" -> "1"))),
      Command.Update(kv(Seq("aa" -> "2"))),
      Command.Remove(Seq("k0001").toDF("k"))
    ))
    assert(res.success)
    // per-command touched-range row counts (insert +1, update ±0, remove -1)
    assert(res.commandRowCounts.length == 3)
    assert(res.commandRowCounts(1) == res.commandRowCounts(0))
    assert(res.commandRowCounts(2) == res.commandRowCounts(1) - 1)
    val after = KVIndex.open(store, "t6").toOption.get
    assert(dump(after)("aa") == "2" && !dump(after).contains("k0001"))
    assert(after.count == 100) // +1 insert, -1 remove
  }

  test("update: a key repeated in one Update is DUPLICATED_KEYS, nothing committed") {
    val store = newStore()
    val ix = boot(store, "tud", n = 3)
    val res = ix.execute(Seq(Command.Update(kv(Seq("k0002" -> "x", "k0002" -> "y")))))
    assert(!res.success && res.error.contains(GraftError.DuplicatedKeys(Seq("k0002"))))
    val latest = KVIndex.open(store, "tud").toOption.get
    assert(latest.manifest.version == ix.manifest.version && latest.count == 3)
    assert(latest.get(Seq("k0002")).select("v").as[String].collect().toSeq == Seq("v2"))
    // the duplicate check precedes the exists check, as for Insert
    val ghost = ix.execute(Seq(Command.Update(kv(Seq("ghost" -> "x", "ghost" -> "y")))))
    assert(ghost.error.contains(GraftError.DuplicatedKeys(Seq("ghost"))))
  }

  test("remove: a key repeated in one Remove is removed once; a repeated ghost is listed per row") {
    val store = newStore()
    val ix = boot(store, "trr", n = 3)
    val ghost = ix.execute(Seq(Command.Remove(Seq("ghost", "ghost").toDF("k"))))
    assert(ghost.error.contains(GraftError.KeyNotFound(Seq("ghost", "ghost"))))
    val res = ix.execute(Seq(Command.Remove(Seq("k0002", "k0002").toDF("k"))))
    assert(res.success && res.commandRowCounts == Seq(2L))
    val after = KVIndex.open(store, "trr").toOption.get
    assert(after.count == 2 && dump(after) == Map("k0001" -> "v1", "k0003" -> "v3"))
  }

  test("validation precedes value evaluation: a throwing value column of a failed batch never runs") {
    val store = newStore()
    val ix = boot(store, "tre")
    def boom(k: String) = spark.range(1)
      .select(lit(k).as("k"), raise_error(lit("value column evaluated")).cast("string").as("v"))
    val res = ix.execute(Seq(Command.Update(kv(Seq("ghost" -> "x"))), Command.Insert(boom("new1"))))
    assert(!res.success && res.error.exists(_.code == "KEY_NOT_FOUND"))
    // the failing command's own value column is not evaluated either
    val own = ix.execute(Seq(Command.Update(boom("ghost"))))
    assert(own.error.contains(GraftError.KeyNotFound(Seq("ghost"))))
    assert(KVIndex.open(store, "tre").toOption.get.manifest.version == ix.manifest.version)
  }

  test("file-granular COW: untouched files are shared between snapshots") {
    val store = newStore()
    val ix = boot(store, "t7")
    val before = ix.manifest.files.map(_.path).toSet
    // touch only the very first key range
    val res = ix.execute(Seq(Command.Insert(kv(Seq("k0001" -> "X")), upsert = true)))
    assert(res.success)
    val after = res.snapshot.get.files.map(_.path).toSet
    val shared = before.intersect(after)
    assert(shared.nonEmpty, "COW must reuse untouched files")
    assert((after -- before).nonEmpty, "touched range must be rewritten")
    // out-of-range insert rewrites nothing at all
    val res2 = KVIndex.open(store, "t7").toOption.get
      .execute(Seq(Command.Insert(kv(Seq("zzzz" -> "far")))))
    assert(res2.success)
    assert(after.subsetOf(res2.snapshot.get.files.map(_.path).toSet),
      "pure out-of-range insert must reuse every existing file")
  }

  test("single-writer commit CAS: second execute from the same snapshot fails") {
    val store = newStore()
    val ix = boot(store, "t8")
    assert(ix.execute(Seq(Command.Insert(kv(Seq("a1" -> "x"))))).success)
    val stale = ix.execute(Seq(Command.Insert(kv(Seq("a2" -> "y")))))
    assert(!stale.success && stale.error.exists(_.code == "CONTEXT_USED"))
    // state reflects only the first write
    val latest = KVIndex.open(store, "t8").toOption.get
    assert(dump(latest).contains("a1") && !dump(latest).contains("a2"))
  }

  test("pruned reads: point/range open only covering files, same results") {
    val store = newStore()
    val ix = boot(store, "tp") // 100 rows in several files
    assert(ix.numFiles >= 3)
    // point
    val full = ix.table.get(Seq("k0042")).collect().toSeq
    val pruned = ix.get(Seq("k0042")).collect().toSeq
    assert(pruned == full && pruned.nonEmpty)
    val coveringFiles = ix.tableForRange(Seq("k0042"), Seq("k0042"))
      .df.inputFiles.length
    assert(coveringFiles < ix.numFiles, "point read must not open every file")
    // range
    val fullR = ix.table.range(Seq("k0010"), Seq("k0020"), incFrom = true, incTo = true)
      .select("k").collect().map(_.getString(0)).toSeq
    val prunedR = ix.range(Seq("k0010"), Seq("k0020"), incFrom = true, incTo = true)
      .select("k").collect().map(_.getString(0)).toSeq
    assert(prunedR == fullR)
    // out-of-range probe: empty, no files opened
    assert(ix.get(Seq("zzzz")).count() == 0)
    assert(ix.tableForRange(Seq("zzzz"), Seq("zzzz")).df.inputFiles.isEmpty ||
      ix.tableForRange(Seq("zzzz"), Seq("zzzz")).df.count() == 0)
  }

  test("pruned multiget: batched keys resolve over covering files only") {
    val store = newStore()
    val ix = boot(store, "tg")
    val r = ix.getAll(Seq(Seq("k0003"), Seq("k0042"), Seq("k0097")), mustFindAll = true)
    assert(r.success)
    val got = r.found.select("k").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("k0003", "k0042", "k0097"))
    val miss = ix.getAll(Seq(Seq("k0003"), Seq("nope")), mustFindAll = true)
    assert(!miss.success && miss.missing == 1 &&
      miss.error.exists(_.code == "KEY_NOT_FOUND"))
    // keys in a narrow range touch fewer files than the index has
    val narrow = ix.getAll(Seq(Seq("k0001"), Seq("k0002")))
    assert(narrow.found.collect().length == 2)
  }

  test("commit pruning: the batch hull (budget 0) and the exact key set commit the same snapshot") {
    val store = newStore()
    // keys at both ends and one in the middle: the hull spans every file
    // between them, the exact set touches three
    def commit(id: String, budget: Long) = {
      val ix = boot(store, id)
      val res = LocalScan.withBudget(budget)(ix.execute(Seq(
        Command.Insert(kv(Seq("k0003" -> "a", "k0090" -> "b", "k0050x" -> "c")), upsert = true),
        Command.Remove(Seq("k0042").toDF("k")))))
      assert(res.success, s"budget $budget")
      val m = res.snapshot.get
      val (kept, touched) = ix.manifest.files.partition(f => m.files.exists(_.path == f.path))
      // commandRowCounts are touched-range row counts: compared net of the
      // range each path touched, they are the per-command deltas
      (dump(new KVIndex(store, m)), m.numElements,
        res.commandRowCounts.map(_ - touched.map(_.rows).sum), kept.size)
    }
    val (hull, hullN, hullDeltas, hullKept) = commit("hull", 0L)
    val (exact, exactN, exactDeltas, exactKept) = commit("exact", LocalScan.BudgetBytes)
    assert(hull == exact && hullN == exactN && hullDeltas == exactDeltas)
    assert(exactDeltas == Seq(1L, 0L))
    assert(exact.size == 100 && exact("k0090") == "b" && !exact.contains("k0042"))
    assert(hullKept < exactKept, s"hull kept $hullKept files, exact $exactKept")
  }

  test("findFile / nextKeyFile / previousKeyFile locate blocks via manifest stats") {
    val store = newStore()
    val ix = boot(store, "tf") // 100 rows, files of ≤32, sorted by min
    val files = ix.manifest.files
    assert(files.size >= 3)
    // a key inside the second file's range resolves to it
    val probe = files(1).min
    assert(ix.findFile(probe).exists(_.path == files(1).path))
    // a key beyond all ranges resolves to none / last
    assert(ix.findFile(Seq("zzzz")).isEmpty)
    assert(ix.nextKeyFile(Seq("")).exists(_.path == files.head.path))
    assert(ix.nextKeyFile(files.last.max).isEmpty)
    assert(ix.previousKeyFile(Seq("zzzz")).exists(_.path == files.last.path))
    assert(ix.previousKeyFile(files.head.min).isEmpty)
  }

  test("compaction merges small files, keeps data and big files intact") {
    val store = newStore()
    var ix = boot(store, "tc") // 100 rows, files of ≤32
    // ten tiny writes → ten new small files
    (1 to 10).foreach { i =>
      val r = ix.execute(Seq(Command.Insert(kv(Seq(f"zz$i%02d" -> s"v$i")))))
      assert(r.success)
      ix = new KVIndex(store, r.snapshot.get, maxRowsPerFile = 32)
    }
    val before = ix.numFiles
    val data = dump(ix)
    val res = ix.compact(targetRowsPerFile = 64)
    assert(res.success)
    val compacted = new KVIndex(store, res.snapshot.get)
    assert(compacted.numFiles < before)
    assert(compacted.count == ix.count)
    assert(dump(compacted) == data)
    // the pre-compaction snapshot still reads fine (immutability)
    assert(dump(ix) == data)
    // idempotent-ish: second compaction is a no-op or strictly fewer files
    val res2 = compacted.compact(targetRowsPerFile = 64)
    assert(res2.success)
  }

  test("removeRange: interior files drop without rewrite, boundaries rewrite, bounds honored") {
    val store = newStore()
    val ix = boot(store, "trd") // 100 rows, files of ≤32 → ≥3 files
    assert(ix.numFiles >= 3)
    val pathsBefore = ix.manifest.files.map(f => f.path -> f).toMap
    // delete (k0020, k0070] — open lower bound keeps k0020
    val res = ix.removeRange(Seq("k0020"), Seq("k0070"), incFrom = false, incTo = true)
    assert(res.success)
    assert(res.commandRowCounts == Seq(50L))
    val after = new KVIndex(store, res.snapshot.get)
    assert(after.count == 50)
    val expect = ((1 to 20) ++ (71 to 100)).map(i => f"k$i%04d" -> s"v$i").toMap
    assert(dump(after) == expect)
    // files entirely outside or entirely inside the range were NOT
    // rewritten: survivors outside the hull keep their exact path entries
    val untouched = after.manifest.files.filter(f => pathsBefore.contains(f.path))
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(pathsBefore(f.path).rows == f.rows))
    // layout stays disjoint-ordered; old snapshot unaffected (isolation)
    assert(after.manifest.filesDisjointOrdered)
    assert(ix.count == 100 && dump(ix).size == 100)
    // stale-manifest CAS: a second removeRange from the OLD handle fails
    val stale = ix.removeRange(Seq("k0001"), Seq("k0002"))
    assert(!stale.success && stale.error.exists(_.code == "CONTEXT_USED"))
    // no overlap → no-op, same manifest version
    val noop = after.removeRange(Seq("zzz0"), Seq("zzz9"))
    assert(noop.success && noop.snapshot.get.version == after.manifest.version)
  }

  test("removeRange: null-keyed row in a boundary file survives (null sorts below the range)") {
    val store = newStore()
    // null key sorts FIRST → lands in the first file, which the delete
    // below touches as a BOUNDARY file. The old `.filter(!inRange)`
    // survivor filter evaluated NULL for the null key → row silently
    // dropped; the null-safe complement must keep it.
    val rows = ((null: String) -> "vnull") +: (1 to 40).map(i => (f"k$i%04d", s"v$i"))
    val ix = KVIndex.bootstrap(store, "tnul", kv(rows), Seq("k"), maxRowsPerFile = 16)
      .fold(e => fail(e.message), identity)
    val res = ix.removeRange(Seq("k0002"), Seq("k0010"))
    assert(res.success)
    assert(res.commandRowCounts == Seq(9L))
    val after = new KVIndex(store, res.snapshot.get)
    assert(after.count == 32)
    val vals = after.df.select("v").as[String].collect().toSet
    assert(vals.contains("vnull"),
      "null-keyed row must not be deleted by a removeRange it sorts outside of")
    assert(after.manifest.filesDisjointOrdered)
    // a range whose lower bound IS null (from the key floor) does cover it
    val res2 = after.removeRange(Seq(null), Seq("k0001"))
    assert(res2.success)
    val gone = new KVIndex(store, res2.snapshot.get)
    assert(!gone.df.select("v").as[String].collect().toSet.contains("vnull"))
  }

  test("countRange: manifest-stat interior + boundary scan equals the filtered count") {
    val store = newStore()
    val ix = boot(store, "tcr") // 100 rows, files of ≤32
    def model(lo: String, hi: String, il: Boolean, ih: Boolean): Long =
      (1 to 100).map(i => f"k$i%04d").count(k =>
        (if (il) k >= lo else k > lo) && (if (ih) k <= hi else k < hi))
    for ((lo, hi, il, ih) <- Seq(
        ("k0010", "k0090", true, true), ("k0010", "k0090", false, false),
        ("k0001", "k0100", true, true), ("k0050", "k0050", true, true),
        ("a", "b", true, true), ("z", "zz", true, true)))
      assert(ix.countRange(Seq(lo), Seq(hi), il, ih) == model(lo, hi, il, ih),
        s"[$lo,$hi] inc=($il,$ih)")
  }

  test("composite-key store: bootstrap, pruned reads, CAS writes on (a, b) keys") {
    val store = newStore()
    val rows = for (a <- 1 to 10; b <- 1 to 10) yield (a.toLong, f"s$b%02d", a * 100 + b)
    val ix = KVIndex.bootstrap(store, "tck", rows.toDF("a", "b", "v"),
      Seq("a", "b"), maxRowsPerFile = 16).fold(e => fail(e.message), identity)
    assert(ix.count == 100 && ix.key.cols == Seq("a", "b"))
    // pruned composite point + range
    assert(ix.get(Seq(3L, "s07")).select("v").as[Int].head() == 307)
    val r = ix.range(Seq(2L, "s09"), Seq(3L, "s02"), incFrom = true, incTo = true)
      .select("v").as[Int].collect().toSeq
    assert(r == Seq(209, 210, 301, 302)) // lexicographic across the boundary
    // composite-key upsert + remove through execute
    val res = ix.execute(Seq(
      Command.Insert(Seq((3L, "s07", 9999)).toDF("a", "b", "v"), upsert = true),
      Command.Remove(Seq((1L, "s01")).toDF("a", "b"))))
    assert(res.success)
    val after = KVIndex.open(store, "tck").toOption.get
    assert(after.count == 99)
    assert(after.get(Seq(3L, "s07")).select("v").as[Int].head() == 9999)
    assert(after.get(Seq(1L, "s01")).count() == 0)
  }

  test("null values round-trip; large batch (1000 rows) upserts in one commit") {
    val store = newStore()
    val rows = (1 to 50).map(i => (f"k$i%04d", if (i % 5 == 0) null else s"v$i"))
    val ix = KVIndex.bootstrap(store, "tn", rows.toDF("k", "v"), Seq("k"))
      .fold(e => fail(e.message), identity)
    assert(dump2(ix) == rows.toMap)
    // reference batches go up to 1000 tuples (MainSpec.scala:63)
    val big = (1 to 1000).map(i => (f"b$i%05d", s"x$i"))
    val res = ix.execute(Seq(Command.Insert(big.toDF("k", "v"), upsert = true)))
    assert(res.success && res.snapshot.get.numElements == 1050)
    val after = KVIndex.open(store, "tn").toOption.get
    assert(dump2(after) == (rows ++ big).toMap)
  }

  private def dump2(ix: KVIndex): Map[String, String] =
    ix.df.select("k", "v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap

  test("createIndex twice → INDEX_ALREADY_EXISTS; open missing → INDEX_NOT_FOUND") {
    val store = newStore()
    boot(store, "t9")
    assert(KVIndex.bootstrap(store, "t9", kv(Seq("a" -> "b")), Seq("k"))
      .left.exists(_.code == "INDEX_ALREADY_EXISTS"))
    assert(KVIndex.open(store, "no-such").left.exists(_.code == "INDEX_NOT_FOUND"))
  }

  test("diff: added/removed/changed between versions; shared COW files skipped; unchanged rows cancel") {
    val store = newStore()
    val ix = boot(store, "tdiff") // k0001..k0100 in ~4 files of 32
    val m2 = ix.execute(Seq(
      Command.Insert(kv(Seq("k0001" -> "CHANGED", "zzzz" -> "fresh")), upsert = true),
      Command.Remove(kv(Seq("k0002" -> "whatever")))), "tx-diff").orThrow
    val newIx = new KVIndex(store, m2)
    // COW must have left at least one file shared between the versions —
    // diff reads only the others
    val shared = ix.manifest.files.map(_.path).toSet
      .intersect(m2.files.map(_.path).toSet)
    assert(shared.nonEmpty)
    val d = ix.diff(newIx).collect().map(r =>
      r.getAs[String]("k") ->
        ((r.getAs[String]("change"), r.getAs[String]("old_v"), r.getAs[String]("new_v")))).toMap
    assert(d("k0001") == (("changed", "v1", "CHANGED")))
    assert(d("zzzz") == (("added", null, "fresh")))
    assert(d("k0002") == (("removed", "v2", null)))
    // every other key in the rewritten file(s) is payload-unchanged → cancels
    assert(d.size == 3)
  }
}

class KVIndexSpec extends KVIndexSpecBase {
  import spark.implicits._

  override def newStore(): SnapshotStore = new FsSnapshotStore(tmpDir("graft-store"), spark)

  test("execute runs the same number of Spark jobs for 1, 2, 4 and 8 commands") {
    val store = newStore()
    val kvRows = (1 to 400).map(i => (f"k$i%04d", s"v$i"))
    // cycles upsert, versioned update, remove and plain insert, each on
    // its own five keys, spread over the index's files. The rows are a
    // computed plan, not an in-memory Seq, so even the driver tier spends
    // jobs on them: its bounded collects of the tags and the written rows.
    def keys(i: Int, prefix: String) =
      spark.range(1, 6).select(format_string(s"$prefix%04d", col("id") + i * 47).as("k"))
    def batch(n: Int): Seq[Command] = (0 until n).map { i =>
      i % 4 match {
        case 0 => Command.Insert(keys(i, "k").withColumn("v", lit("up")), upsert = true)
        case 1 => Command.Update(keys(i, "k").withColumn("v", lit("upd"))
          .withColumn("expectedVersion", lit("tx0")))
        case 2 => Command.Remove(keys(i, "k"))
        case _ => Command.Insert(keys(i, "nk").withColumn("v", lit("new")))
      }
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // the Spark fold and write (budget 0), and the driver tier, where only
    // the bounded collects of the computed batch run jobs
    for (budget <- Seq(0L, LocalScan.BudgetBytes)) {
      val perBatch = Seq(1, 2, 4, 8).map { n =>
        val id = s"tjobs$n-$budget"
        KVIndex.bootstrap(store, id, kvRows.toDF("k", "v"), Seq("k"),
          txVersion = "tx0", maxRowsPerFile = 32).fold(e => fail(e.message), identity)
        // reopened with the default file size: every batch writes one file
        val ix = KVIndex.open(store, id).toOption.get
        assert(ix.numFiles >= 10)
        val cmds = batch(n)
        Thread.sleep(500) // listener bus is async: let bootstrap's jobs drain
        spark.sparkContext.addSparkListener(listener)
        jobs.set(0)
        val res =
          try { val r = LocalScan.withBudget(budget)(ix.execute(cmds)); Thread.sleep(500); r }
          finally spark.sparkContext.removeSparkListener(listener)
        assert(res.success, s"$n commands: ${res.error}")
        assert(res.writeTier == (if (budget == 0L) WriteTier.Spark else WriteTier.Driver))
        val removed = (0 until n).count(_ % 4 == 2) * 5
        val inserted = (0 until n).count(_ % 4 == 3) * 5
        assert(KVIndex.open(store, id).toOption.get.count == 400 - removed + inserted)
        n -> jobs.get()
      }
      assert(perBatch.map(_._2).distinct.size == 1, s"jobs per batch size at budget $budget: $perBatch")
      assert(perBatch.head._2 <= 10, s"jobs per batch size at budget $budget: $perBatch")
    }
  }
}

class MemoryKVIndexSpec extends KVIndexSpecBase {
  override def newStore(): SnapshotStore = new MemorySnapshotStore(spark)
}

/** Third backend — embedded Derby, the reference's `CassandraSpec` move:
  * rerun the whole write-path contract against the JDBC store.
  */
class JdbcKVIndexSpec extends KVIndexSpecBase {
  override def newStore(): SnapshotStore = JdbcSnapshotStore.inMemory(spark)
}
