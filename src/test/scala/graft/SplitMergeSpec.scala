package graft

import graft.core._

/** Port of `SplitAndMergeIndexSpec.scala:149-179`: split at the median →
  * left ++ right equals the original and the original snapshot is
  * unchanged; merge of disjoint ranges round-trips; copy shares all files.
  * Runs against both storage backends, like the reference suite runs its
  * storages.
  */
abstract class SplitMergeSpecBase extends SparkSuite {
  import spark.implicits._

  def newStore(): SnapshotStore

  private def dump(ix: KVIndex): Seq[(String, String)] =
    ix.df.select("k", "v").as[(String, String)].collect().sorted.toSeq

  test("split at median: concat equals original, original untouched") {
    val store = newStore()
    val rows = (1 to 500).map(i => (f"k$i%04d", s"v$i"))
    val ix = KVIndex.bootstrap(store, "base", rows.toDF("k", "v"), Seq("k"),
      maxRowsPerFile = 64).toOption.get
    val (lm, rm) = ix.split("left", "right").toOption.get
    assert(lm.numElements == 250 && rm.numElements == 250)
    val left = KVIndex.open(store, "left").toOption.get
    val right = KVIndex.open(store, "right").toOption.get
    assert((dump(left) ++ dump(right)).sorted == rows.sorted)
    // split key boundary: every left key < every right key
    assert(dump(left).map(_._1).max < dump(right).map(_._1).min)
    // original unchanged
    assert(dump(ix) == rows.sorted)
    // split reused whole files: only the straddling file was rewritten
    val origPaths = ix.manifest.files.map(_.path).toSet
    val reused = (lm.files ++ rm.files).map(_.path).toSet.intersect(origPaths)
    assert(reused.size >= ix.numFiles - 1)
  }

  test("merge of disjoint indexes is a zero-copy manifest concat; capacity enforced") {
    val store = newStore()
    val a = KVIndex.bootstrap(store, "a",
      (1 to 100).map(i => (f"a$i%03d", "x")).toDF("k", "v"), Seq("k")).toOption.get
    val b = KVIndex.bootstrap(store, "b",
      (1 to 100).map(i => (f"b$i%03d", "y")).toDF("k", "v"), Seq("k")).toOption.get
    val m = a.merge(b, "ab").toOption.get
    assert(m.numElements == 200)
    assert(m.files.map(_.path).toSet ==
      (a.manifest.files ++ b.manifest.files).map(_.path).toSet) // zero data copy
    val merged = KVIndex.open(store, "ab").toOption.get
    assert(dump(merged) == (dump(a) ++ dump(b)).sorted)

    // capacity check (reference asserts ≤ MAX_N_ITEMS)
    val tiny = KVIndex.bootstrap(store, "tiny",
      (1 to 10).map(i => (f"c$i%03d", "z")).toDF("k", "v"), Seq("k"),
      maxNItems = 15).toOption.get
    val big = KVIndex.open(store, "a").toOption.get
    assert(tiny.merge(big, "overflow").left.exists(_.code == "MERGE_TOO_LARGE"))
  }

  test("capacity predicates: isFull and hasEnough unbounded, below, at and above maxNItems") {
    val store = newStore()
    val cap = KVIndex.bootstrap(store, "cap",
      (1 to 10).map(i => (f"c$i%03d", "z")).toDF("k", "v"), Seq("k"),
      maxNItems = 15).toOption.get
    val m = cap.manifest
    def at(n: Long, max: Long) = m.copy(numElements = n, maxNItems = max)
    // unbounded (any maxNItems <= 0): never full, always room
    for (max <- Seq(-1L, 0L)) {
      assert(!at(0, max).isFull && !at(Long.MaxValue / 2, max).isFull)
      assert(at(Long.MaxValue / 2, max).hasEnough(Long.MaxValue / 4))
    }
    assert(!at(14, 15).isFull && at(15, 15).isFull && at(16, 15).isFull)
    assert(at(14, 15).hasEnough(1) && !at(14, 15).hasEnough(2))
    assert(at(15, 15).hasEnough(0) && !at(15, 15).hasEnough(1))
    assert(!at(16, 15).hasEnough(0))
    // merge admits exactly what hasEnough admits: 10 + 5 fits, 10 + 6 does not
    val five = KVIndex.bootstrap(store, "five",
      (1 to 5).map(i => (f"d$i%03d", "y")).toDF("k", "v"), Seq("k")).toOption.get
    val six = KVIndex.bootstrap(store, "six",
      (1 to 6).map(i => (f"e$i%03d", "y")).toDF("k", "v"), Seq("k")).toOption.get
    assert(cap.merge(five, "cap5").map(_.numElements) == Right(15L))
    assert(cap.merge(six, "cap6").left.exists(e =>
      e.code == "MERGE_TOO_LARGE" && e.message.contains("16")))
    // an unbounded left side merges any size
    assert(six.merge(cap, "six_cap").map(_.numElements) == Right(16L))
  }

  test("copy: new id shares every data file (cheap clone)") {
    val store = newStore()
    val a = KVIndex.bootstrap(store, "src",
      (1 to 64).map(i => (f"k$i%03d", s"v$i")).toDF("k", "v"), Seq("k")).toOption.get
    val m = a.copyTo("clone").toOption.get
    assert(m.files.map(_.path) == a.manifest.files.map(_.path))
    val clone = KVIndex.open(store, "clone").toOption.get
    assert(dump(clone) == dump(a))
    // a write to the clone never disturbs the source (COW sharing)
    val r = clone.execute(Seq(Command.Remove(Seq("k001").toDF("k"))))
    assert(r.success)
    assert(dump(KVIndex.open(store, "src").toOption.get) == dump(a))
  }

  test("merge with overlapping ranges is rejected") {
    val store = newStore()
    val a = KVIndex.bootstrap(store, "o1",
      (1 to 50).map(i => (f"k$i%03d", "x")).toDF("k", "v"), Seq("k")).toOption.get
    val b = KVIndex.bootstrap(store, "o2",
      (25 to 75).map(i => (f"k$i%03d", "y")).toDF("k", "v"), Seq("k")).toOption.get
    intercept[IllegalArgumentException] { a.merge(b, "bad") }
  }
}

class SplitMergeSpec extends SplitMergeSpecBase {
  override def newStore(): SnapshotStore = new FsSnapshotStore(tmpDir("graft-sm"), spark)
}

class MemorySplitMergeSpec extends SplitMergeSpecBase {
  override def newStore(): SnapshotStore = new MemorySnapshotStore(spark)
}

class JdbcSplitMergeSpec extends SplitMergeSpecBase {
  override def newStore(): SnapshotStore = JdbcSnapshotStore.inMemory(spark)
}
