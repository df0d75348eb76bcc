package graft

import org.apache.spark.sql.functions._
import graft.core._

/** The r20 optimization pass made single-file `writeData` collect its
  * count/min/max DURING the write job (observe) instead of re-reading
  * the written parquet — this spec pins that the observed stats are
  * IDENTICAL to the read-back stats the old path computed, on every
  * parquet-writing backend, including composite and timestamp keys
  * (the types where a pre-write vs post-parquet-round-trip divergence
  * would corrupt manifest pruning silently).
  */
class WriteStatsSpec extends SparkSuite {
  import spark.implicits._

  private def fsStore() = new FsSnapshotStore(tmpDir("graft-wstats"), spark)

  test("single-file write: observed stats equal the parquet read-back stats") {
    val store = fsStore()
    val df = Seq((5L, "e", 1.5), (1L, "a", 0.5), (3L, "c", 2.5))
      .toDF("k", "name", "v")
    val ix = KVIndex.bootstrap(store, "t1", df, Seq("k"))
      .fold(e => fail(e.message), identity)
    val fs = ix.manifest.files
    assert(fs.size == 1)
    val f = fs.head
    assert(f.rows == 3L)
    // recompute through the OLD path (read the written file back) and
    // compare entry-for-entry — path, rows, min, max
    val dir = f.path.stripSuffix("/" + java.nio.file.Paths.get(
      new java.net.URI(f.path).getPath).getFileName.toString)
    val readBack = store.fileStats(dir, ix.key, ix.df.schema)
    assert(readBack == fs, s"observed $fs != read-back $readBack")
  }

  test("composite + timestamp keys: observed extrema match read-back") {
    val store = fsStore()
    val df = Seq(
      ("b", java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456"), 2L),
      ("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("b", java.sql.Timestamp.valueOf("2023-12-31 23:59:59.999999"), 3L))
      .toDF("g", "ts", "v")
    val ix = KVIndex.bootstrap(store, "t2", df, Seq("g", "ts"))
      .fold(e => fail(e.message), identity)
    assert(ix.manifest.files.size == 1)
    val f = ix.manifest.files.head
    val dir = f.path.stripSuffix("/" + java.nio.file.Paths.get(
      new java.net.URI(f.path).getPath).getFileName.toString)
    val readBack = store.fileStats(dir, ix.key, ix.df.schema)
    assert(readBack == ix.manifest.files.toSeq)
    // and the pruned point read still finds its row through these stats
    val got = ix.get(Seq("b", java.sql.Timestamp.valueOf("2024-03-01 10:00:00.123456")))
      .select("v").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("empty single-partition write records zero files") {
    val store = fsStore()
    val df = Seq((1L, "x")).toDF("k", "v").filter(col("k") < 0L)
    val ix = KVIndex.bootstrap(store, "t3", df, Seq("k"))
      .fold(e => fail(e.message), identity)
    assert(ix.manifest.files.isEmpty && ix.manifest.numElements == 0L)
  }

  test("multi-file write keeps exact per-file stats (read-back path)") {
    val store = fsStore()
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val ix = KVIndex.bootstrap(store, "t4", df, Seq("k"), maxRowsPerFile = 25)
      .fold(e => fail(e.message), identity)
    assert(ix.manifest.files.size > 1)
    assert(ix.manifest.files.map(_.rows).sum == 100L)
    // files are disjoint and ordered — the layout invariant the
    // single-file fast path must not have disturbed for its siblings
    val fs = ix.manifest.files
    fs.sliding(2).foreach {
      case Seq(a, b) => assert(KeyOrd.compare(a.max, b.min) < 0)
      case _ =>
    }
  }
}
