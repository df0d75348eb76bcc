package graft

import org.apache.spark.sql.functions._
import graft.core._

/** SCD2 history materialization: validity intervals rebuilt from COW
  * diffs must equal the intervals a per-version model derives from the
  * literal snapshot states — pinned by hand cases and a randomized
  * mutation-sequence differential on both backends.
  */
class Scd2Spec extends SparkSuite {
  import spark.implicits._

  private type Interval = (Long, Long, Long, Option[Long]) // k, v, from, to

  /** Model: replay the full per-version states, derive intervals. */
  private def modelIntervals(states: Seq[(Long, Map[Long, Long])]): Set[Interval] = {
    val out = Seq.newBuilder[Interval]
    val open = scala.collection.mutable.Map.empty[Long, (Long, Long)] // k -> (value, from)
    for ((ver, state) <- states) {
      // closes / changes
      for ((k, (v, from)) <- open.toSeq) state.get(k) match {
        case Some(nv) if nv == v => // unchanged
        case Some(nv) =>
          out += ((k, v, from, Some(ver))); open(k) = (nv, ver)
        case None =>
          out += ((k, v, from, Some(ver))); open.remove(k)
      }
      // adds
      for ((k, v) <- state if !open.contains(k)) open(k) = (v, ver)
    }
    for ((k, (v, from)) <- open) out += ((k, v, from, None))
    out.result().toSet
  }

  private def gotIntervals(store: SnapshotStore, id: String): Set[Interval] =
    Scd2.scd2(store, id)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

  test("hand case: add, change, no-op rewrite, remove, re-add") {
    val store = new MemorySnapshotStore(spark)
    def df(rows: (Long, Long)*) = rows.toDF("k", "x")
    val v1 = KVIndex.bootstrap(store, "h", df(1L -> 10L, 2L -> 20L, 3L -> 30L), Seq("k"))
      .fold(e => fail(e.message), identity)
    store.recordSnapshot("h", v1.manifest.version, 100L)
    // v2: change k=1, payload-identical rewrite of k=2 (must NOT open a
    // new incarnation), remove k=3
    val m2 = v1.execute(Seq(
      Command.Insert(df(1L -> 11L, 2L -> 20L), upsert = true),
      Command.Remove(Seq(3L).toDF("k")))).orThrow
    store.recordSnapshot("h", m2.version, 200L)
    // v3: re-add k=3 with a new value
    val m3 = new KVIndex(store, m2).execute(Seq(
      Command.Insert(df(3L -> 31L)))).orThrow
    store.recordSnapshot("h", m3.version, 300L)
    val (a, b, c) = (v1.manifest.version, m2.version, m3.version)
    val got = gotIntervals(store, "h")
    assert(got == Set[Interval](
      (1L, 10L, a, Some(b)), (1L, 11L, b, None),
      (2L, 20L, a, None), // the no-op rewrite cancels in diff
      (3L, 30L, a, Some(b)), (3L, 31L, c, None)))
  }

  test("asOf: point-in-time probes hit the right incarnation, gaps and unknowns are null") {
    val store = new MemorySnapshotStore(spark)
    def df(rows: (Long, Long)*) = rows.toDF("k", "x")
    val v1 = KVIndex.bootstrap(store, "a", df(1L -> 10L, 3L -> 30L), Seq("k"))
      .fold(e => fail(e.message), identity)
    store.recordSnapshot("a", v1.manifest.version, 100L)
    val m2 = v1.execute(Seq(
      Command.Insert(df(1L -> 11L), upsert = true),
      Command.Remove(Seq(3L).toDF("k")))).orThrow
    store.recordSnapshot("a", m2.version, 200L)
    val m3 = new KVIndex(store, m2).execute(Seq(
      Command.Insert(df(3L -> 31L)))).orThrow
    store.recordSnapshot("a", m3.version, 300L)
    val vs = Seq(v1.manifest.version, m2.version, m3.version)
    val probes = (for (k <- Seq(1L, 3L, 99L); v <- vs) yield (k, v))
      .toDF("k", "pv")
    val got = Scd2.asOf(Scd2.scd2(store, "a"), probes, Seq("k"), "pv")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(got == Set(
      (1L, vs(0), Some(10L)), (1L, vs(1), Some(11L)), (1L, vs(2), Some(11L)),
      (3L, vs(0), Some(30L)), (3L, vs(1), None), (3L, vs(2), Some(31L)),
      (99L, vs(0), None), (99L, vs(1), None), (99L, vs(2), None)))
  }

  test("asOfIndex over the materialized view == asOf over the assembled frame") {
    val store = new MemorySnapshotStore(spark)
    def df(rows: (Long, Long)*) = rows.toDF("k", "x")
    val v1 = KVIndex.bootstrap(store, "ai", df(1L -> 10L, 3L -> 30L), Seq("k"))
      .fold(e => fail(e.message), identity)
    store.recordSnapshot("ai", v1.manifest.version, 100L)
    val m2 = v1.execute(Seq(
      Command.Insert(df(1L -> 11L), upsert = true),
      Command.Remove(Seq(3L).toDF("k")))).orThrow
    store.recordSnapshot("ai", m2.version, 200L)
    val m3 = new KVIndex(store, m2).execute(Seq(
      Command.Insert(df(3L -> 31L)))).orThrow
    store.recordSnapshot("ai", m3.version, 300L)
    val view = Scd2.materialize(store, "aih", "ai").fold(e => fail(e.message), identity)
    val vs = Seq(v1.manifest.version, m2.version, m3.version)
    // duplicate probes and unknown keys included; the removal gap (k=3
    // at v2) must null through the floor's CLOSED valid_to
    val probes = ((for (k <- Seq(1L, 3L, 99L); v <- vs) yield (k, v)) ++
      Seq((1L, vs(2)))).toDF("k", "pv")
    def shaped(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
        .sortBy(t => (t._1, t._2, t._3.getOrElse(-1L)))
    val viaIndex = shaped(Scd2.asOfIndex(view, probes, Seq("k"), "pv"))
    val viaFrame = shaped(Scd2.asOf(Scd2.scd2(store, "ai"), probes, Seq("k"), "pv"))
    assert(viaIndex == viaFrame)
    assert(viaIndex.contains((3L, vs(1), None)), "removal gap must null")
    assert(viaIndex.count(_ == ((1L, vs(2), Some(11L)))) == 2, "duplicate probes")
  }

  test("materialize + incremental refresh equals the full rebuild at every step") {
    val rnd = new scala.util.Random(11)
    val store = new MemorySnapshotStore(spark)
    var state = (0L until 30L).map(k => k -> (k * 10)).toMap
    var ix = KVIndex.bootstrap(store, "m", state.toSeq.toDF("k", "x"), Seq("k"))
      .fold(e => fail(e.message), identity)
    store.recordSnapshot("m", ix.manifest.version, 0L)
    def mutate(step: Int): Unit = {
      val ups = (0 until 8).map(_ => rnd.nextInt(40).toLong)
        .distinct.map(k => k -> rnd.nextInt(4).toLong)
      val rems = (0 until 4).map(_ => rnd.nextInt(40).toLong).distinct
        .filter(k => state.contains(k) && !ups.exists(_._1 == k))
      val m = ix.execute(Seq(
        Command.Insert(ups.toDF("k", "x"), upsert = true),
        Command.Remove(rems.toDF("k")))).orThrow
      state = (state ++ ups.toMap) -- rems
      ix = new KVIndex(store, m)
      store.recordSnapshot("m", m.version, step * 10L)
    }
    mutate(1); mutate(2)
    val view0 = Scd2.materialize(store, "mview", "m")
      .fold(e => fail(e.message), identity)
    def content(v: KVIndex): Set[(Long, Long, Long, Option[Long])] =
      v.df.select("k", "x", "valid_from", "valid_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    def rebuilt(): Set[(Long, Long, Long, Option[Long])] =
      Scd2.scd2(store, "m").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(content(view0) == rebuilt(), "materialize")
    // a no-op refresh must return the SAME manifest (nothing committed)
    val same = Scd2.refresh(store, "mview").fold(e => fail(e.message), identity)
    assert(same.manifest.version == view0.manifest.version, "no-op refresh")
    // single-version and multi-version (gap) refreshes both converge
    mutate(3)
    val v1 = Scd2.refresh(store, "mview").fold(e => fail(e.message), identity)
    assert(content(v1) == rebuilt(), "refresh over one version")
    mutate(4); mutate(5)
    val v2 = Scd2.refresh(store, "mview").fold(e => fail(e.message), identity)
    assert(content(v2) == rebuilt(), "refresh over a two-version gap")
  }

  test("randomized mutation sequences equal the state-replay model (both backends)") {
    val rnd = new scala.util.Random(7)
    for (backend <- Seq("fs", "mem")) {
      val store: SnapshotStore =
        if (backend == "fs") new FsSnapshotStore(tmpDir("graft-scd2"), spark)
        else new MemorySnapshotStore(spark)
      var state = (0L until 40L).map(k => k -> (k * 100)).toMap
      var ix = KVIndex.bootstrap(store, "r",
        state.toSeq.toDF("k", "x"), Seq("k")).fold(e => fail(e.message), identity)
      store.recordSnapshot("r", ix.manifest.version, 0L)
      val states = Seq.newBuilder[(Long, Map[Long, Long])]
      states += ((ix.manifest.version, state))
      for (step <- 1 to 6) {
        val ups = (0 until 10).map(_ => rnd.nextInt(50).toLong)
          .distinct.map(k => k -> rnd.nextInt(5).toLong) // small range forces no-ops too
        val rems = (0 until 5).map(_ => rnd.nextInt(50).toLong).distinct
          .filter(k => state.contains(k) && !ups.exists(_._1 == k))
        val m = ix.execute(Seq(
          Command.Insert(ups.toDF("k", "x"), upsert = true),
          Command.Remove(rems.toDF("k")))).orThrow
        state = (state ++ ups.toMap) -- rems
        ix = new KVIndex(store, m)
        store.recordSnapshot("r", m.version, step * 100L)
        states += ((m.version, state))
      }
      assert(gotIntervals(store, "r") == modelIntervals(states.result()),
        s"[$backend]")
    }
  }

  /** FS store double recording which data files each read opens, on
    * Spark (readFiles) and on the driver (localParquet).
    */
  private class RecordingFsStore(root0: String) extends FsSnapshotStore(root0, spark) {
    val reads = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    override def readFiles(paths: Seq[String],
                           m: SnapshotManifest): org.apache.spark.sql.DataFrame = {
      reads += paths
      super.readFiles(paths, m)
    }
    override private[graft] def localParquet(paths: Seq[String]): Option[Seq[String]] = {
      reads += paths
      super.localParquet(paths)
    }
  }

  test("refresh's seed read prunes to covering view files; the corpus-churn fallback converges identically") {
    val store = new RecordingFsStore(tmpDir("graft-scd2-prune"))
    val ix0 = KVIndex.bootstrap(store, "p",
      (0L until 400L).map(k => k -> k * 10).toDF("k", "x"), Seq("k"),
      maxRowsPerFile = 32).fold(e => fail(e.message), identity)
    store.recordSnapshot("p", ix0.manifest.version, 0L)
    val view0 = Scd2.materialize(store, "pview", "p", maxRowsPerFile = 32)
      .fold(e => fail(e.message), identity)
    val viewFiles = view0.numFiles
    assert(viewFiles >= 8, s"need a multi-file view, got $viewFiles")

    // churn TWO keys out of 400 → the open-incarnation seed read must
    // touch only the view files covering those keys, never the whole view
    val m2 = ix0.execute(Seq(Command.Insert(
      Seq(7L -> 9990L, 350L -> 8880L).toDF("k", "x"), upsert = true))).orThrow
    store.recordSnapshot("p", m2.version, 10L)
    store.reads.clear()
    val v1 = Scd2.refresh(store, "pview").fold(e => fail(e.message), identity)
    val viewReads = store.reads.toSeq.flatten
      .filter(_.contains("/pview/")).distinct
    assert(viewReads.nonEmpty && viewReads.size < viewFiles / 2,
      s"expected a covering-file-pruned view read, opened ${viewReads.size} of $viewFiles")
    def rebuilt(): Set[(Long, Long, Long, Option[Long])] =
      Scd2.scd2(store, "p").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    def content(v: KVIndex): Set[(Long, Long, Long, Option[Long])] =
      v.df.select("k", "x", "valid_from", "valid_to").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(content(v1) == rebuilt(), "pruned refresh")

    // corpus-scale churn path: a driver budget of 0 forces the
    // full-scan + semi-join fallback — same converged view
    val m3 = new KVIndex(store, m2).execute(Seq(Command.Insert(
      Seq(9L -> 7770L, 123L -> 6660L).toDF("k", "x"), upsert = true))).orThrow
    store.recordSnapshot("p", m3.version, 20L)
    val v2 = LocalScan.withBudget(0L)(Scd2.refresh(store, "pview"))
      .fold(e => fail(e.message), identity)
    assert(content(v2) == rebuilt(), "fallback refresh")
  }
}
