package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming: the windowed aggregate must emit, through a real
  * streaming query (MemoryStream source, append mode, watermark), rows
  * identical to the batch twin; stateful sessionization must close
  * sessions on gap breaks.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private def ev(id: Long, min: Int, user: Long = 1L, tpe: String = "view",
                 value: Double = 1.0): Event = Event(id, ts(min), user, tpe, value)

  test("windowed counts: streaming append output equals batch computation") {
    val events = (0 until 240).map(i =>
      ev(i.toLong, i, user = i % 5, tpe = if (i % 3 == 0) "click" else "view", value = i * 1.0))
    val batch = EventStreams.windowedCounts(events.toDF())
      .orderBy("window_start", "event_type").collect().toSeq

    val input = MemoryStream[Event](spark)
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.outputMode("append").format("memory").queryName("wc_out").start()
    // feed in two chunks so the watermark advances past the early windows
    input.addData(events.take(200))
    q.processAllAvailable()
    input.addData(events.drop(200))
    q.processAllAvailable()
    val streamed = spark.table("wc_out").collect().toSeq
    q.stop()
    assert(streamed.nonEmpty, "watermark should have closed early windows")
    val batchSet = batch.map(_.toSeq).toSet
    streamed.foreach(r => assert(batchSet.contains(r.toSeq),
      s"streamed row $r missing from batch result"))
    spark.sql("DROP TABLE IF EXISTS wc_out")
  }

  test("streaming top-k per window equals the batch rank") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val events = (0 until 180).map(i => ev(i.toLong, i, user = i % 5,
      tpe = Seq("view", "click", "buy")(i % 3), value = 1.0))
    val dir = tmpDir("st-topk")
    events.toDF().write.mode("overwrite").parquet(dir)
    val live = EventStreams.topEventTypesLive(spark, dir, 2)
      .select("window_start", "event_type", "n_events", "rank")
      .orderBy("window_start", "rank").collect().toSeq
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    val batch = EventStreams.windowedCounts(events.toDF())
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .select("window_start", "event_type", "n_events", "rank")
      .orderBy("window_start", "rank").collect().toSeq
    assert(live.nonEmpty && live.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("stream-static enrichment join equals the batch join") {
    import org.apache.spark.sql.functions._
    val events = (0 until 120).map(i => ev(i.toLong, i, user = i % 4,
      tpe = "view", value = 2.5 + i))
    val dir = tmpDir("st-enrich")
    events.toDF().write.mode("overwrite").parquet(dir)
    val custs = Seq((0L, "AUTO"), (1L, "BIKE"), (2L, "AUTO"), (3L, "SHIP"))
      .toDF("c_custkey", "c_mktsegment")
    val live = EventStreams.enrichedSegmentRevenueLive(spark, dir, custs)
      .select("window_start", "segment", "n_events", "sum_value")
      .orderBy("window_start", "segment").collect().toSeq
    val batch = events.toDF()
      .join(custs.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment")), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        EventStreams.exactCentSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "segment").collect().toSeq
    assert(live.nonEmpty && live.map(_.toSeq) == batch.map(_.toSeq))
  }

  test("batch sessionization: gap splits sessions, aggregates correct") {
    val rows = Seq(
      ev(1, 0, 1L, value = 1.0), ev(2, 10, 1L, value = 2.0), ev(3, 20, 1L, value = 3.0),
      ev(4, 120, 1L, value = 4.0), ev(5, 125, 1L, value = 5.0),
      ev(6, 7, 2L, value = 10.0)).toDF()
    val sess = EventStreams.sessionizeBatch(rows, gapMs = 30 * 60 * 1000L)
      .select("user_id", "session_no", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().sorted
    assert(sess.toSeq == Seq((1L, 1L, 3L, 6.0), (1L, 2L, 2L, 9.0), (2L, 1L, 1L, 10.0)))
  }

  test("streaming ingest into the versioned store: one snapshot per batch, time travel works") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-stream-store"), spark)
    val input = MemoryStream[Event](spark)
    val q = EventStreams.streamIntoIndex(
      input.toDF().select($"event_id", $"event_type", $"value"),
      store, "ev", Seq("event_id"))
    try {
      input.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      val v1 = KVIndex.open(store, "ev").toOption.get
      assert(v1.count == 2)
      input.addData(ev(3, 2), ev(1, 3, tpe = "click")) // 1 new + 1 upsert
      q.processAllAvailable()
      val v2 = KVIndex.open(store, "ev").toOption.get
      assert(v2.count == 3)
      assert(v2.df.filter($"event_id" === 1).select("event_type").as[String].head() == "click")
      // the first batch's snapshot is still intact (snapshot isolation)
      assert(v1.df.count() == 2)
      assert(v1.df.filter($"event_id" === 1).select("event_type").as[String].head() == "view")
      // temporal log recorded both versions
      assert(store.historyLog("ev").size == 2)
    } finally q.stop()
  }

  test("writeStream.format(\"graft\"): each micro-batch commits one COW version") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-sink-fmt"), spark)
    val input = MemoryStream[(Long, String)](spark)
    val q = input.toDF().toDF("k", "v")
      .writeStream.format("graft")
      .option("root", store.root).option("path", "snk").option("keys", "k")
      .option("checkpointLocation", tmpDir("graft-sink-ckpt"))
      .outputMode("update")
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      val v1 = KVIndex.open(store, "snk").toOption.get
      assert(v1.count == 2)
      input.addData((3L, "c"), (1L, "a2")) // 1 new + 1 upsert
      q.processAllAvailable()
      val v2 = KVIndex.open(store, "snk").toOption.get
      assert(v2.count == 3)
      assert(v2.get(Seq(1L)).select("v").as[String].head() == "a2")
      // snapshot isolation across batches + temporal log per batch
      assert(v1.df.count() == 2)
      assert(store.historyLog("snk").size == 2)
      // the batch id IS the transaction id — the replay check's handle
      assert(v2.manifest.lastChangeVersion == "stream-batch-1")
    } finally q.stop()
  }

  test("readStream.format(\"graft\"): snapshot history streams as change data") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-cdc"), spark)
    var ix = KVIndex.bootstrap(store, "cdc",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"))
      .fold(e => fail(e.message), identity)
    val q = spark.readStream.format("graft")
      .option("root", store.root).load("cdc")
      .writeStream.format("memory").queryName("cdc_out")
      .option("checkpointLocation", tmpDir("graft-cdc-ckpt"))
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // initial batch: the whole v1 snapshot as `added`
      def rows() = spark.table("cdc_out").orderBy("k", "_change")
        .as[(Long, String, String)].collect().toSeq
      assert(rows() == Seq((1L, "a", "added"), (2L, "b", "added")))
      // v2: one upsert + one insert -> changed + added
      val r2 = ix.execute(Seq(Command.Insert(
        Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), upsert = true)))
      ix = new KVIndex(store, r2.orThrow)
      q.processAllAvailable()
      assert(rows().contains((1L, "a2", "changed")) && rows().contains((3L, "c", "added")),
        rows().toString)
      // v3: remove -> removed (values from the old side)
      val r3 = ix.execute(Seq(Command.Remove(Seq(Tuple1(2L)).toDF("k"))))
      ix = new KVIndex(store, r3.orThrow)
      q.processAllAvailable()
      assert(rows().contains((2L, "b", "removed")), rows().toString)
      assert(rows().size == 5, s"exactly one change row per change: ${rows()}")
    } finally q.stop()
  }

  test("CDC admission control: a version gap drains in ceil(gap/max) bounded " +
       "batches whose union equals the full diff") {
    import graft.core._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val store = new FsSnapshotStore(tmpDir("graft-cdc-cap"), spark)
    var ix = KVIndex.bootstrap(store, "cap",
      Seq((0L, "base")).toDF("k", "v"), Seq("k"))
      .fold(e => fail(e.message), identity)
    // six more committed versions (v2..v7): the month-of-commits gap
    for (i <- 1 to 6) {
      val r = ix.execute(Seq(Command.Insert(Seq((i.toLong, s"v$i")).toDF("k", "v"))))
      ix = new KVIndex(store, r.orThrow)
    }
    assert(ix.manifest.version == 7L)

    val src = new graft.sources.GraftChangeSource(store, "cap",
      maxVersionsPerBatch = Some(2L))
    // restart recovery: Spark replays getBatch for the last checkpointed
    // batch before asking for new offsets — the reader had consumed v1
    src.getBatch(None, LongOffset(1L))
    // drain: each offset step spans at most 2 versions -> 3 batches
    var cur = 1L
    val batches = Seq.newBuilder[(Long, Long)]
    val seen = Seq.newBuilder[(Long, String, String)]
    var guard = 0
    while (cur < 7L && guard < 10) {
      val next = src.getOffset.get.asInstanceOf[LongOffset].offset
      assert(next - cur <= 2L, s"batch $cur->$next spans more than the cap")
      assert(next > cur, "offset must advance")
      // getBatch returns a streaming-tagged frame (the engine normally
      // consumes it); re-tag as a batch to collect it in the test
      seen ++= org.apache.spark.sql.graft.Shim
        .streamingRddAsBatch(src.getBatch(Some(LongOffset(cur)), LongOffset(next)))
        .as[(Long, String, String)].collect()
      batches += ((cur, next))
      cur = next
      guard += 1
    }
    assert(batches.result() == Seq((1L, 3L), (3L, 5L), (5L, 7L)),
      s"gap of 6 versions with cap 2 must drain in exactly 3 batches: ${batches.result()}")
    // union of the stepwise batches == the end-to-end diff v1 -> v7
    val full = new KVIndex(store, store.loadVersionLazy("cap", 1L))
      .diff(new KVIndex(store, store.loadVersionLazy("cap", 7L)))
      .select($"k", org.apache.spark.sql.functions.coalesce($"new_v", $"old_v").as("v"), $"change")
      .as[(Long, String, String)].collect().toSet
    assert(seen.result().toSet == full, "stepwise union must equal the full diff")
    // once caught up, the next offset stays put (no phantom batches)
    assert(src.getOffset.get.asInstanceOf[LongOffset].offset == 7L)
  }

  test("streaming ingest with per-batch incremental dedup: one row per distinct text, first writer wins") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-incr-stream"), spark)
    val input = MemoryStream[(Long, String)](spark)
    val q = EventStreams.streamDedupIngest(
      input.toDF().toDF("doc_id", "text"), store, "docs", Seq("doc_id"))
    try {
      // batch 1 carries a within-batch dup (ids 1 and 3 share "alpha")
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      val v1 = KVIndex.open(store, "docs").toOption.get
      assert(v1.count == 2, "within-batch dedup keeps one row per text")
      // batch 2: one cross-batch dup ("beta"), one new ("gamma", itself duped)
      input.addData((4L, "beta"), (5L, "gamma"), (6L, "gamma"))
      q.processAllAvailable()
      val v2 = KVIndex.open(store, "docs").toOption.get
      assert(v2.count == 3)
      val rows = v2.df.select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "alpha"), (2L, "beta"), (5L, "gamma")),
        s"first writer wins per text, got $rows")
      // snapshot isolation across ingest batches
      assert(v1.df.count() == 2)
      assert(store.historyLog("docs").size == 2)
      // an all-duplicate batch commits no new rows AND records no snapshot
      input.addData((7L, "alpha"))
      q.processAllAvailable()
      assert(KVIndex.open(store, "docs").toOption.get.count == 3)
      assert(store.historyLog("docs").size == 2,
        "no-op batch must not grow the temporal log")
    } finally q.stop()
  }

  test("near-dup ingest: the pruned band probe and the full band-scan fallback keep the same survivors") {
    import graft.core._
    def longText(i: Int): String =
      (0 until 12).map(j => s"w${(i * 31 + j * 7) % 997}x$j").mkString(" ")
    // new docs, exact clones (always dropped) and near-clones (one token
    // appended) of earlier batches
    val batches = Seq(
      (1 to 20).map(i => (i.toLong, longText(i))),
      (21 to 30).map(i => (i.toLong, longText(i))) ++
        (1 to 5).map(i => (100L + i, longText(i))) ++
        (6 to 10).map(i => (150L + i, longText(i) + " zz")),
      (31 to 35).map(i => (i.toLong, longText(i))) ++
        (21 to 23).map(i => (200L + i, longText(i))))
    def ingest(budget: Long) = {
      val store = new FsSnapshotStore(tmpDir("graft-neardup-stream"), spark)
      val input = MemoryStream[(Long, String)](spark)
      // started inside the scope, so the stream thread inherits the budget
      val q = LocalScan.withBudget(budget)(EventStreams.streamNearDupIngest(
        input.toDF().toDF("doc_id", "text"), store, "docs", "bands", Seq("doc_id")))
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      (KVIndex.open(store, "docs").toOption.get.df.select("doc_id").as[Long].collect().toSet,
        store.historyLog("docs").map(_._2), store.historyLog("bands").map(_._2))
    }
    val fullScan = ingest(0L)
    val pruned = ingest(LocalScan.BudgetBytes)
    assert(pruned == fullScan)
    val (survivors, docVersions, bandVersions) = pruned
    assert((1L to 35L).toSet.subsetOf(survivors))
    assert(survivors.intersect((101L to 105L).toSet ++ (221L to 223L).toSet).isEmpty,
      "exact clones must drop")
    assert(docVersions.size == 3 && bandVersions.size == 3)
  }

  test("dedup ingest is O(batch) steady-state: no per-batch corpus scan, all-new batches skip the verify join") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-incr-flat"), spark)
    val input = MemoryStream[(Long, String)](spark)
    val stats = new EventStreams.IngestStats
    val q = EventStreams.streamDedupIngest(
      input.toDF().toDF("doc_id", "text"), store, "docs", Seq("doc_id"),
      stats = stats)
    try {
      // 8 batches of all-new texts — the corpus grows every batch, so a
      // per-batch rebuild (the round-8 defect) would show up as 7 corpus
      // rebuilds; the cached+merged sketch does ZERO (it was seeded at
      // bootstrap) and never needs the exact verify join either
      for (b <- 0 until 8) {
        input.addData((0 until 10).map(i => (b * 100L + i, s"uniq text $b-$i")))
        q.processAllAvailable()
      }
      assert(KVIndex.open(store, "docs").toOption.get.count == 80)
      assert(stats.corpusRebuilds.get() == 0,
        "cached sketch must never be rebuilt from a corpus scan mid-stream")
      assert(stats.exactVerifies.get() == 0,
        "all-new batches must skip the exact anti join entirely")
      // a batch carrying a true duplicate DOES take the verify path once,
      // and the merged sketch (not a rebuild) is what caught it
      input.addData((9999L, "uniq text 0-0"), (9998L, "really new"))
      q.processAllAvailable()
      assert(stats.exactVerifies.get() == 1)
      assert(stats.corpusRebuilds.get() == 0)
      val ix = KVIndex.open(store, "docs").toOption.get
      assert(ix.count == 81, "dup dropped, new row kept")
    } finally q.stop()
  }

  test("dedup ingest restart: one corpus rebuild seeds the sketch, dedup stays exact") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-incr-restart"), spark)
    val input1 = MemoryStream[(Long, String)](spark)
    val q1 = EventStreams.streamDedupIngest(
      input1.toDF().toDF("doc_id", "text"), store, "docs", Seq("doc_id"))
    try {
      input1.addData((1L, "alpha"), (2L, "beta"))
      q1.processAllAvailable()
    } finally q1.stop()
    // a NEW query over the SAME store (process restart): the cached sketch
    // is gone, so exactly ONE corpus scan rebuilds it — then it's cached
    val stats = new EventStreams.IngestStats
    val input2 = MemoryStream[(Long, String)](spark)
    val q2 = EventStreams.streamDedupIngest(
      input2.toDF().toDF("doc_id", "text"), store, "docs", Seq("doc_id"),
      stats = stats)
    try {
      input2.addData((3L, "alpha"), (4L, "gamma")) // one pre-restart dup
      q2.processAllAvailable()
      input2.addData((5L, "delta"))
      q2.processAllAvailable()
      assert(stats.corpusRebuilds.get() == 1,
        "restart must rebuild the sketch exactly once, then cache it")
      val rows = KVIndex.open(store, "docs").toOption.get
        .df.select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "alpha"), (2L, "beta"), (4L, "gamma"), (5L, "delta")),
        s"pre-restart duplicates must still be caught, got $rows")
    } finally q2.stop()
  }

  test("dedup ingest auto-compacts: file count stays bounded over a long stream, content invariant") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-incr-compact"), spark)
    val input = MemoryStream[(Long, String)](spark)
    val stats = new EventStreams.IngestStats
    val q = EventStreams.streamDedupIngest(
      input.toDF().toDF("doc_id", "text"), store, "docs", Seq("doc_id"),
      compactAboveFiles = 4, stats = stats)
    try {
      // 20 committing batches; without compaction the manifest would hold
      // ~20 files (one per commit at these sizes)
      for (b <- 0 until 20) {
        input.addData((0 until 5).map(i => (b * 100L + i, s"long stream $b-$i")))
        q.processAllAvailable()
      }
      val ix = KVIndex.open(store, "docs").toOption.get
      assert(ix.count == 100, "compaction must not lose or duplicate rows")
      assert(ix.df.select("text").distinct().count() == 100)
      assert(ix.numFiles <= 5,
        s"file count must stay bounded by the compaction threshold, got ${ix.numFiles}")
      assert(stats.compactions.get() >= 1)
      // dedup still exact after compaction rewrote the files
      input.addData((8888L, "long stream 0-0"))
      q.processAllAvailable()
      assert(KVIndex.open(store, "docs").toOption.get.count == 100)
    } finally q.stop()
  }

  test("stateful streaming sessionization closes a session when a gap appears") {
    val input = MemoryStream[Event](spark)
    // NoTimeout in the test: ProcessingTimeTimeout makes the engine poll
    // batches forever, so processAllAvailable never settles under test
    val q = EventStreams.sessionize(input.toDS(), gapMs = 60000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    input.addData(ev(1, 0, 7L, value = 1.0), ev(2, 0, 7L, value = 2.0))
    q.processAllAvailable()
    input.addData(ev(3, 10, 7L, value = 3.0)) // 10 min later → closes session 1
    q.processAllAvailable()
    val closed = spark.table("sess_out")
      .select("user_id", "n_events", "sum_value").as[(Long, Int, Double)].collect()
    q.stop()
    assert(closed.toSeq == Seq((7L, 2, 3.0)))
    spark.sql("DROP TABLE IF EXISTS sess_out")
  }
}
