package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * The reference has no streaming runtime (SURVEY §2.9) — its closest
  * analogue is the incremental snapshot stream (every `save()` = a new
  * version, reference `TemporalIndex.scala:21-27`). These are the engine
  * extensions a pipeline needs, written as idiomatic Structured Streaming:
  * event-time windows + watermark for bounded state, and
  * `flatMapGroupsWithState` for custom sessionization state.
  *
  * Every transform below works identically on a batch DataFrame (Spark's
  * unified model), which is how the DuckDB oracle checks them.
  */
object EventStreams {

  /** Order-independent exact sum of a 2-decimal double column: scale to
    * integer cents (bit-identical in any IEEE engine), sum as long (exact,
    * associative), divide once at the end. Double summation order varies
    * with partitioning, so a plain `sum(double)` isn't reproducible across
    * runs/engines at hash-compare precision; this is.
    */
  private[graft] def exactCentSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (sum(floor(c * 100 + 0.5).cast("long")).cast("double") / 100.0)

  /** Tumbling event-time window aggregate with late-data watermark.
    * State is bounded: watermark evicts windows older than `lateness`.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactCentSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, sumValue: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int, sum_value: Double)

  /** Custom stateful sessionization: a session closes after `gapMs` of
    * user inactivity — the `flatMapGroupsWithState` pattern
    * (KeyValueGroupedDataset custom state, bounded by processing-time
    * timeout). Streaming-only entry point.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          def close(s: SessionState): Session =
            Session(user, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sumValue)
          if (state.hasTimedOut) {
            // timeout invocation: iterator is empty by contract — flush
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, n = s.n + 1, sumValue = s.sumValue + e.value))
                case Some(s) =>
                  closed += close(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Batch-mode sessionization with identical semantics (gap-based), used
    * by the DuckDB oracle: session id = running count of gap-breaks per
    * user — the standard windowed "islands" formulation.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs, 1).otherwise(0))
      .withColumn("session_no", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), exactCentSum(col("value")).as("sum_value"))
  }

  /** Spark-native session windows (the SessionWindowing operator) — the
    * engine-level sibling of [[sessionizeBatch]]'s SQL-islands
    * formulation and [[sessionize]]'s explicit state machine. Identical
    * session assignment except the boundary convention: an inter-event
    * gap of EXACTLY `gap` starts a new session here (the window is
    * [start, last+gap)), where the islands form breaks only past it.
    * The same expression runs unchanged under readStream with a
    * watermark — session state evicts at close + lateness.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), exactCentSum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Streaming deduplication: drop events with a duplicate `idCol` whose
    * event times fall within the watermark window — bounded state (ids are
    * evicted once older than `lateness`), the streaming twin of
    * [[graft.dedup.Dedup.exact]].
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  lateness: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: each click joined to the signup of the
    * same user within the preceding hour. Both sides watermarked so join
    * state is evicted — the canonical bounded stream-stream join shape.
    */
  def clickAfterSignup(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    clicks.join(signups,
      col("user_id") === col("su") &&
        col("click_ts") >= col("signup_ts") &&
        col("click_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("event_id"),
        col("signup_ts"), col("click_ts"))
  }

  /** Stream into the versioned KV store: every micro-batch executes one
    * upsert batch against the latest snapshot and records the new version
    * in the temporal log — the engine's incremental-snapshot model
    * applied to streaming ingest (the reference's closest streaming
    * analogue: each `save()` is a new queryable version, SURVEY §2.9 /
    * `TemporalIndex.scala:21-27`). Readers keep seeing consistent frozen
    * snapshots while the stream commits; time travel works per batch.
    *
    * Returns the StreamingQuery; caller manages its lifecycle.
    */
  def streamIntoIndex(stream: DataFrame, store: graft.core.SnapshotStore,
                      indexId: String, keyCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.core._
        if (!batch.isEmpty) {
          val tx = s"stream-batch-$batchId"
          // recordHistory=true: temporal log line rides inside the commit
          // protocol — a crash can't commit a version invisible to time travel
          if (!store.exists(indexId)) {
            KVIndex.bootstrap(store, indexId, batch, keyCols, txVersion = tx,
                recordHistory = true)
              .fold(e => sys.error(e.message), _.manifest)
          } else {
            val ix = KVIndex.open(store, indexId).fold(e => sys.error(e.message), identity)
            ix.execute(Seq(Command.Insert(batch, upsert = true)), tx,
              recordHistory = true).orThrow
          }
        }
        ()
      }
      .start()

  /** Test/ops visibility into an ingest query's steady-state cost shape:
    * how often the corpus bloom sketch was rebuilt from a FULL corpus scan
    * (should be ≤1 per query lifetime — restart only), how often a batch
    * needed the exact anti-join verify (only when the bloom might-match
    * slice was non-empty), and how often auto-compaction fired.
    *
    * Scoped PER QUERY: each [[streamDedupIngest]]/[[streamNearDupIngest]]
    * call takes (or defaults) its own instance, so concurrent ingest
    * queries in one process never race each other's counters — a
    * process-wide singleton here made per-query assertions and ops
    * dashboards racy as soon as two queries ran.
    */
  private[graft] final class IngestStats {
    val corpusRebuilds = new java.util.concurrent.atomic.AtomicLong
    val exactVerifies = new java.util.concurrent.atomic.AtomicLong
    val compactions = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = { corpusRebuilds.set(0); exactVerifies.set(0); compactions.set(0) }
  }

  /** Streaming ingest with per-batch incremental dedup — the steady-state
    * corpus pipeline: every micro-batch is (1) deduped within itself
    * (min-key per text survives), (2) deduped against everything ALREADY
    * in the snapshot via the bloom-split anti join
    * ([[graft.dedup.Dedup.incrementalSurvivorsWith]]), and (3) the
    * survivors commit one COW snapshot. The snapshot holds one row per
    * distinct text ever streamed, first writer wins, and readers
    * time-travel across ingest batches like any other snapshot history.
    *
    * Steady-state cost is O(batch), NOT O(corpus): the corpus bloom sketch
    * is built ONCE (at bootstrap, over the first batch; or on restart,
    * over the corpus) and then maintained incrementally — each committed
    * batch's keys are folded in by OR-merging a batch-sized filter
    * ([[graft.operators.BloomJoin.merge]]; bloom union is bitwise-or, so
    * the cached sketch always covers exactly the committed key set and
    * keeps the no-false-negative guarantee). A batch whose might-match
    * slice is empty — the common case for fresh content — touches zero
    * corpus bytes; only bloom false positives and true duplicates reach
    * the exact anti join. The sketch is sized for `expectedItems` total
    * corpus keys: beyond it the fp rate (and hence verify traffic) degrades
    * gracefully; correctness never depends on the sizing.
    *
    * Long streams don't fragment the snapshot: when a commit pushes the
    * manifest past `compactAboveFiles` files, `compact()` folds the small
    * files into right-sized ones (content-invariant), so reader plan width
    * stays bounded no matter how many batches ever committed.
    *
    * Single-writer per indexId (the store's CREATE_NEW CAS enforces it) —
    * a second writer would invalidate the cached sketch, and its commit
    * race would fail the CAS anyway.
    */
  def streamDedupIngest(stream: DataFrame, store: graft.core.SnapshotStore,
                        indexId: String, keyCols: Seq[String],
                        textCol: String = "text",
                        expectedItems: Long = 1L << 20,
                        compactAboveFiles: Int = 16,
                        stats: IngestStats = new IngestStats): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.BloomJoin
    val numBits = BloomJoin.derivedNumBits(expectedItems)
    // cached corpus sketch — lives for the query; null until first build.
    // Big sketches ride a query-OWNED broadcast so each batch's merged
    // successor deterministically destroys the superseded one (the
    // anonymous-broadcast path would pile dead megabyte blocks in the
    // block managers until a driver GC)
    var corpusBf: Array[Byte] = null
    var corpusBc: org.apache.spark.broadcast.Broadcast[Array[Byte]] = null
    def setSketch(bf: Array[Byte], spark: org.apache.spark.sql.SparkSession): Unit = {
      corpusBf = bf
      if (corpusBc != null) { corpusBc.destroy(); corpusBc = null }
      if (bf != null && bf.length > BloomJoin.InlineSketchBytes)
        corpusBc = BloomJoin.broadcastSketch(spark, bf)
    }
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.core._
        import graft.dedup.Dedup
        if (!batch.isEmpty) {
          val tx = s"ingest-batch-$batchId"
          // the dedup DAG feeds several consumers (emptiness probes, the
          // write path's passes, the sketch build) — pin it once per batch
          val withinBatch = Dedup.exactSurvivors(batch, keyCols.head, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (!store.exists(indexId)) {
              // recordHistory=true: the temporal log line rides INSIDE the
              // commit protocol (before the LATEST swap) — no crash window
              // can commit a version that time travel can't see
              KVIndex.bootstrap(store, indexId, withinBatch, keyCols, txVersion = tx,
                  recordHistory = true)
                .fold(e => sys.error(e.message), identity)
              // first sketch: over the batch just committed — O(batch)
              setSketch(BloomJoin.keyFilterBytes(
                withinBatch.select(textCol), col(textCol), expectedItems, numBits),
                batch.sparkSession)
            } else {
              val ix = KVIndex.open(store, indexId).fold(e => sys.error(e.message), identity)
              if (corpusBf == null) {
                // restart recovery: the ONE full corpus scan of the query's life
                setSketch(BloomJoin.keyFilterBytes(
                  ix.df.select(textCol), col(textCol), expectedItems, numBits),
                  batch.sparkSession)
                stats.corpusRebuilds.incrementAndGet()
              }
              val mc =
                if (corpusBc != null) BloomJoin.mightContain(corpusBc, col(textCol))
                else BloomJoin.mightContain(corpusBf, col(textCol))
              val mightMatch = withinBatch.filter(mc)
              val news =
                (if (mightMatch.isEmpty) withinBatch // provably new: zero corpus IO
                 else {
                   stats.exactVerifies.incrementAndGet()
                   withinBatch.filter(!mc).unionByName(
                     mightMatch.join(ix.df.select(textCol), Seq(textCol), "left_anti"))
                 }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                // an all-duplicate batch commits nothing and records nothing —
                // the temporal log stays one entry per actual change
                if (!news.isEmpty) {
                  val m = ix.execute(Seq(Command.Insert(news, upsert = true)), tx,
                    recordHistory = true).orThrow
                  // fold the committed keys into the cached sketch — batch-sized
                  // build + bitwise-or; the corpus is never rescanned
                  setSketch(BloomJoin.merge(corpusBf,
                    BloomJoin.keyFilterBytes(news.select(textCol), col(textCol),
                      expectedItems, numBits)), batch.sparkSession)
                  val ix2 = new KVIndex(store, m)
                  if (ix2.numFiles > compactAboveFiles) {
                    // compact() no-ops (returns the same version) without
                    // committing — only a REAL rewrite reaches the commit,
                    // whose recordHistory carries the temporal log line
                    ix2.compact(recordHistory = true).snapshot
                      .filter(_.version != m.version)
                      .foreach(_ => stats.compactions.incrementAndGet())
                  }
                }
              } finally news.unpersist()
            }
          } finally withinBatch.unpersist()
        }
        ()
      }
      .start()
  }

  /** Streaming ingest with per-batch incremental NEAR-dup dedup — the LSH
    * twin of [[streamDedupIngest]]: the corpus lives in TWO snapshots, the
    * documents index (`docsId`, keyed `keyCols`, source of truth) and a
    * derived band index (`bandsId`, keyed `(band, bucket, id)` — one row
    * per (doc, band), rebuildable from the docs index via
    * `Dedup.bandRows`). Every micro-batch is (1) exact-deduped within
    * itself, (2) near-dup-checked against the corpus by probing ONLY the
    * band buckets the batch's own signatures hit —
    * `KVIndex.getAllPrefix` over the batch's distinct (band, bucket)
    * keys reads just the covering band-index files, so the probe is
    * O(touched files + batch), never O(corpus) — with candidate pairs
    * verified at `threshold` by signature match rate, and (3) survivors
    * commit to BOTH snapshots (docs first: a crash between the commits
    * costs only re-derivable band rows). Identical signatures match at
    * rate 1.0, so near-dup ingest subsumes exact dedup.
    *
    * Batches whose distinct band keys exceed the driver bound
    * ([[graft.core.LocalScan.collectBelow]]) fall back to scanning the
    * band snapshot with the bucket join (correct, just not file-pruned).
    */
  def streamNearDupIngest(stream: DataFrame, store: graft.core.SnapshotStore,
                          docsId: String, bandsId: String, keyCols: Seq[String],
                          textCol: String = "text", threshold: Double = 0.5,
                          compactAboveFiles: Int = 16,
                          stats: IngestStats = new IngestStats): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.core._
        import graft.dedup.Dedup
        if (!batch.isEmpty) {
          val tx = s"neardup-batch-$batchId"
          val withinBatch = Dedup.exactSurvivors(batch, keyCols.head, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            def bandsOf(df: DataFrame) =
              Dedup.bandRows(df, keyCols.head, textCol)
            if (!store.exists(docsId)) {
              KVIndex.bootstrap(store, docsId, withinBatch, keyCols, txVersion = tx,
                  recordHistory = true)
                .fold(e => sys.error(e.message), identity)
              KVIndex.bootstrap(store, bandsId, bandsOf(withinBatch),
                  Seq("band", "bucket", "id"), txVersion = tx, recordHistory = true)
                .fold(e => sys.error(e.message), identity)
            } else {
              val docsIx = KVIndex.open(store, docsId).fold(e => sys.error(e.message), identity)
              val bandsIx = KVIndex.open(store, bandsId).fold(e => sys.error(e.message), identity)
              val corpusSlice = LocalScan.collectBelow(
                  bandsOf(withinBatch).select("band", "bucket").distinct())
                .fold(bandsIx.df)(rs => bandsIx.getAllPrefix(rs.toSeq.map(_.toSeq)))
              val news = Dedup.incrementalNearDupSurvivors(
                  withinBatch, corpusSlice, keyCols.head, textCol, threshold = threshold)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                if (!news.isEmpty) {
                  val md = docsIx.execute(Seq(Command.Insert(news, upsert = true)), tx,
                    recordHistory = true).orThrow
                  val mb = bandsIx.execute(
                    Seq(Command.Insert(bandsOf(news), upsert = true)), tx,
                    recordHistory = true).orThrow
                  for ((_, m) <- Seq((docsId, md), (bandsId, mb))) {
                    val ix2 = new KVIndex(store, m)
                    if (ix2.numFiles > compactAboveFiles) {
                      ix2.compact(recordHistory = true).snapshot
                        .filter(_.version != m.version)
                        .foreach(_ => stats.compactions.incrementAndGet())
                    }
                  }
                }
              } finally news.unpersist()
            }
          } finally withinBatch.unpersist()
        }
        ()
      }
      .start()

  /** Open the events table as a file stream (schema from the batch read) —
    * the readStream entry point. Normalizes a nanos-as-long `ts` column
    * back to a timestamp like the batch loader.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val schema = spark.read.parquet(dir).schema
    // the streaming file source requires a DIRECTORY; a single-file path
    // is opened via its parent + a glob filter
    val p = java.nio.file.Paths.get(dir)
    val reader = spark.readStream.schema(schema)
    val raw =
      if (java.nio.file.Files.isRegularFile(p))
        reader.option("pathGlobFilter", p.getFileName.toString)
          .parquet(p.getParent.toString)
      else reader.parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // un-adjusted TIMESTAMP(MICROS); same instant under the UTC session
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Run the windowed aggregate as a REAL streaming query (file source →
    * complete-mode memory sink), synchronously, and return the final
    * table. Complete mode re-emits every window, so the result equals the
    * batch computation exactly — which is how the external oracle checks
    * a live streaming run.
    */
  def windowedCountsLive(spark: SparkSession, dir: String,
                         queryName: String = "graft_stream_live"): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $queryName")
    val q = windowedCounts(readEventStream(spark, dir))
      .writeStream.outputMode("complete").format("memory")
      .queryName(queryName).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.table(queryName)
  }

  /** Top-k event types per window from a LIVE streaming run: the windowed
    * aggregate streams (bounded state via the complete-mode window table),
    * the rank is applied to the emitted result table — the standard
    * "streaming agg + batch post-ranking" composition. The window rank
    * partitions by window_start, so no single-reducer stage.
    */
  /** Stream-static enrichment: the live event stream joined to a static
    * dimension (customer → market segment) before the windowed aggregate —
    * Structured Streaming joins a static DataFrame per micro-batch with no
    * join state, and the dimension rides a broadcast so the stream side
    * never shuffles for the join. The canonical "enrich events with
    * reference data" shape.
    */
  def enrichedSegmentRevenueLive(spark: SparkSession, dir: String,
                                 customers: DataFrame,
                                 queryName: String = "graft_stream_enrich"): DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $queryName")
    val dim = customers.select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("segment"))
    val enriched = readEventStream(spark, dir)
      .withWatermark("ts", "30 minutes")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"), exactCentSum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))
    val q = enriched.writeStream.outputMode("complete").format("memory")
      .queryName(queryName).start()
    try { q.processAllAvailable() } finally { q.stop() }
    spark.table(queryName)
  }

  /** Streaming AS-OF enrichment: each micro-batch of `stream` is joined
    * against the snapshot via [[graft.core.KVIndex.asOfProbe]] — the
    * batch's key bounds prune the snapshot's files and the batch routes
    * onto the covering legs (probe-side-only shuffle), so every
    * micro-batch costs the BATCH's covering files, never the snapshot:
    * the streaming lookup join follows the stream's rate. Enriched rows
    * append to `outDir` as parquet (synchronous run, like the other Live
    * helpers); transactional sinks go through the graft streaming sink
    * instead.
    */
  def asOfEnrichStream(stream: DataFrame, readings: graft.core.KVIndex,
                       keyCols: Seq[String], tsCol: String, outDir: String,
                       joinType: String = "left_outer", strict: Boolean = false,
                       tolerance: Long = -1L,
                       queryName: String = "graft_asof_enrich"): Unit = {
    val q = stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      // pin: asOfProbe reads its probe side up to THREE times (bounds
      // aggregate, ≥256-probe bloom sketch build, routing) — the persist
      // is what makes those passes see identical rows, do not drop it
      val pinned = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try readings.asOfProbe(pinned, keyCols, tsCol, joinType = joinType,
          strict = strict, tolerance = tolerance)
        .write.mode("append").parquet(outDir)
      finally { pinned.unpersist(); () }
    }.queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Streaming EQUI enrichment — [[asOfEnrichStream]]'s twin over
    * [[graft.core.KVIndex.probeJoin]]: each micro-batch joins the
    * snapshot on its leading key column(s), the batch's key bounds prune
    * the snapshot's files, the batch routes onto the covering legs
    * (probe-side-only shuffle), and an EMPTY batch answers without any
    * snapshot scan — the lookup join's cost follows the stream's rate.
    * Enriched rows append to `outDir` as parquet.
    */
  def probeEnrichStream(stream: DataFrame, dim: graft.core.KVIndex,
                        keyCols: Seq[String], outDir: String,
                        joinType: String = "left_outer",
                        queryName: String = "graft_probe_enrich"): Unit = {
    val q = stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      // pin: probeJoin reads its probe side up to three times (bounds
      // aggregate, ≥256-probe bloom sketch build, routing) — the persist
      // makes those passes see identical rows, do not drop it
      val pinned = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try dim.probeJoin(pinned, keyCols, joinType = joinType)
        .write.mode("append").parquet(outDir)
      finally { pinned.unpersist(); () }
    }.queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
  }

  def topEventTypesLive(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = windowedCountsLive(spark, dir, "graft_stream_topk")
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }
}
