package kvbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import Model.K

/** Sizes of one workload's index and batches. */
final case class Sizes(tenants: Int, seqs: Int, files: Int, canaries: Int = 0,
                       bulkRows: Int = 0)

/** One finished client operation. `cls` is the end-to-end class it counts
  * in: read, sql, asof, commit or refresh.
  */
final case class OpRec(name: String, cls: String, phase: String, start: Long, end: Long,
                       ok: Boolean, rows: Long, span: Long, userBytes: Long = 0L,
                       client: Int = 0, round: Int = 0)

/** The outcome an op body reports: whether every returned value matched
  * its expectation, and how many rows came back (or were committed).
  */
final case class Res(ok: Boolean, rows: Long, why: String = "", userBytes: Long = 0L)

/** Ends a client at the window's deadline, before its next op starts. */
object RoundCut extends scala.util.control.ControlThrowable

/** Thrown out of the run for any unexpected Throwable; names the op. */
final class OpFailed(op: String, cause: Throwable)
  extends RuntimeException(s"op $op threw ${cause.getClass.getName}: ${cause.getMessage}", cause)

final class Ctx(val spark: SparkSession, val g: Gen, val sizes: Sizes, val traced: Boolean) {
  @volatile var phase = "setup"
  @volatile var store: SnapshotStore = _
  val recs = new ConcurrentLinkedQueue[OpRec]()
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  val failures = new ConcurrentLinkedQueue[String]()
  /** Model of every committed version of the index, by write generation. */
  val byGen = TrieMap.empty[Long, Model]
  /** Write generation committed as each snapshot version. */
  val genOfVersion = TrieMap.empty[Long, Long]
  val Id = "kv"
  val ViewId = "kvview"
  /** Rows per file for commits: twice the bootstrap's, so a copy-on-write
    * rewrite of one file stays one file while small batches change its size.
    */
  val rowsPerFile: Long = math.max(1L, 2L * g.rows / sizes.files)
  /** Window deadline; ops asked to start after it end their client. */
  @volatile var stopAt: Long = Long.MaxValue
  /** When the current timed window began. */
  @volatile var windowStart: Long = 0L
  val client = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  val round = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  /** The round each client was in when the deadline cut it short. */
  val cutRound = TrieMap.empty[Int, Int]
  def complete(r: OpRec): Boolean = !cutRound.get(r.client).contains(r.round)

  def mkStore(root: String): SnapshotStore =
    if (traced) new TimedStore(root, spark) else new FsSnapshotStore(root, spark)

  /** Run one client op: time it, count it, record a failed check. */
  def op(name: String, cls: String)(body: => Res): Res = {
    if (Trace.now() > stopAt) throw RoundCut
    attempted.incrementAndGet()
    val t0 = Trace.now()
    val (r, span) =
      try Trace.spanId("op." + name)(body)
      catch { case e: Throwable => throw new OpFailed(name, e) }
    recs.add(OpRec(name, cls, phase, t0, Trace.now(), r.ok, r.rows, span,
      r.userBytes, client.get, round.get))
    if (!r.ok) {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(s"$phase $name: ${r.why}")
    }
    r
  }

  /** A library call inside an op, as its own span. */
  def lib[A](name: String)(f: => A): A = Trace.span("kvindex." + name)(f)

  /** A catalog statement; records how many files its scan planned. */
  def sql(q: String): Array[Row] = {
    val r = Trace.span("sql")(spark.sql(q).collect())
    Trace.mark("sources.planned_files", Trace.now(),
      files = graft.sources.GraftScan.lastPlannedFiles)
    r
  }

  def latestModel(idx: KVIndex): Model = byGen(genOf(idx.manifest))
  def genOf(m: SnapshotManifest): Long = m.lastChangeVersion.stripPrefix("kvb-").toLong

  def key(r: Row): K = (r.getAs[Int]("tenant"), r.getAs[Long]("seq"))

  /** Rows match the expected keys and generations, in order when `ordered`. */
  def expectRows(rows: Array[Row], exp: Seq[(K, Long)], ordered: Boolean): Res = {
    if (rows.length != exp.length)
      return Res(ok = false, rows.length, s"${rows.length} rows, expected ${exp.length}")
    val got = if (ordered) rows.toSeq else rows.toSeq.sortBy(key)
    val want = if (ordered) exp else exp.sortBy(_._1)
    val hasVersion = rows.headOption.exists(_.schema.fieldNames.contains("version"))
    got.zip(want).collectFirst {
      case (r, (k, gn)) if key(r) != k || !rowOk(r, gn) ||
          (hasVersion && r.getAs[String]("version") != g.tx(gn)) =>
        Res(ok = false, rows.length, s"row ${r.mkString(",")} expected $k gen $gn")
    }.getOrElse(Res(ok = true, rows.length))
  }

  def rowOk(r: Row, gen: Long): Boolean = {
    val (t, s) = key(r)
    r.getAs[Long]("gen") == gen && r.getAs[Long]("amount") == g.amount(t, s, gen) &&
      r.getAs[String]("payload") == g.payload(t, s, gen)
  }

  def randKey(rng: Random, live: Boolean = true): K = {
    val t = rng.nextInt(g.tenants)
    val s = 2L * rng.nextInt(g.seqs)
    if (live) (t, s) else (t, s + 1L)
  }
  def kseq(k: K): Seq[Any] = Seq[Any](k._1, k._2)

  /** (history ts, version) pairs of the index, oldest first. */
  def history(): Seq[(Long, Long)] = store.historyLog(Id)
}

/** Every op type of the read mix. Each picks its parameters from `rng`,
  * runs against `idx` (a frozen snapshot) or the catalog, and checks the
  * result against the model of the snapshot it read.
  */
object ReadOps {
  type ReadOp = (Ctx, KVIndex, Random) => Unit

  private def m(c: Ctx, idx: KVIndex): Model = c.latestModel(idx)

  val get: ReadOp = (c, idx, rng) => c.op("get", "read") {
    val k = c.randKey(rng, live = rng.nextInt(4) != 0)
    c.expectRows(c.lib("get")(idx.get(c.kseq(k)).collect()),
      m(c, idx).gen(k).map(k -> _).toSeq, ordered = true)
  }

  val getAll: ReadOp = (c, idx, rng) => c.op("getAll", "read") {
    val ks = Seq.fill(100)(c.randKey(rng, live = rng.nextInt(10) != 0)).distinct
    val model = m(c, idx)
    c.expectRows(c.lib("getAll")(idx.getAll(ks.map(c.kseq)).found.collect()),
      ks.flatMap(k => model.gen(k).map(k -> _)), ordered = false)
  }

  val range: ReadOp = (c, idx, rng) => c.op("range", "read") {
    val (t, a) = c.randKey(rng)
    val b = a + 2L * (50 + rng.nextInt(100)) - (if (rng.nextBoolean()) 1L else 0L)
    c.expectRows(c.lib("range")(idx.range(Seq[Any](t, a), Seq[Any](t, b), true, true).collect()),
      m(c, idx).keys((t, a), (t, b)).toSeq, ordered = true)
  }

  val prefix: ReadOp = (c, idx, rng) => c.op("prefix", "read") {
    val t = rng.nextInt(c.g.tenants); val rev = rng.nextBoolean()
    c.expectRows(c.lib("prefix")(idx.prefix(Seq[Any](t), reverse = rev).collect()),
      m(c, idx).keys((t, Long.MinValue), (t, Long.MaxValue), desc = rev).toSeq, ordered = true)
  }

  val nextKey: ReadOp = (c, idx, rng) => c.op("nextKey", "read") {
    val k = c.randKey(rng, live = rng.nextBoolean())
    c.expectRows(c.lib("nextKey")(idx.nextKey(c.kseq(k)).collect()),
      m(c, idx).keys((k._1, k._2 + 1), Model.Max).take(1).toSeq, ordered = true)
  }

  val previousKey: ReadOp = (c, idx, rng) => c.op("previousKey", "read") {
    val k = c.randKey(rng, live = rng.nextBoolean())
    c.expectRows(c.lib("nextKey")(idx.previousKey(c.kseq(k)).collect()),
      m(c, idx).keys(Model.Min, (k._1, k._2 - 1), desc = true).take(1).toSeq, ordered = true)
  }

  val headOrdered: ReadOp = (c, idx, rng) => c.op("headOrdered", "read") {
    val rev = rng.nextBoolean(); val n = 20 + rng.nextInt(60)
    c.expectRows(c.lib("headOrdered")(idx.headOrdered(n, reverse = rev).collect()),
      m(c, idx).keys(Model.Min, Model.Max, desc = rev).take(n).toSeq, ordered = true)
  }

  val countRange: ReadOp = (c, idx, rng) => c.op("countRange", "read") {
    val lo = c.randKey(rng)
    val hi = (math.min(c.g.tenants - 1, lo._1 + rng.nextInt(40)), 2L * rng.nextInt(c.g.seqs) + 1)
    val (from, to) = if (Ordering[K].lteq(lo, hi)) (lo, hi) else (hi, lo)
    val n = c.lib("countRange")(idx.countRange(c.kseq(from), c.kseq(to)))
    val want = m(c, idx).count(from, to)
    Res(n == want, 1L, s"count $n expected $want")
  }

  /** Time travel: open a past version by its history timestamp, then get. */
  val openAtGet: ReadOp = (c, idx, rng) => c.op("openAt_get", "asof") {
    val hist = c.history().filter(_._2 < idx.manifest.version)
    val i = rng.nextInt(hist.size)
    val (ts, v) = hist(i)
    val next = if (i + 1 < hist.size) hist(i + 1)._1 else ts + 1L
    val at = ts + (if (next > ts + 1) (rng.nextDouble() * (next - ts - 1)).toLong else 0L)
    val past = c.lib("openAt")(KVIndex.openAt(c.store, c.Id, at)).fold(
      e => throw new IllegalStateException(e.message), identity)
    if (past.manifest.version != v) Res(ok = false, 0L, s"openAt gave v${past.manifest.version}, expected v$v")
    else {
      val model = c.byGen(c.genOf(past.manifest))
      // half the probes hit a key written after the base, so the past value differs
      val written = model.over.keysIterator.toIndexedSeq
      val k = if (written.nonEmpty && rng.nextBoolean()) written(rng.nextInt(written.size))
              else c.randKey(rng)
      c.expectRows(c.lib("get")(past.get(c.kseq(k)).collect()),
        model.gen(k).map(k -> _).toSeq, ordered = true)
    }
  }

  private val Cols = "tenant, seq, amount, payload, gen"

  val sqlRange: ReadOp = (c, idx, rng) => c.op("sql_range", "sql") {
    val (t, a) = c.randKey(rng); val b = a + 2L * (50 + rng.nextInt(100))
    c.expectRows(c.sql(s"SELECT $Cols FROM g.${c.Id} WHERE tenant = $t AND seq BETWEEN $a AND $b ORDER BY tenant, seq"),
      m(c, idx).keys((t, a), (t, b)).toSeq, ordered = true)
  }

  val sqlTopK: ReadOp = (c, idx, rng) => c.op("sql_topk", "sql") {
    val t = rng.nextInt(c.g.tenants); val n = 10 + rng.nextInt(40)
    c.expectRows(c.sql(s"SELECT $Cols FROM g.${c.Id} WHERE tenant <= $t ORDER BY tenant DESC, seq DESC LIMIT $n"),
      m(c, idx).keys(Model.Min, (t, Long.MaxValue), desc = true).take(n).toSeq, ordered = true)
  }

  val sqlCount: ReadOp = (c, idx, rng) => c.op("sql_count", "sql") {
    val t1 = rng.nextInt(c.g.tenants); val t2 = math.min(c.g.tenants - 1, t1 + rng.nextInt(40))
    val n = c.sql(s"SELECT count(*) FROM g.${c.Id} WHERE tenant >= $t1 AND tenant <= $t2").head.getLong(0)
    val want = (t1 to t2).map(m(c, idx).tenantCnt).sum
    Res(n == want, 1L, s"count $n expected $want")
  }

  val sqlVersionAsOf: ReadOp = (c, idx, rng) => c.op("sql_version_as_of", "sql") {
    val v = 1L + rng.nextInt((idx.manifest.version - 1L).toInt.max(1))
    val model = c.byGen(c.genOfVersion(v))
    val written = model.over.keysIterator.toIndexedSeq
    val (t, a0) = if (written.nonEmpty && rng.nextBoolean()) written(rng.nextInt(written.size)) else c.randKey(rng)
    val a = math.max(0L, a0 - 2L * rng.nextInt(20)); val b = a + 2L * (20 + rng.nextInt(60))
    c.expectRows(c.sql(s"SELECT $Cols FROM g.${c.Id} VERSION AS OF $v WHERE tenant = $t AND seq BETWEEN $a AND $b ORDER BY tenant, seq"),
      model.keys((t, a), (t, b)).toSeq, ordered = true)
  }

  /** Per-tenant count and sum through the catalog (LATEST). */
  def sqlTenantAgg(c: Ctx, t: Int, model: Model): Res = c.op("sql_tenant_agg", "sql") {
    val r = c.sql(s"SELECT count(*), sum(amount) FROM g.${c.Id} WHERE tenant = $t").head
    Res(r.getLong(0) == model.tenantCnt(t) && r.getLong(1) == model.tenantSum(t), 1L,
      s"tenant $t count/sum ${r.getLong(0)}/${r.getLong(1)} expected ${model.tenantCnt(t)}/${model.tenantSum(t)}")
  }

  /** One round of the read_snapshot mix: each op type a fixed number of
    * times, in a seeded order, so every round has the same composition.
    * `getAll` is the slowest read; at 2 of 15 reads the p95 falls inside
    * its latencies rather than on the edge between them and the rest.
    */
  val round: Seq[ReadOp] =
    Seq.fill(3)(get) ++ Seq(getAll, getAll, range, range, prefix, nextKey, previousKey,
      headOrdered, headOrdered, countRange, countRange) ++ Seq.fill(3)(openAtGet) ++
      Seq(sqlRange, sqlTopK, sqlCount, sqlVersionAsOf)

  /** Open LATEST, then get. */
  val openGet: ReadOp = (c, _, rng) => c.op("open_get", "read") {
    val latest = c.lib("open")(KVIndex.open(c.store, c.Id)).fold(
      e => throw new IllegalStateException(e.message), identity)
    val k = c.randKey(rng)
    c.expectRows(c.lib("get")(latest.get(c.kseq(k)).collect()),
      c.latestModel(latest).gen(k).map(k -> _).toSeq, ordered = true)
  }

  val tenantAgg: ReadOp = (c, idx, rng) =>
    sqlTenantAgg(c, rng.nextInt(c.g.tenants), c.latestModel(idx))

  /** Every op type once: the traced runs' warm-up, so each per-layer
    * metric has samples on every workload.
    */
  val sweep: Seq[ReadOp] = Seq(get, getAll, range, prefix, nextKey, previousKey,
    headOrdered, countRange, openAtGet, openGet, sqlRange, sqlTopK, sqlCount,
    sqlVersionAsOf, tenantAgg)
}

/** Set-up shared by all workloads, and the three timed windows. */
object Workloads {
  val names = Seq("read_snapshot", "small_commits", "bulk_ingest_under_reads")

  def sizes(w: String): Sizes = w match {
    case "read_snapshot" => Sizes(tenants = 75, seqs = 4000, files = 16)
    case "small_commits" => Sizes(tenants = 75, seqs = 4000, files = 16)
    case "bulk_ingest_under_reads" =>
      Sizes(tenants = 75, seqs = 2000, files = 16, canaries = 32, bulkRows = 3000)
  }

  def canaries(c: Ctx): Seq[K] =
    (0 until c.sizes.canaries).map(i => (i * c.g.tenants / c.sizes.canaries, 1L))

  /** Committed-row payload in bytes, as the caller hands it over. */
  def userBytes(g: Gen, ks: Iterable[K], gen: Long): Long =
    ks.iterator.map { case (t, s) => 4L + 8L + 8L + 8L + g.payload(t, s, gen).length }.sum

  /** A small upsert into one tenant: a history version made in set-up. */
  private def historyCommit(c: Ctx, idx: KVIndex, gen: Long, rng: Random): KVIndex = {
    val t = rng.nextInt(c.g.tenants)
    // canaries carry every version's generation (bulk_ingest_under_reads)
    val ks = Seq.fill(100)((t, 2L * rng.nextInt(c.g.seqs))).distinct ++ canaries(c)
    val model = c.latestModel(idx).write(ks.map(_ -> Some(gen)))
    c.byGen.put(gen, model)
    var out: KVIndex = idx
    c.op("commit", "commit") {
      val r = c.lib("execute")(idx.execute(Seq(Command.Insert(c.g.rowsFrame(c.spark, ks, gen), upsert = true)),
        c.g.tx(gen), recordHistory = true))
      if (!r.success) Res(ok = false, 0L, s"commit failed: ${r.error}")
      else {
        out = new KVIndex(c.store, r.snapshot.get, c.rowsPerFile)
        c.genOfVersion.put(out.manifest.version, gen)
        Res(ok = true, ks.size, userBytes = userBytes(c.g, ks, gen))
      }
    }
    out
  }

  def refresh(c: Ctx, src: KVIndex, tenants: Seq[Int]): Res = c.op("refresh", "refresh") {
    val view = Trace.span("mview.refresh")(MaterializedAgg.refresh(c.store, c.ViewId, src)).fold(
      e => throw new IllegalStateException(e.message), identity)
    val model = c.latestModel(src)
    val rows = view.getAll(tenants.distinct.map(t => Seq[Any](t))).found.collect()
    val bad = rows.find(r => r.getAs[Long]("agg_sum") != model.tenantSum(r.getAs[Int]("tenant")) ||
      r.getAs[Long]("agg_cnt") != model.tenantCnt(r.getAs[Int]("tenant")))
    Res(rows.length == tenants.distinct.size && bad.isEmpty, rows.length,
      s"view rows ${rows.length} of ${tenants.distinct.size}, first bad ${bad.map(_.mkString(","))}")
  }

  /** Build the starting state in a fresh store under `root`: bootstrap,
    * the aggregate view, one history commit and one refresh. Returns the
    * index at LATEST.
    */
  def build(c: Ctx, root: String, rng: Random): KVIndex = {
    c.store = c.mkStore(root)
    c.spark.conf.set("spark.sql.catalog.g.root", root)
    c.byGen.clear(); c.genOfVersion.clear()
    val can = canaries(c)
    val base = Model.base(c.g)
    c.byGen.put(0L, if (can.isEmpty) base else base.write(can.map(_ -> Some(0L))))
    val df = if (can.isEmpty) c.g.base(c.spark)
             else c.g.base(c.spark).unionByName(c.g.rowsFrame(c.spark, can, 0L))
    // bootstrap sizes its files from the plan's size estimate (64 bytes a
    // row per maxRowsPerFile); aim that estimate at `sizes.files` files
    val est = BigInt(df.withColumn("version", lit(c.g.tx(0L)))
      .queryExecution.optimizedPlan.stats.sizeInBytes.toString)
    val bootRows = ((est + 64 * c.sizes.files - 1) / (64 * c.sizes.files)).toLong
    val idx0 = c.lib("bootstrap")(KVIndex.bootstrap(c.store, c.Id, df, Seq("tenant", "seq"),
      txVersion = c.g.tx(0L), maxRowsPerFile = bootRows, recordHistory = true)).fold(
      e => throw new IllegalStateException(s"bootstrap: ${e.message}"), identity)
    c.genOfVersion.put(idx0.manifest.version, 0L)
    Trace.span("mview.create")(MaterializedAgg.create(c.store, c.ViewId, idx0, Seq("tenant"), "amount"))
      .fold(e => throw new IllegalStateException(s"view create: ${e.message}"), identity)
    val idx = historyCommit(c, new KVIndex(c.store, idx0.manifest, c.rowsPerFile), 1L, rng)
    refresh(c, idx, 0 until c.g.tenants by 17)
    idx
  }

  /** Closed-loop clients: each runs rounds of ops, waiting for every
    * reply, until an op would start after the deadline.
    */
  def runClients(c: Ctx, n: Int, deadline: Long)(round: Int => Unit): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    c.stopAt = deadline
    val ts = (0 until n).map { i =>
      val th = new Thread(() => {
        c.client.set(i)
        var r = 0
        try while (err.get == null) { r += 1; c.round.set(r); round(i) }
        catch {
          case RoundCut => c.cutRound.put(i, r)
          case e: Throwable => err.compareAndSet(null, e)
        }
      }, s"kvbench-client-$i")
      th.start(); th
    }
    ts.foreach(_.join())
    c.stopAt = Long.MaxValue
    if (err.get != null) throw err.get
  }

  /** The untimed pass over a workload's own ops that ends its set-up. It
    * also runs, warm, the classes its window lacks (commits and a refresh
    * for read_snapshot, a refresh for bulk_ingest_under_reads): those
    * metrics are measured here. small_commits runs three of its rounds:
    * after one, its short reads still ran 15-25% slower in some runs than
    * in others, as JIT compilation went on into the window.
    */
  def warmup(w: String, c: Ctx, built: KVIndex, rng: Random): Unit = w match {
    case "read_snapshot" =>
      // commit before the snapshot the window reads is frozen; three
      // commits, as one (with the second build's) left commit_p50_ms
      // resting on two samples. The refresh follows the first, so it
      // folds in one commit, as in the build.
      val idx2 = historyCommit(c, built, 2L, rng)
      refresh(c, idx2, 0 until c.g.tenants by 17)
      val idx = Seq(3L, 4L).foldLeft(idx2)((i, gen) => historyCommit(c, i, gen, rng))
      ReadOps.round.distinct.foreach(op => op(c, idx, rng))
    case "small_commits" =>
      // rounds 2 to 4, so the window starts on round 1 as if unbroken
      val st = new SmallState(built); st.round = 1
      for (_ <- 1 to 3) smallRound(c, st, rng)
    case "bulk_ingest_under_reads" =>
      val idx = bulkCommit(c, built)
      refresh(c, idx, 0 until c.g.tenants by 17)
      readerRound(c, canaries(c), rng, new AtomicLong(-1L))
  }

  def readSnapshot(c: Ctx, idx: KVIndex, deadline: Long, rng: Random): Unit =
    runClients(c, 1, deadline) { _ =>
      rng.shuffle(ReadOps.round).foreach(op => op(c, idx, rng))
    }

  def smallCommits(c: Ctx, start: KVIndex, deadline: Long, rng: Random): Unit = {
    val s = new SmallState(start)
    runClients(c, 1, deadline)(_ => smallRound(c, s, rng))
  }

  final class SmallState(var idx: KVIndex) {
    var round = 0
    var touched = Vector.empty[Int]
  }

  /** One round of small_commits: read rows to update, commit one batch,
    * read it back (four library reads, two catalog aggregates, three
    * time travel reads), and refresh the view on odd rounds. Each class has more
    * than one sample a round, so a 20 s window holds enough of each.
    */
  def smallRound(c: Ctx, st: SmallState, rng: Random): Unit = {
    import st._
    round += 1
    val gen = c.byGen.keys.max + 1L
    val model = c.latestModel(idx)
    val t = rng.nextInt(c.g.tenants)
    val chosen = scala.collection.mutable.LinkedHashSet.empty[K]
    def pick(n: Int, live: Boolean): Seq[K] = {
      val out = Vector.newBuilder[K]; var got = 0
      while (got < n) {
        val s = 2L * rng.nextInt(c.g.seqs) + (if (live) 0L else 1L)
        val k = (t, s)
        if (!chosen(k) && model.gen(k).isDefined == live) { chosen += k; out += k; got += 1 }
      }
      out.result()
    }
    val ups = pick(40, live = true); val upd = pick(20, live = true)
    val rem = pick(20, live = true); val fresh = pick(20, live = false)
    // read the rows to update, and update them only if still at that version
    var versions = Map.empty[K, String]
    c.op("read_for_update", "read") {
      val rows = c.lib("getAll")(idx.getAll(upd.map(c.kseq)).found.collect())
      versions = rows.map(r => c.key(r) -> r.getAs[String]("version")).toMap
      c.expectRows(rows, upd.map(k => k -> model.gen(k).get), ordered = false)
    }
    val next = model.write(ups.map(_ -> Some(gen)) ++ upd.map(_ -> Some(gen)) ++
      rem.map(_ -> None) ++ fresh.map(_ -> Some(gen)))
    c.byGen.put(gen, next)
    val updRows = c.spark.createDataFrame(java.util.Arrays.asList(upd.map { case (tt, s) =>
      Row.fromSeq(c.g.row(tt, s, gen).toSeq :+ versions.getOrElse((tt, s), ""))
    }: _*), c.g.schema.add(StructField("expectedVersion", StringType)))
    val remRows = c.spark.createDataFrame(java.util.Arrays.asList(
      rem.map { case (tt, s) => Row(tt, s) }: _*), StructType(c.g.schema.fields.take(2)))
    val written = ups ++ upd ++ fresh
    val prevVersion = idx.manifest.version
    c.op("commit", "commit") {
      val r = c.lib("execute")(idx.execute(Seq(
        Command.Insert(c.g.rowsFrame(c.spark, ups, gen), upsert = true),
        Command.Update(updRows), Command.Remove(remRows),
        Command.Insert(c.g.rowsFrame(c.spark, fresh, gen))), c.g.tx(gen), recordHistory = true))
      if (!r.success) Res(ok = false, 0L, s"commit failed: ${r.error}")
      else {
        idx = new KVIndex(c.store, r.snapshot.get, c.rowsPerFile)
        c.genOfVersion.put(idx.manifest.version, gen)
        val ok = idx.manifest.version == prevVersion + 1
        Res(ok, chosen.size, s"committed v${idx.manifest.version} after v$prevVersion",
          userBytes = userBytes(c.g, written, gen) + 12L * rem.size)
      }
    }
    c.op("read_own_write", "read") {
      val latest = c.lib("open")(KVIndex.open(c.store, c.Id)).fold(
        e => throw new IllegalStateException(e.message), identity)
      if (latest.manifest.version != idx.manifest.version)
        Res(ok = false, 0L, s"LATEST is v${latest.manifest.version}, committed v${idx.manifest.version}")
      else c.expectRows(c.lib("getAll")(latest.getAll(chosen.toSeq.map(c.kseq)).found.collect()),
        chosen.toSeq.flatMap(k => next.gen(k).map(k -> _)), ordered = false)
    }
    // ranges of the written tenant around written keys, in key order
    for (_ <- 1 to 2) c.op("read_range", "read") {
      val s0 = written(rng.nextInt(written.size))._2
      val a = math.max(0L, s0 - 2L * rng.nextInt(50)); val b = a + 2L * (50 + rng.nextInt(50))
      c.expectRows(c.lib("range")(idx.range(Seq[Any](t, a), Seq[Any](t, b), true, true).collect()),
        next.keys((t, a), (t, b)).toSeq, ordered = true)
    }
    ReadOps.sqlTenantAgg(c, t, next)
    ReadOps.sqlTenantAgg(c, rng.nextInt(c.g.tenants), next)
    // the version before this commit still reads as it was, and so does an
    // older one
    c.op("openAt_get", "asof") {
      val hist = c.history()
      val i = hist.indexWhere(_._2 == prevVersion)
      val at = if (i + 1 < hist.size) (hist(i)._1 + hist(i + 1)._1) / 2 else hist(i)._1
      val past = c.lib("openAt")(KVIndex.openAt(c.store, c.Id, at)).fold(
        e => throw new IllegalStateException(e.message), identity)
      val k = written(rng.nextInt(written.size))
      if (past.manifest.version != prevVersion) Res(ok = false, 0L, s"openAt gave v${past.manifest.version}")
      else c.expectRows(c.lib("get")(past.get(c.kseq(k)).collect()),
        model.gen(k).map(k -> _).toSeq, ordered = true)
    }
    for (_ <- 1 to 2) ReadOps.openAtGet(c, idx, rng)
    touched :+= t
    if (round % 2 == 1) { refresh(c, idx, touched); touched = Vector.empty }
  }

  def bulkIngest(c: Ctx, start: KVIndex, deadline: Long, rng: Random): Unit = {
    val can = canaries(c)
    val readerRngs = Seq.fill(2)(new Random(rng.nextLong()))
    val lastSeen = Array.fill(2)(new AtomicLong(-1L))
    @volatile var idx = start
    runClients(c, 3, deadline) {
      case 0 => idx = bulkCommit(c, idx)
      case i =>
        readerRound(c, can, readerRngs(i - 1), lastSeen(i - 1))
        // a random pause between rounds keeps the readers from locking
        // onto one phase of the writer's commit cycle
        Thread.sleep(readerRngs(i - 1).nextInt(200).toLong)
    }
  }

  /** The bulk writer's round: one upsert of every m-th base key (m = rows /
    * bulkRows, at a residue that differs per generation) plus the canaries,
    * so every file is rewritten.
    */
  def bulkCommit(c: Ctx, cur: KVIndex): KVIndex = {
    val can = canaries(c)
    val gen = c.byGen.keys.max + 1L
    val m = c.g.rows / c.sizes.bulkRows
    val r = Math.floorMod(gen * 7L, m)
    val id = col("id") * m + r
    val batch = c.spark.range(c.g.rows / m).select(c.g.frame(
      id.divide(c.g.seqs).cast(LongType), pmod(id, lit(c.g.seqs.toLong)) * 2L, lit(gen)): _*)
      .unionByName(c.g.rowsFrame(c.spark, can, gen))
    val keys = (0L until c.g.rows / m).map { i =>
      val x = i * m + r; ((x / c.g.seqs).toInt, 2L * (x % c.g.seqs)) } ++ can
    c.byGen.put(gen, c.latestModel(cur).write(keys.map(_ -> Some(gen))))
    var next = cur
    c.op("commit", "commit") {
      val res = c.lib("execute")(cur.execute(Seq(Command.Insert(batch, upsert = true)),
        c.g.tx(gen), recordHistory = true))
      if (!res.success) Res(ok = false, 0L, s"commit failed: ${res.error}")
      else {
        next = new KVIndex(c.store, res.snapshot.get, c.rowsPerFile)
        c.genOfVersion.put(next.manifest.version, gen)
        Res(ok = true, keys.size, userBytes = userBytes(c.g, keys, gen))
      }
    }
    next
  }

  /** One reader round of bulk_ingest_under_reads. A torn snapshot shows
    * as canary rows of different generations; a stale one as LATEST going
    * back to an older generation than this reader already saw.
    */
  def readerRound(c: Ctx, can: Seq[K], rng: Random, last: AtomicLong): Unit = {
    c.op("canary_getAll", "read") {
      val latest = c.lib("open")(KVIndex.open(c.store, c.Id)).fold(
        e => throw new IllegalStateException(e.message), identity)
      val gen = c.genOf(latest.manifest)
      val rows = c.lib("getAll")(latest.getAll(can.map(c.kseq)).found.collect())
      canaryCheck(c, can, rows, gen, last)
    }
    c.op("sql_full_agg", "sql") {
      val r = c.sql(s"SELECT count(*), sum(amount) FROM g.${c.Id}").head
      val (n, s) = (r.getLong(0), r.getLong(1))
      c.byGen.collectFirst { case (gn, mdl) if gn >= last.get && mdl.totalCount == n && mdl.totalSum == s => gn } match {
        case Some(gn) => last.accumulateAndGet(gn, math.max); Res(ok = true, 1L)
        case None => Res(ok = false, 1L, s"count/sum $n/$s matches no generation >= ${last.get}")
      }
    }
    c.op("openAt_canaries", "asof") {
      val recent = c.history().takeRight(3)
      val (ts, v) = recent(rng.nextInt(recent.size))
      val past = c.lib("openAt")(KVIndex.openAt(c.store, c.Id, ts)).fold(
        e => throw new IllegalStateException(e.message), identity)
      val rows = c.lib("getAll")(past.getAll(can.map(c.kseq)).found.collect())
      if (past.manifest.version != v) Res(ok = false, 0L, s"openAt gave v${past.manifest.version}, expected v$v")
      else canaryCheck(c, can, rows, c.genOf(past.manifest), new AtomicLong(-1L))
    }
  }

  /** All canaries present, all of the snapshot's generation, never older
    * than a generation this reader saw before.
    */
  def canaryCheck(c: Ctx, can: Seq[K], rows: Array[Row], gen: Long, last: AtomicLong): Res = {
    val gens = rows.map(_.getAs[Long]("gen")).distinct
    val prev = last.getAndAccumulate(gen, math.max)
    if (gens.length != 1) Res(ok = false, rows.length, s"torn snapshot: canary generations ${gens.mkString(",")}")
    else if (gen < prev) Res(ok = false, rows.length, s"LATEST went back from generation $prev to $gen")
    else c.expectRows(rows, can.map(_ -> gen), ordered = false)
  }
}
