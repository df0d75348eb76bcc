package kvbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(xs.sum / xs.size)

  def digest(xs: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(xs.mkString("\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** End-to-end metrics from the op records, and per-layer metrics from the
  * trace. A class of op that a workload's timed window does not run is
  * measured over the same class run warm in its set-up (the second build
  * and the warm-up pass), so every workload reports every metric.
  */
object Metrics {
  type M = (String, Double, String)
  val Classes = Seq("read", "sql", "asof", "commit", "refresh")

  /** Set-up records made after the first, cold build. */
  def warm(r: OpRec): Boolean =
    r.phase == "warmup" || (r.phase.startsWith("setup") && r.phase != "setup1")
  def ms(r: OpRec): Double = (r.end - r.start) / 1e6

  /** The records of class `cls` a metric uses, and where they came from. */
  def samples(c: Ctx, cls: String): (Seq[OpRec], String) = {
    val all = c.recs.asScala.toSeq.filter(_.cls == cls)
    val w = all.filter(_.phase == "window")
    if (w.nonEmpty) (w, "window") else (all.filter(warm), "setup")
  }

  /** Quantile `q` of class `cls`. A class that mixes op types takes it over
    * the rounds the deadline did not cut, so every run mixes them in the
    * same proportion.
    */
  def lat(c: Ctx, cls: String, q: Double): Double = {
    val rs = samples(c, cls)._1
    val mixed = rs.map(_.name).distinct.size > 1
    Stats.quantile((if (mixed && rs.exists(c.complete)) rs.filter(c.complete) else rs).map(ms), q)
  }

  /** `f` summed per second: over the window's complete rounds, up to the
    * end of the last of them, so a round the deadline cut does not count;
    * per second spent in the op when the class comes from set-up.
    */
  def rate(c: Ctx, cls: String, f: OpRec => Double): Double = {
    val (rs, src) = samples(c, cls)
    if (src != "window") rs.map(f).sum / (rs.map(ms).sum / 1000.0)
    else {
      val done = c.recs.asScala.toSeq.filter(r => r.phase == "window" && c.complete(r))
      if (done.isEmpty) rs.map(f).sum / ((rs.map(_.end).max - c.windowStart) / 1e9)
      else rs.filter(c.complete).map(f).sum / ((done.map(_.end).max - c.windowStart) / 1e9)
    }
  }

  /** The gated end-to-end metrics: medians, rates and set-up figures that a
    * 20 s window samples often enough to repeat run to run.
    */
  def endToEnd(c: Ctx, setupS: Double): Seq[M] = Seq(
    ("setup_s", setupS, "s"),
    ("read_ops_per_s", rate(c, "read", _ => 1.0), "1/s"),
    ("read_p50_ms", lat(c, "read", 0.5), "ms"),
    ("sql_p50_ms", lat(c, "sql", 0.5), "ms"),
    ("asof_p50_ms", lat(c, "asof", 0.5), "ms"),
    ("commit_p50_ms", lat(c, "commit", 0.5), "ms"),
    ("committed_rows_per_s", rate(c, "commit", _.rows.toDouble), "1/s"),
    ("refresh_p50_ms", lat(c, "refresh", 0.5), "ms"),
    ("peak_rss_mb", Stats.peakRssMb(), "MB"))

  /** Printed, not gated: tail percentiles have fewer than ten samples
    * beyond them in one window, and commits per second is committed rows
    * per second over a fixed batch size.
    */
  def ungated(c: Ctx): Seq[M] = Seq(
    ("read_p95_ms", lat(c, "read", 0.95), "ms"),
    ("sql_p95_ms", lat(c, "sql", 0.95), "ms"),
    ("commit_p90_ms", lat(c, "commit", 0.9), "ms"),
    ("commits_per_s", rate(c, "commit", _ => 1.0), "1/s"))

  val LibOps = Seq("get", "getAll", "range", "prefix", "nextKey", "headOrdered", "countRange",
    "openAt", "open", "execute")
  val Rules = Seq("GraftOrderedScan", "GraftCountRange", "GraftAsOfIdiom", "GraftPrefixCluster")

  /** Per-layer metrics of the traced window (ops of phase "traced"). */
  def perLayer(c: Ctx, elapsed: Double, cores: Int, storeDir: Path): Seq[M] = {
    import Trace.{Job, Span}
    val spans = Trace.allSpans
    val kids = spans.groupBy(_.parent)
    val jobsBySpan = Trace.jobs.values.toSeq.groupBy(_.span)
    val recs = c.recs.asScala.toSeq.filter(_.span != 0L)
    // listener times have millisecond grain: allow 1 ms either side, and
    // give up when ops of different clients overlap the instant
    Trace.attributeQueries { t =>
      val hit = recs.filter(r => r.start - 1000000L <= t && t <= r.end + 1000000L)
      if (hit.map(_.client).distinct.size != 1) None
      else Some(hit.filter(_.start <= t + 1000000L).maxBy(_.start).span)
    }
    val queriesBySpan = Trace.queries.values.toSeq.groupBy(_.span)
    def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(s => subtree(s.id))
    val trees = recs.map(r => r.span -> subtree(r.span)).toMap
    def jobsOf(ids: Seq[Long]): Seq[Job] = ids.flatMap(jobsBySpan.getOrElse(_, Nil))
    def named(ops: Seq[OpRec], name: String): Seq[Span] = {
      val ids = ops.flatMap(r => trees(r.span)).toSet
      spans.filter(s => s.name == name && ids(s.parent))
    }
    def jobIv(j: Job): (Long, Long) = (Trace.wallToNano(j.submit), Trace.wallToNano(math.max(j.end, j.submit)))
    def dur(s: Span): Double = (s.end - s.start) / 1e6
    def selfMs(s: Span): Double = {
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(jobIv)
      (s.end - s.start - Stats.covered(iv.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter(x => x._2 > x._1))) / 1e6
    }

    val traced = recs.filter(_.phase == "traced")
    val warmRecs = recs.filter(warm)
    /** A metric over the traced window, or over warm set-up when the window has none. */
    def layer(f: Seq[OpRec] => Option[Double]): Double =
      f(traced).orElse(f(warmRecs)).getOrElse(0.0)
    def spanMedian(name: String, v: Span => Double): Double =
      layer(ops => named(ops, name) match { case Nil => None; case ss => Some(Stats.median(ss.map(v))) })
    def spanMean(name: String, v: Span => Double): Double =
      layer(ops => Stats.mean(named(ops, name).map(v)))
    def perOp(cls: Set[String])(v: OpRec => Double): Double =
      layer(ops => Stats.mean(ops.filter(r => cls(r.cls)).map(v)))
    val allCls = Classes.toSet
    def opJobs(r: OpRec): Seq[Job] = jobsOf(trees(r.span))
    def opQueries(r: OpRec): Seq[Trace.Query] = trees(r.span).flatMap(queriesBySpan.getOrElse(_, Nil))
    def ratio(ops: Seq[OpRec], num: OpRec => Double, den: OpRec => Double): Option[Double] = {
      val d = ops.map(den).sum
      if (d > 0) Some(ops.map(num).sum / d) else None
    }

    val lib = LibOps.flatMap { op =>
      val n = s"kvindex.$op"
      Seq((s"$n.ms", spanMedian(n, dur), "ms"),
        (s"$n.jobs", spanMean(n, s => jobsOf(subtree(s.id)).size.toDouble), "count"),
        (s"$n.self_ms", spanMedian(n, selfMs), "ms"))
    }
    val store = Seq(
      ("store.write_data.ms", spanMean(TimedStore.WriteData, dur), "ms"),
      ("store.manifest_cas.ms", spanMean(TimedStore.ManifestCas, dur), "ms"),
      ("store.history_append.ms", spanMean(TimedStore.HistoryAppend, dur), "ms"),
      ("store.latest_swap.ms", spanMean(TimedStore.LatestSwap, dur), "ms"),
      ("store.control_read.ms", spanMean(TimedStore.ControlRead, dur), "ms"),
      ("store.files_read_per_op", layer(ops => Stats.mean(named(ops.filter(_.cls == "read"), TimedStore.ReadFiles)
        .filter(_.manifestFiles > 0).map(s => s.files.toDouble / s.manifestFiles))), "ratio"),
      ("store.write_amp", layer(ops => ratio(ops.filter(_.cls == "commit"),
        r => named(Seq(r), TimedStore.WriteBytes).map(_.bytes.toDouble).sum, _.userBytes.toDouble)), "ratio"),
      ("store.space_amp", spaceAmp(c, storeDir), "ratio"))
    val mview = Seq(
      ("mview.refresh.ms", spanMedian("mview.refresh", dur), "ms"),
      ("mview.refresh.jobs", spanMean("mview.refresh", s => jobsOf(subtree(s.id)).size.toDouble), "count"))
    val sqlOps = Set("sql")
    def phase(p: String): Double = perOp(sqlOps)(r => opQueries(r).map(_.phases.getOrElse(p, 0L).toDouble).sum)
    def ruleStats(r: OpRec, rule: String): Seq[(Long, Int, Int)] =
      opQueries(r).flatMap(_.rules.collect { case (k, v) if k.endsWith("." + rule) || k == rule => v })
    val sources = Seq(
      ("catalyst.analysis.ms", phase("analysis"), "ms"),
      ("catalyst.optimization.ms", phase("optimization"), "ms"),
      ("catalyst.planning.ms", phase("planning"), "ms")) ++
      Rules.flatMap { rule => Seq(
        (s"sources.rule.$rule.ms", perOp(sqlOps)(r => ruleStats(r, rule).map(_._1).sum / 1e6), "ms"),
        (s"sources.rule.$rule.fired_ratio", layer(ops => ratio(ops.filter(_.cls == "sql"),
          r => ruleStats(r, rule).map(_._3.toDouble).sum, r => ruleStats(r, rule).map(_._2.toDouble).sum)), "ratio"))
      } ++ Seq(
      ("sources.planned_files", layer(ops => Stats.mean(named(ops.filter(_.cls == "sql"), "sources.planned_files")
        .filter(_.files >= 0).map(_.files.toDouble))), "count"),
      ("exec.rows_scanned_per_row_returned", layer(ops => ratio(ops.filter(r => r.cls == "read" || r.cls == "sql"),
        r => opJobs(r).map(_.inRecords.toDouble).sum, _.rows.toDouble)), "ratio"))
    def jobSum(f: Job => Double): Double = perOp(allCls)(r => opJobs(r).map(f).sum)
    val sched = Seq(
      ("sched.jobs_per_op", perOp(allCls)(r => opJobs(r).size.toDouble), "count"),
      ("sched.stages_per_op", jobSum(_.stages.toDouble), "count"),
      ("sched.tasks_per_op", jobSum(_.tasks.toDouble), "count"),
      ("sched.job_wall.ms", layer(ops => Stats.mean(ops.flatMap(opJobs).map(j => (j.end - j.submit).toDouble))), "ms"),
      ("sched.driver_only.ms", perOp(allCls)(r =>
        (r.end - r.start - Stats.covered(opJobs(r).map(jobIv))) / 1e6), "ms"),
      ("sched.queue_wait.ms", layer(ops => Stats.mean(ops.flatMap(opJobs).filter(_.firstLaunch >= 0)
        .map(j => (j.firstLaunch - j.submit).toDouble))), "ms"))
    val exec = Seq(
      ("exec.task_run.ms", jobSum(_.runMs.toDouble), "ms"),
      ("exec.task_cpu.ms", jobSum(_.cpuNs / 1e6), "ms"),
      ("exec.gc.ms", jobSum(_.gcMs.toDouble), "ms"),
      ("exec.input_bytes", jobSum(_.inBytes.toDouble), "bytes"),
      ("exec.shuffle_write_bytes", jobSum(_.shWrite.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", jobSum(_.shRead.toDouble), "bytes"),
      ("exec.output_bytes", jobSum(_.outBytes.toDouble), "bytes"),
      ("exec.core_busy_ratio", traced.flatMap(opJobs).distinct.map(_.taskMs.toDouble).sum /
        (elapsed * 1000.0 * cores), "ratio"))
    def meanMs(ph: String) = Stats.mean(c.recs.asScala.toSeq.filter(_.phase == ph).map(ms)).getOrElse(Double.NaN)
    val overhead = Seq(("trace.overhead_pct", 100.0 * (meanMs("traced") / meanMs("window") - 1.0), "%"))
    val graftRules = Trace.queries.values.flatMap(_.rules.keys).filter(_.startsWith("graft")).toSeq.distinct.sorted
    println(s"[kvbench] graft rules seen: ${graftRules.mkString(" ")}")
    lib ++ store ++ mview ++ sources ++ sched ++ exec ++ overhead
  }

  /** Bytes on disk under the index per byte the LATEST snapshot references. */
  private def spaceAmp(c: Ctx, storeDir: Path): Double = {
    val live = graft.core.KVIndex.open(c.store, c.Id).fold(e => sys.error(e.message), identity)
      .manifest.files.map(f => TimedStore.fileBytes(f.path)).sum
    Stats.treeBytes(storeDir.resolve(c.Id).resolve("data")).toDouble / live
  }

  def json(correct: Boolean, attempted: Long, failed: Long, ms: Seq[M]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
  }
}
