package kvbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one timed window.
  *
  * {{{
  *   kvbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --cores <n>
  *   kvbench.Main --selftest --work <dir> --cores <n>
  * }}}
  *
  * Prints progress lines prefixed `[kvbench]` and, last, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. Any unexpected
  * Throwable ends the run with a non-zero exit code and the failing op's
  * name, without a result line. Everything it writes lives under a fresh
  * directory inside `--work`, removed at exit.
  */
object Main {
  /** Set-up builds the index this many times; `setup_s` takes the median. */
  val Builds = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selftest = argv.contains("--selftest")
    val cores = a.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val runDir = Paths.get(a("work")).toAbsolutePath.resolve(s"run-${java.util.UUID.randomUUID()}")
    Files.createDirectories(runDir)
    val spark = session(cores, runDir)
    val code =
      try {
        if (selftest) SelfTest.run(spark, runDir)
        else run(spark, a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
          cores, runDir)
      } catch {
        case e: OpFailed =>
          System.err.println(s"[kvbench] FAILED: ${e.getMessage}")
          e.printStackTrace(); 1
        case e: Throwable =>
          System.err.println(s"[kvbench] FAILED outside any op: $e")
          e.printStackTrace(); 1
      } finally {
        spark.stop()
        deleteTree(runDir)
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kvbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.g", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.g.root", runDir.resolve("store").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Int, traced: Boolean,
          cores: Int, runDir: Path): Int = {
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val sizes = Workloads.sizes(workload)
    val c = new Ctx(spark, new Gen(seed, sizes.tenants, sizes.seqs), sizes, traced)
    if (traced) Trace.start(spark)

    // set-up: build the starting state Builds times from the same seed, each
    // in a fresh store, then one warm-up pass of the workload's ops
    val storeDir = runDir.resolve("store")
    val builds = (1 to Builds).map { i =>
      c.phase = s"setup$i"
      deleteTree(storeDir)
      val t0 = Trace.now()
      val idx = Workloads.build(c, storeDir.toString, new Random(seed * 7919L + 1L))
      ((Trace.now() - t0) / 1e9, idx)
    }
    val built = builds.last._2
    val buildS = Stats.median(builds.map(_._1))
    c.phase = "warmup"
    val t1 = Trace.now()
    val warmRng = new Random(seed * 7919L + 2L)
    Workloads.warmup(workload, c, built, warmRng)
    val warmup = (Trace.now() - t1) / 1e9
    val setupS = buildS + warmup
    val idx = latest(c)
    val storeBytes0 = Stats.treeBytes(storeDir)
    println(f"[kvbench] setup builds ${builds.map(b => f"${b._1}%.2f").mkString(" ")} s, " +
      f"warm-up $warmup%.2f s, setup_s $setupS%.3f, " +
      f"files ${idx.numFiles}, rows ${idx.count}, bytes $storeBytes0")
    if (traced) {
      val now = latest(c)
      ReadOps.sweep.foreach(op => op(c, now, warmRng))
      Trace.stop(spark)
    }

    // a traced run measures an untraced and a traced half-window, so the
    // difference is the tracing overhead and the run takes no longer
    val winRng = new Random(seed * 7919L + 3L)
    val windowNs = seconds * (if (traced) 500000000L else 1000000000L)
    def window(phase: String): Double = {
      c.phase = phase
      val w0 = Trace.now()
      c.windowStart = w0
      workload match {
        case "read_snapshot" => Workloads.readSnapshot(c, idx, w0 + windowNs, winRng)
        case "small_commits" => Workloads.smallCommits(c, latest(c), w0 + windowNs, winRng)
        case "bulk_ingest_under_reads" => Workloads.bulkIngest(c, latest(c), w0 + windowNs, winRng)
      }
      (Trace.now() - w0) / 1e9
    }
    val elapsed = window("window")
    val e2e = Metrics.endToEnd(c, setupS)
    val storeBytes1 = Stats.treeBytes(storeDir)
    val recs = c.recs.asScala.toSeq
    println(s"[kvbench] workload $workload seed $seed window ${"%.2f".format(elapsed)} s, " +
      s"store growth ${storeBytes1 - storeBytes0} bytes")
    println(s"[kvbench] samples " + Metrics.Classes.map(k => s"$k=${Metrics.samples(c, k)._1.size}(${Metrics.samples(c, k)._2})").mkString(" "))
    println(s"[kvbench] setup_digest ${Stats.digest(recs.filter(_.phase.startsWith("setup")).map(r => s"${r.phase}:${r.name}:${r.rows}"))} " +
      s"ops_digest ${Stats.digest(recs.filter(_.phase == "window").take(12).map(r => s"${r.name}:${r.rows}"))}")
    recs.filter(_.phase == "window").groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      val v = rs.map(Metrics.ms)
      println(f"[kvbench] op $n%-18s n=${v.size}%3d min ${v.min}%8.1f p50 ${Stats.median(v)}%8.1f max ${v.max}%8.1f ms")
    }
    println("[kvbench] ungated " + Metrics.ungated(c).map { case (n, v, u) => f"$n $v%.4g $u" }.mkString(", "))
    println(f"[kvbench] error_rate ${c.failed.get.toDouble / math.max(1L, c.attempted.get)}%.6f " +
      s"(${c.failed.get} of ${c.attempted.get} ops)")
    c.failures.asScala.foreach(f => println(s"[kvbench] check failed: $f"))

    val metrics =
      if (!traced) e2e
      else {
        Trace.start(spark)
        val elapsed2 = window("traced")
        Trace.stop(spark)
        val layers = Metrics.perLayer(c, elapsed2, cores, storeDir)
        println(f"[kvbench] traced window $elapsed2%.2f s")
        layers
      }
    println(Metrics.json(c.failed.get == 0L, c.attempted.get, c.failed.get, metrics))
    0
  }

  private def latest(c: Ctx): graft.core.KVIndex =
    new graft.core.KVIndex(c.store,
      graft.core.KVIndex.open(c.store, c.Id).fold(e => sys.error(e.message), _.manifest),
      c.rowsPerFile)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
