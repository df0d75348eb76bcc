package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Count Spark jobs/stages/tasks a declared query schedules — the
  * measurement companion to `graft.Plans` for fixture-style queries whose
  * returned frame is a checkpoint/local leaf (streaming lifecycles,
  * iterative fixed points): their `.explain` cannot show the per-step
  * plans, but the scheduled-job count is exactly what a driver-action
  * trim changes. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProbeJobs q1,q2,..."
  *
  * Prints one line per query: name, jobs, stages, tasks, wall seconds
  * (min over SPARK_GRAFT_PROBE_REPS runs, default 2 — the first run in a
  * session pays one-time codegen).
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeJobs <q1,q2,...>")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.warmup(spark, sfDir).toSeq.sortBy(_._1).foreach { case (q, e) =>
      System.err.println(s"[warmup] $q failed: $e") }
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized { stages += 1; tasks += s.stageInfo.numTasks }
    }
    spark.sparkContext.addSparkListener(listener)
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      var best = (Int.MaxValue, 0, 0, Double.MaxValue)
      for (_ <- 1 to reps) {
        // the listener bus is async; a short quiesce keeps counts honest
        Thread.sleep(500)
        synchronized { jobs = 0; stages = 0; tasks = 0 }
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        if (sec < best._4) best = (jobs, stages, tasks, sec)
      }
      println(f"[probejobs] $name%-20s jobs=${best._1}%4d stages=${best._2}%4d " +
        f"tasks=${best._3}%6d sec=${best._4}%8.3f")
    }
    spark.stop()
  }
}
