package graft
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named declared queries — the plan
  * evidence harness for optimization rounds. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.Plans <outDir> <suffix> q1,q2,..."
  *
  * writes `<outDir>/<query>_<suffix>.txt` per query. Fixture-style
  * queries (streaming lifecycles, multi-action probes) explain their
  * RESULT frame only; that is still the honest plan for what the bench
  * times last, and the file records it as such.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <outDir> <suffix> <q1,q2,...>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
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
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plans] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
