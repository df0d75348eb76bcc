package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (reference test style:
  * one storage/builder per spec, `MainSpec.scala:27-44`).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `df` planned afresh with the driver-local read tier off: the Spark
    * plan (file scans, exchanges, jobs) a catalog statement runs above
    * the driver bound. Below it the same statement answers on the driver.
    */
  def sparkPlanned(df: DataFrame): DataFrame = graft.core.LocalScan.withBudget(0L) {
    val fresh = org.apache.spark.sql.graft.Shim.ofRows(spark, df.queryExecution.logical)
    fresh.queryExecution.executedPlan
    fresh
  }
}
