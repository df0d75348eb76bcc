package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: pre-build the shared kv-store fixtures for sfDir and run
    // every query once at sf0.001, so one-time codegen (~7 s for the fused
    // HOF kernels) and store bootstraps stop landing on whichever timed
    // query happens to run first — per-query numbers become attributable
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val warmErrors = SparkEntry.warmup(spark, sfDir)
    // min-of-N per query (default 3): one-directional machine-load noise
    // swung identical code ±50% run to run under single-shot timing — the
    // min makes a real regression attributable. Reps interleave by
    // whole suite passes so a transient load spike degrades one PASS, not
    // one query's entire sample.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // fault-injection knob for the gate's own plumbing: break the named
    // query so the rc!=0 + errors-in-artifact path is demonstrable
    val break = sys.env.get("SPARK_GRAFT_BENCH_BREAK")
    val names = SparkEntry.queries.keys.toSeq
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    // a throwing query must NOT record a near-zero (flattering) time and
    // a clean exit — per-query errors are carried in the artifact and the
    // process exits non-zero so the bench gate sees the breakage
    val errors = scala.collection.mutable.Map.empty[String, String]
    // strip EVERY control character (codec errors echo binary) so the
    // artifact stays valid JSON when the detail matters most
    def describe(e: Throwable): String =
      (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").take(200))
        .replaceAll("[\\p{Cntrl}\"\\\\]", " ")
    for (_ <- 1 to reps; name <- names) {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok =
        try {
          if (break.contains(name))
            sys.error(s"SPARK_GRAFT_BENCH_BREAK fault injection for $name")
          fn(spark, sfDir).count(); true
        } catch { case e: Throwable => errors(name) = describe(e); false }
      // a failed rep records NO sample: its near-instant throw must not
      // become the per-query min and flatter the total
      if (ok) {
        val sec = (System.nanoTime() - t0) / 1e9
        samples(name) = sec :: samples.getOrElse(name, Nil)
      }
    }
    // per-query MINIMUM across the passes: machine-load noise only ever
    // ADDS time, so the min is the noise-robust estimator — phantom
    // regressions from one loaded pass stop re-litigating every round.
    // The artifact also carries EVERY sample (chronological pass order)
    // so a flagged query's stability across back-to-back runs is visible.
    // queries with zero successful reps carry no time at all (they live
    // in `errors`); a partially-failed query's min is over its SUCCESSFUL
    // reps only
    val results = names.filter(samples.contains)
      .map(name => name -> samples(name).min).toMap
    // sorted by name so round-over-round file diffs line up
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val all = names.sorted.filter(samples.contains)
      .map(k => "\"" + k + "\":" + samples(k).reverse.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def jsonMap(m: Iterable[(String, String)]): String = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val errs = jsonMap(errors)
    // warm-up failures (sf0.001 pass) are reported, not gated: the exit
    // code still follows the timed errors alone
    val warmErrs = jsonMap(warmErrors.map { case (k, e) => k -> describe(e) })
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"errors":$errs,"warmup_errors":$warmErrs,"samples":$all}"""
    println(line)
    // the driver keeps only a tail of stdout — persist the COMPLETE
    // per-query map so round-over-round comparison covers every query.
    // Resolve against the sbt PROJECT ROOT (walk up to build.sbt), not
    // the launcher's CWD, so the artifact lands in the repo and gets
    // committed each round no matter where the process starts.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_)).getOrElse {
        var d = java.nio.file.Paths.get(".").toAbsolutePath.normalize
        while (d != null && !java.nio.file.Files.exists(d.resolve("build.sbt")))
          d = d.getParent
        (if (d == null) java.nio.file.Paths.get(".") else d)
          .resolve("bench_full.json")
      }
    try java.nio.file.Files.write(out, line.getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"bench_full.json not written: $e") }
    // the driver keeps only a ~2000-char stdout TAIL, which truncates the
    // full per-query line above mid-JSON — so the LAST line printed is a
    // compact, always-complete summary carrying the totals and the path
    // of the committed full-sample artifact (self-containment: a
    // truncated capture still parses and still points at the evidence)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","reps":$reps,"nqueries":${results.size},"nerrors":${errors.size},"nwarmup_errors":${warmErrors.size},"artifact":"${out.toAbsolutePath}"}""")
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"bench: ${errors.size} quer${if (errors.size == 1) "y" else "ies"} failed: " +
        errors.keys.toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
