package kvbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** Shows that the checks count what they must: on a small index, a read
  * checked against the true model passes, the same read against a
  * corrupted expectation fails, and a canary read whose rows carry two
  * generations (a torn snapshot) or an older generation than already seen
  * (LATEST going back) fails. Exit code 0 only when exactly the three
  * planted failures were counted.
  */
object SelfTest {
  def run(spark: SparkSession, runDir: Path): Int = {
    val sizes = Sizes(tenants = 20, seqs = 500, files = 4, canaries = 8)
    val c = new Ctx(spark, new Gen(42L, sizes.tenants, sizes.seqs), sizes, traced = false)
    val idx = Workloads.build(c, runDir.resolve("selftest").toString, new Random(1L))
    val model = c.latestModel(idx)
    val k: Model.K = (3, 10L)
    val can = Workloads.canaries(c)
    val gen = c.genOf(idx.manifest)
    def get(m: Model) = c.op("get", "read") {
      c.expectRows(idx.get(c.kseq(k)).collect(), m.gen(k).map(k -> _).toSeq, ordered = true)
    }
    def canary(rows: Array[Row], last: AtomicLong) = c.op("canary_getAll", "read") {
      Workloads.canaryCheck(c, can, rows, gen, last)
    }
    val rows = idx.getAll(can.map(c.kseq)).found.collect()
    val torn = rows.updated(0, {
      val r = rows(0); val (t, s) = c.key(r); val g2 = r.getAs[Long]("gen") + 1L
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](t, s, c.g.amount(t, s, g2), c.g.payload(t, s, g2), g2, c.g.tx(g2)), r.schema): Row
    })
    val planted = Seq(
      "true expectation" -> (get(model).ok, true),
      "corrupted expectation" -> (get(model.write(Seq(k -> Some(99L)))).ok, false),
      "whole canary read" -> (canary(rows, new AtomicLong(-1L)).ok, true),
      "torn canary read" -> (canary(torn, new AtomicLong(-1L)).ok, false),
      "LATEST going back" -> (canary(rows, new AtomicLong(gen + 1L)).ok, false))
    planted.foreach { case (what, (ok, want)) =>
      println(s"[kvbench] selftest $what: ${if (ok) "passed" else "counted as failed"}" +
        (if (ok != want) " (WRONG)" else ""))
    }
    val good = planted.forall { case (_, (ok, want)) => ok == want } && c.failed.get == 3L
    println(s"[kvbench] selftest ${if (good) "ok" else "FAILED"}: ${c.failed.get} of " +
      s"${c.attempted.get} ops counted as failed")
    if (good) 0 else 1
  }
}
