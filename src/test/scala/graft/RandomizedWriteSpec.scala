package graft

import scala.collection.immutable.TreeMap
import org.apache.spark.sql.functions._
import graft.core._

/** Port of the reference's core randomized differential test
  * (`MainSpec.scala:184-206` + error injection `MainSpec.scala:66-74,
  * 119-126`): rounds of random mixed insert/update/remove batches against
  * an in-memory sorted model, with deliberate duplicate-key, phantom-key,
  * and wrong-version injections that must fail the WHOLE batch and leave
  * the visible snapshot untouched; after every round the full scan must
  * equal the model.
  */
class RandomizedWriteSpec extends SparkSuite {
  import spark.implicits._

  private var rnd = new scala.util.Random(23)
  private def randKey(): String =
    (1 to 6).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
  private def randVal(): String = rnd.alphanumeric.take(5).mkString

  // reference `Repeatable.scala:6-22` reruns each spec N times; two seeds
  // here keep runtime bounded while varying the op mix
  // each seed also runs with the driver bound at 0: the Spark fold and
  // write, against the same model
  for (seed <- Seq(23, 77); (budget, tier) <- Seq(LocalScan.BudgetBytes -> "", 0L -> ", Spark tier"))
  test(s"random mixed batches vs model, with error injection — seed $seed$tier") {
    LocalScan.withBudget(budget)(randomBatches(seed))
  }

  private def randomBatches(seed: Int): Unit = {
    rnd = new scala.util.Random(seed)
    val store = new FsSnapshotStore(tmpDir("graft-rand"), spark)
    // model: key -> (value, version)
    var model = TreeMap.empty[String, (String, String)]
    val init = (1 to 80).map(_ => randKey() -> randVal()).distinct.toMap
    val tx0 = "tx0"
    model = TreeMap(init.map { case (k, v) => k -> (v, tx0) }.toSeq: _*)
    var ix = KVIndex.bootstrap(store, "r", init.toSeq.toDF("k", "v"),
      Seq("k"), txVersion = tx0, maxRowsPerFile = 24).toOption.get

    def scanEquals(): Unit = {
      val got = ix.df.select("k", "v", "version").as[(String, String, String)]
        .collect().map { case (k, v, ver) => k -> (v, ver) }.toMap
      assert(got == model.toMap, "full scan must equal model")
      assert(ix.count == model.size)
    }
    scanEquals()

    (1 to 12).foreach { round =>
      val tx = s"tx$round"
      val existing = model.keys.toVector
      val op = rnd.nextInt(6)
      op match {
        case 0 => // clean upsert insert
          val batch = (1 to rnd.nextInt(30) + 1)
            .map(_ => randKey() -> randVal()).distinctBy(_._1)
          val res = ix.execute(Seq(Command.Insert(batch.toDF("k", "v"), upsert = true)), tx)
          assert(res.success)
          batch.foreach { case (k, v) => model += k -> (v, tx) }
          ix = new KVIndex(store, res.snapshot.get)

        case 1 => // clean update of existing keys (with matching CAS)
          if (existing.nonEmpty) {
            val keys = rnd.shuffle(existing).take(rnd.nextInt(10) + 1)
            val batch = keys.map(k => (k, randVal(), model(k)._2))
            val res = ix.execute(Seq(Command.Update(
              batch.toDF("k", "v", "expectedVersion"))), tx)
            assert(res.success)
            batch.foreach { case (k, v, _) => model += k -> (v, tx) }
            ix = new KVIndex(store, res.snapshot.get)
          }

        case 2 => // clean remove
          if (existing.nonEmpty) {
            val keys = rnd.shuffle(existing).take(rnd.nextInt(5) + 1)
            val res = ix.execute(Seq(Command.Remove(keys.toDF("k"))), tx)
            assert(res.success)
            keys.foreach(k => model -= k)
            ix = new KVIndex(store, res.snapshot.get)
          }

        case 3 => // injected: duplicate keys in batch → whole batch fails
          val k = randKey()
          val res = ix.execute(Seq(
            Command.Insert(Seq(randKey() -> randVal()).toDF("k", "v"), upsert = true),
            Command.Insert(Seq(k -> "x", k -> "y").toDF("k", "v"))), tx)
          assert(!res.success && res.error.exists(_.code == "DUPLICATED_KEYS"))

        case 4 => // injected: phantom update/remove → KEY_NOT_FOUND
          val phantom = "zzzz" + randKey()
          val res =
            if (rnd.nextBoolean())
              ix.execute(Seq(Command.Update(Seq((phantom, "v")).toDF("k", "v"))), tx)
            else ix.execute(Seq(Command.Remove(Seq(phantom).toDF("k"))), tx)
          assert(!res.success && res.error.exists(_.code == "KEY_NOT_FOUND"))

        case 5 => // injected: stale CAS version → VERSION_CHANGED
          if (existing.nonEmpty) {
            val k = existing(rnd.nextInt(existing.size))
            val res = ix.execute(Seq(Command.Update(
              Seq((k, "nope", "stale-version")).toDF("k", "v", "expectedVersion"))), tx)
            assert(!res.success && res.error.exists(_.code == "VERSION_CHANGED"))
          }
      }
      scanEquals() // after EVERY round, visible state == model
    }
    // the version chain recorded every successful commit
    assert(store.loadLatest("r").toOption.get.version == ix.manifest.version)
  }

  for (seed <- Seq(31, 91))
  test(s"random removeRange sequence vs model — seed $seed") {
    rnd = new scala.util.Random(seed)
    val store = new FsSnapshotStore(tmpDir("graft-rrd"), spark)
    val init = (1 to 120).map(_ => randKey() -> randVal()).distinct.toMap
    var model = TreeMap(init.toSeq: _*)
    // a null-keyed row sorts below every drawn bound (non-null alphabet), so
    // it must survive EVERY removeRange below — regression for the
    // null-unsafe survivor filter that silently deleted it
    val withNull = ((null: String) -> "vnull") +: init.toSeq
    var ix = KVIndex.bootstrap(store, "rr", withNull.toDF("k", "v"),
      Seq("k"), maxRowsPerFile = 16).toOption.get

    (1 to 10).foreach { round =>
      // random bounds drawn from the key ALPHABET (not just existing keys)
      // so ranges land inside files, across files, before/after everything
      val a = randKey(); val b = randKey()
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val incFrom = rnd.nextBoolean(); val incTo = rnd.nextBoolean()
      val res = ix.removeRange(Seq(lo), Seq(hi), incFrom, incTo, s"rtx$round")
      assert(res.success)
      val doomed = model.keys.filter { k =>
        (if (incFrom) k >= lo else k > lo) && (if (incTo) k <= hi else k < hi)
      }.toSeq
      model --= doomed
      val next = new KVIndex(store, res.snapshot.get)
      assert(res.commandRowCounts.headOption.getOrElse(0L) == doomed.size.toLong,
        s"round $round removed count")
      val got = next.df.select("k", "v").as[(String, String)].collect().toMap
      assert(got.get(null).contains("vnull"), s"round $round null-keyed row lost")
      assert((got - null) == model.toMap, s"round $round scan")
      assert(next.count == model.size + 1)
      assert(next.manifest.filesDisjointOrdered, s"round $round layout")
      ix = next
    }
  }
}
