package graft

import org.apache.spark.sql.functions._

import graft.core._

/** SQL time travel over REGISTERED SNAPSHOT VIEWS (r20,
  * [[graft.plans.ViewTimeTravel]] + [[graft.sources.GraftSqlParser]]):
  * `FOR VERSION AS OF n` / `FOR TIMESTAMP AS OF t` on a
  * [[KVIndex.createOrReplaceView]] name re-resolves the view's index at
  * the floored snapshot — the wall-clock T3 floor (`findIndexAtWall`)
  * with the earliest-entry clamp, exactly the catalog tables' semantics.
  * Spark's analyzer refuses time travel on temp views, so this surface is
  * a parse-time splice; it must behave identically whatever optimizer
  * rule-registration order the shared session accumulated (the spliced
  * plan is the proven view stitch itself — asserted below by running the
  * same statements before AND after the catalog path's rules registered).
  */
class SqlViewAsOfSpec extends SparkSuite {
  import spark.implicits._

  private lazy val store = {
    val st = new FsSnapshotStore(tmpDir("graft-viewasof") + "/store", spark)
    // v1: k in [1,100] with v = k; v2: zero v under k < 20; v3: remove [40, 60)
    val base = (1L to 100L).map(i => (i, i)).toDF("k", "v")
    val v1 = KVIndex.bootstrap(st, "t", base, Seq("k"))
      .fold(e => sys.error(e.message), identity)
    st.recordSnapshot("t", v1.manifest.version, ts = 1000L, wallMs = 60L * 1000)
    val m2 = v1.execute(Seq(Command.Insert(
      (1L until 20L).map(i => (i, 0L)).toDF("k", "v"), upsert = true)), "tx-v2").orThrow
    st.recordSnapshot("t", m2.version, ts = 2000L, wallMs = 120L * 1000)
    val m3 = new KVIndex(st, m2).execute(Seq(Command.Remove(
      (40L until 60L).map(Tuple1(_)).toDF("k"))), "tx-v3").orThrow
    st.recordSnapshot("t", m3.version, ts = 3000L, wallMs = 180L * 1000)
    new KVIndex(st, m3).createOrReplaceView("vasof")
    st
  }

  private def stateAt(instant: String): (Long, Long) = {
    val r = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM vasof " +
      s"FOR TIMESTAMP AS OF '$instant'").head
    (r.getLong(0), r.getLong(1))
  }

  private val sumAll = (1L to 100L).sum
  private val sumV2 = (20L to 100L).sum // zeroed under 20
  private val sumV3 = (20L to 100L).filterNot(k => k >= 40 && k < 60).sum

  test("TIMESTAMP AS OF floors onto the wall-clock history (clamp included)") {
    store // build + register
    assert(stateAt("1970-01-01 00:00:30") == (100L, sumAll),
      "before the first stamp clamps to v1")
    assert(stateAt("1970-01-01 00:02:30") == (100L, sumV2), "between stamps floors to v2")
    assert(stateAt("1970-01-01 00:03:30") == (80L, sumV3), "after the last stamp: v3")
    // the PLAIN name still reads the registered (latest) snapshot
    val now = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM vasof").head
    assert((now.getLong(0), now.getLong(1)) == (80L, sumV3))
  }

  test("VERSION AS OF resolves the exact snapshot; predicates still prune") {
    store
    val v1 = spark.sql("SELECT sum(v) AS s FROM vasof FOR VERSION AS OF 1").head.getLong(0)
    assert(v1 == sumAll)
    // a leading-key predicate over the time-traveled view stays a pruned
    // ordered read (the spliced plan IS the view stitch)
    val page = spark.sql(
      "SELECT k, v FROM vasof FOR VERSION AS OF 1 WHERE k >= 95 ORDER BY k")
    assert(page.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (95L to 100L).map(i => (i, i)))
  }

  test("rule-registration-order independence: same answers after the catalog rules load") {
    store
    val before = stateAt("1970-01-01 00:02:30")
    // force the catalog path's full rule registration
    // (GraftRules.install) by running a catalog-table query
    spark.conf.set("spark.sql.catalog.vasofcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.vasofcat.root", store.root)
    assert(spark.sql("SELECT count(*) AS n FROM vasofcat.t ORDER BY n LIMIT 1")
      .head.getLong(0) == 80L)
    assert(stateAt("1970-01-01 00:02:30") == before)
    assert(stateAt("1970-01-01 00:03:30") == (80L, sumV3))
  }

  test("randomized differential: floor semantics vs a driver model over many commits — seed 47") {
    // N commits at explicit, strictly increasing wall stamps; random
    // instants (before, between, on, after the stamps) must return
    // exactly the model's floor version — clamped to the earliest
    val rnd = new scala.util.Random(47)
    val st = new FsSnapshotStore(tmpDir("graft-viewasof-fuzz") + "/store", spark)
    var ix = KVIndex.bootstrap(st, "f", Seq((0L, 0L)).toDF("k", "v"), Seq("k"))
      .fold(e => sys.error(e.message), identity)
    // version -> expected count, stamp list (strictly increasing, explicit)
    var states = Vector((ix.manifest.version, 1L, 1000L))
    st.recordSnapshot("f", ix.manifest.version, ts = 1L, wallMs = 1000L)
    var nextKey = 1L
    for (i <- 1 to 6) {
      val add = 1 + rnd.nextInt(5)
      val rows = (nextKey until nextKey + add).map(k => (k, k)).toDF("k", "v")
      nextKey += add
      val m = ix.execute(Seq(Command.Insert(rows)), s"tx-f$i").orThrow
      ix = new KVIndex(st, m)
      val stamp = states.last._3 + 500L + rnd.nextInt(1000)
      st.recordSnapshot("f", m.version, ts = i + 1L, wallMs = stamp)
      states :+= ((m.version, states.last._2 + add, stamp))
    }
    ix.createOrReplaceView("vasof_fuzz")
    def modelCount(ms: Long): Long =
      states.filter(_._3 <= ms).lastOption.getOrElse(states.head)._2
    val probes = states.flatMap(s => Seq(s._3 - 1, s._3, s._3 + 1)) ++
      Seq(1L, states.last._3 + 100000L) ++
      (1 to 10).map(_ => 500L + rnd.nextInt(10000).toLong)
    probes.foreach { ms =>
      val got = spark.sql("SELECT count(*) AS n FROM vasof_fuzz " +
        s"FOR TIMESTAMP AS OF timestamp_millis($ms)").head.getLong(0)
      assert(got == modelCount(ms), s"floor at ${ms}ms: got $got want ${modelCount(ms)}")
    }
    // VERSION AS OF agrees with the same model per recorded version
    states.foreach { case (v, n, _) =>
      val got = spark.sql(
        s"SELECT count(*) AS n FROM vasof_fuzz FOR VERSION AS OF $v").head.getLong(0)
      assert(got == n, s"version $v: got $got want $n")
    }
  }

  test("typed refusals: undated history, non-literal timestamp, unknown version") {
    store
    import spark.implicits._
    // an index with NO recorded history refuses wall-clock travel
    val st2 = new FsSnapshotStore(tmpDir("graft-viewasof2") + "/store", spark)
    KVIndex.bootstrap(st2, "nh", Seq((1L, 1L)).toDF("k", "v"), Seq("k"))
      .fold(e => sys.error(e.message), identity)
      .createOrReplaceView("vasof_nh")
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM vasof_nh FOR TIMESTAMP AS OF '1970-01-02'").collect())
    assert(e1.getMessage.contains("no recorded history"), e1.getMessage)
    // catalog-path parity: function instants resolve through a nested
    // one-row analysis — current_timestamp() floors to the LATEST state
    // (like Spark's own TimeTravelSpec), timestamp_millis to its instant
    val nowRows = spark.sql("SELECT count(*) AS n FROM vasof " +
      "FOR TIMESTAMP AS OF current_timestamp()").head.getLong(0)
    assert(nowRows == 80L, s"current_timestamp() must floor to the latest state, got $nowRows")
    // a column reference is rejected by Spark's own grammar check before
    // the splice runs; an unknown FUNCTION reaches the splice's nested
    // analysis and gets the graft typed refusal
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM vasof FOR TIMESTAMP AS OF some_column").collect())
    assert(e2.getMessage.contains("cannot refer to any columns"), e2.getMessage)
    val e2b = intercept[Exception](spark.sql(
      "SELECT * FROM vasof FOR TIMESTAMP AS OF no_such_fn(1)").collect())
    assert(e2b.getMessage.contains("does not resolve"), e2b.getMessage)
    // under ANSI (Spark 4 default) the cast itself raises the typed
    // CAST_INVALID_INPUT; under legacy mode the splice raises its own
    val e3 = intercept[Exception](spark.sql(
      "SELECT * FROM vasof FOR TIMESTAMP AS OF 'not-a-time'").collect())
    assert(e3.getMessage.contains("does not parse") ||
      e3.getMessage.contains("CAST_INVALID_INPUT"), e3.getMessage)
    // an unregistered temp view keeps Spark's own refusal
    Seq((1L, 1L)).toDF("k", "v").createOrReplaceTempView("plain_tv")
    val e4 = intercept[Exception](spark.sql(
      "SELECT * FROM plain_tv FOR VERSION AS OF 1").collect())
    assert(!e4.getMessage.contains("graft"), e4.getMessage)
  }
}
