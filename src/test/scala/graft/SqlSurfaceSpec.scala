package graft

import graft.functions.GraftFunctions

/** Kernels exposed through the SQL surface. */
class SqlSurfaceSpec extends SparkSuite {
  import spark.implicits._

  test("registered functions run from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  round(cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                   array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 6) AS cs,
        |  dot_f(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
        |  simhash64(array('a','b')) AS sh,
        |  size(minhash_sig(array('x','y','z'), 8)) AS ml,
        |  size(lsh_band_keys(minhash_sig(array('x'), 8), 2, 4)) AS bl,
        |  doc_fingerprint('hello world, a long enough string') AS fp
        |""".stripMargin)
      .as[(Double, Double, Long, Int, Int, Long)].head()
    assert(r._1 == 1.0 && r._2 == 6.0 && r._4 == 8 && r._5 == 2)
  }

  test("top_k aggregate callable from SQL") {
    GraftFunctions.register(spark)
    val rows = (1 to 50).map(i => (i % 3, i.toLong, (i * 37 % 50).toDouble))
    rows.toDF("g", "id", "score").createOrReplaceTempView("tk_v")
    val res = spark.sql(
      "SELECT g, size(top_k_10(id, score)) AS n FROM tk_v GROUP BY g ORDER BY g")
      .as[(Int, Int)].collect()
    assert(res.forall(_._2 == 10))
  }

  test("DataSource V2: spark.read.format(\"graft\") opens a snapshot with file pruning + pushdown") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-dsv2"), spark)
    val rows = (1L to 4000L).map(i => (i, s"v$i", i * 3)).toDF("k", "s", "x")
    val ix = KVIndex.bootstrap(store, "dsv", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(ix.numFiles >= 4, "need a multi-file snapshot to observe pruning")
    def load() = spark.read.format("graft")
      .option("root", store.root).load("dsv")
    // full read round-trips
    assert(load().count() == 4000L)
    // kv_sql_view-equivalent query through the format
    val got = load().filter($"k" >= 100L && $"k" <= 110L)
      .select("k", "x").orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got == (100L to 110L).map(i => (i, i * 3)))
    // the point predicate prunes the MANIFEST to one covering file before
    // the parquet scan is planned (the native tableForRange prune as DSv2
    // filter pushdown; the V1 bridge hides the inner scan's metrics, so
    // pruning is pinned through the scan's planning telemetry)
    import graft.sources.GraftScan
    val point = load().filter($"k" === 1234L).select("x")
    assert(point.as[Long].collect().toSeq == Seq(3702L))
    assert(GraftScan.lastPlannedFiles == 1,
      s"point query must plan 1 covering file of ${ix.numFiles}, " +
        s"planned ${GraftScan.lastPlannedFiles}")
    val range = load().filter($"k" > 3900L).select("k")
    assert(range.as[Long].collect().length == 100)
    assert(GraftScan.lastPlannedFiles >= 1 && GraftScan.lastPlannedFiles < ix.numFiles,
      s"range query must prune the file set, planned ${GraftScan.lastPlannedFiles}")
    load().collect()
    assert(GraftScan.lastPlannedFiles == ix.numFiles, "unfiltered scan reads all files")
    // count() itself no longer scans: it collapses to manifest stats
    load().count()
    assert(GraftScan.lastPlannedFiles == 0, "count(*) answers from the manifest")
    // time travel via version option
    val r2 = ix.execute(Seq(Command.Insert(
      Seq((9999L, "new", 1L)).toDF("k", "s", "x"))))
    assert(r2.success)
    assert(spark.read.format("graft").option("root", store.root)
      .option("version", "1").load("dsv").count() == 4000L)
    assert(spark.read.format("graft").option("root", store.root)
      .load("dsv").count() == 4001L)
    // SQL text over the format: CREATE TABLE ... USING graft
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dsv_sql USING graft " +
      s"OPTIONS (root '${store.root}', path 'dsv')")
    assert(spark.sql("SELECT x FROM dsv_sql WHERE k = 1234").as[Long].head() == 3702L)

    // ---- write path: append commits a COW version through the CAS ----
    Seq((5001L, "w1", 15003L), (5002L, "w2", 15006L)).toDF("k", "s", "x")
      .write.format("graft").option("root", store.root).mode("append").save("dsv")
    assert(load().count() == 4003L) // 4001 (incl. the library-API insert) + 2
    assert(load().filter($"k" === 5001L).select("x").as[Long].head() == 15003L)
    // upsert option rewrites in place
    Seq((5001L, "w1b", 999L)).toDF("k", "s", "x")
      .write.format("graft").option("root", store.root).option("upsert", "true")
      .mode("append").save("dsv")
    assert(load().filter($"k" === 5001L).select("x").as[Long].head() == 999L)
    assert(load().count() == 4003L)
    // duplicate key without upsert surfaces the library's typed error
    val dupErr = intercept[Exception] {
      Seq((5002L, "dup", 0L)).toDF("k", "s", "x")
        .write.format("graft").option("root", store.root).mode("append").save("dsv")
    }
    def rootCauses(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(rootCauses(dupErr).exists(_.getMessage.contains("LEAF_DUPLICATE_KEY")),
      dupErr.toString)
    // overwrite is refused: versioned COW replaces by new version, never
    // by destroying one
    assertThrows[Exception] {
      Seq((1L, "o", 0L)).toDF("k", "s", "x")
        .write.format("graft").option("root", store.root).mode("overwrite").save("dsv")
    }
    assert(load().count() == 4003L, "refused overwrite must not change content")
    // a DataFrame write CREATES a new index when given key columns
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.format("graft").option("root", store.root)
      .option("keys", "id").save("fresh")
    val fresh = spark.read.format("graft").option("root", store.root).load("fresh")
    assert(fresh.orderBy("id").as[(Long, Long, String)].collect()
      .map(t => (t._1, t._2)).toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("ordered SQL through the DSV2 path: ORDER BY leading key plans the " +
       "exchange-free stitch; non-key order keeps its sort") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-ordscan"), spark)
    val rows = (1L to 4000L).map(i => (i, s"v$i", i * 3)).toDF("k", "s", "x")
    val ix = KVIndex.bootstrap(store, "osv", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(ix.numFiles >= 4, "need a multi-file snapshot to observe the stitch")
    def load() = spark.read.format("graft").option("root", store.root).load("osv")
    // a global SortExec prints as "Sort [...], true, 0"; the stitch's
    // per-leg local sorts print ", false," and are expected
    val globalSort = """Sort \[[^\]]*\], true""".r

    // ORDER BY key: the GraftOrderedScan rewrite swaps in the declared
    // stitch — no global sort, no exchange, rows still in key order
    val asc = load().orderBy("k")
    val p1 = asc.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p1).isEmpty && !p1.contains("Exchange"),
      s"ORDER BY key over the DSV2 scan must elide the sort:\n$p1")
    assert(asc.select("k").as[Long].collect().toSeq == (1L to 4000L))

    // DESC too (reverse stitch)
    val desc = load().orderBy($"k".desc)
    val p2 = desc.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p2).isEmpty && !p2.contains("Exchange"),
      s"ORDER BY key DESC must elide the sort:\n$p2")
    assert(desc.select("k").as[Long].collect().toSeq == (1L to 4000L).reverse)

    // projection + range predicate: sort still elided, predicate still
    // PRUNES the stitch to covering files, result correct
    val ranged = load().select("k", "x").filter($"k".between(100L, 110L)).orderBy("k")
    val p3 = ranged.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p3).isEmpty && !p3.contains("Exchange"),
      s"filtered+projected ORDER BY key must elide the sort:\n$p3")
    val nScans = p3.sliding("FileScan".length).count(_ == "FileScan")
    assert(nScans < ix.numFiles,
      s"range predicate should prune stitch files ($nScans of ${ix.numFiles}):\n$p3")
    assert(ranged.as[(Long, Long)].collect().toSeq ==
      (100L to 110L).map(i => (i, i * 3)))
    // ... and the narrow projection reaches the leg scans' ReadSchema
    // (the stitch swap must not widen the read back to every column)
    ranged.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("k", "x")),
        s"stitch leg must read only k,x: ${s.requiredSchema.fieldNames.mkString(",")}")
    }

    // a COMPUTED projection (still deterministic, sort key passes
    // through) keeps the elision — the kv_dsv2 query shape
    val computed = load().filter($"k" > 50L)
      .select($"k", ($"x" * 2).as("x2")).orderBy("k")
    val p3b = computed.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p3b).isEmpty && !p3b.contains("Exchange"),
      s"computed projection must not block the elision:\n$p3b")
    assert(computed.limit(3).as[(Long, Long)].collect().toSeq ==
      Seq((51L, 306L), (52L, 312L), (53L, 318L)))

    // SQL text over the format surface gets the same treatment
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW osv_sql USING graft " +
      s"OPTIONS (root '${store.root}', path 'osv')")
    val sqlQ = spark.sql("SELECT k FROM osv_sql ORDER BY k")
    val p4 = sqlQ.queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(p4).isEmpty && !p4.contains("Exchange"),
      s"SQL-text ORDER BY key must elide the sort:\n$p4")
    assert(sqlQ.as[Long].collect().toSeq == (1L to 4000L))

    // ordering on a NON-key column must keep its real global sort
    val nonKey = load().orderBy("x").queryExecution.executedPlan.toString
    assert(globalSort.findFirstIn(nonKey).isDefined,
      s"ORDER BY non-key must keep its global sort:\n$nonKey")
  }

  test("catalog DESC range ORDER BY reads only the covering files") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-descrange"), spark)
    val rows = (1L to 4000L).map(i => (i, i * 3)).toDF("k", "x")
    val ix = KVIndex.bootstrap(store, "dr", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    spark.conf.set("spark.sql.catalog.drcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.drcat.root", store.root)
    val (a, b) = (1000L, 1600L)
    val covering = ix.manifestFiles.count(f =>
      f.max.head.asInstanceOf[Long] >= a && f.min.head.asInstanceOf[Long] <= b)
    assert(covering < ix.numFiles, "need files outside the range")
    val q = spark.sql(s"SELECT k, x FROM drcat.dr WHERE k BETWEEN $a AND $b ORDER BY k DESC")
    assert(q.as[(Long, Long)].collect().toSeq == (a to b).reverse.map(i => (i, i * 3)))
    assert(q.inputFiles.length == covering,
      s"DESC range read ${q.inputFiles.length} files, $covering cover the range")
  }

  test("catalog plugin: snapshot indexes are SQL tables with VERSION AS OF, INSERT, CREATE, DROP") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-catalog"), spark)
    val rows = (1L to 1000L).map(i => (i, i * 3)).toDF("k", "x")
    val ix = KVIndex.bootstrap(store, "cat1", rows, Seq("k"), maxRowsPerFile = 256)
      .fold(e => sys.error(e.message), identity)
    assert(ix.execute(Seq(Command.Insert(
      Seq((2000L, 6000L)).toDF("k", "x")))).success) // -> v2
    spark.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.root", store.root)
    // reads through the catalog namespace, with pushdown-driven pruning
    assert(spark.sql("SELECT count(*) FROM gcat.cat1").as[Long].head() == 1001L)
    assert(spark.sql("SELECT x FROM gcat.cat1 WHERE k = 123").as[Long].head() == 369L)
    assert(graft.sources.GraftScan.lastPlannedFiles == 1,
      "catalog point query must prune to the covering file")
    // VERSION AS OF = snapshot versions
    assert(spark.sql("SELECT count(*) FROM gcat.cat1 VERSION AS OF 1").as[Long].head() == 1000L)
    assert(spark.sql("SELECT count(*) FROM gcat.cat1 VERSION AS OF 2").as[Long].head() == 1001L)
    // INSERT INTO commits a new COW version through the CAS
    spark.sql("INSERT INTO gcat.cat1 VALUES (3000, 9000, 'sql-tx')")
    assert(spark.sql("SELECT count(*) FROM gcat.cat1").as[Long].head() == 1002L)
    assert(KVIndex.open(store, "cat1").toOption.get.manifest.version == 3L)
    // CREATE TABLE makes a typed empty index; INSERT then populates it
    spark.sql("CREATE TABLE gcat.cat2 (id BIGINT, v STRING, version STRING) " +
      "TBLPROPERTIES('keys'='id')")
    assert(store.exists("cat2"))
    spark.sql("INSERT INTO gcat.cat2 VALUES (1, 'a', 't1'), (2, 'b', 't1')")
    assert(spark.sql("SELECT v FROM gcat.cat2 WHERE id = 2").as[String].head() == "b")
    // DROP TABLE removes the index but spares clone-shared data files
    val clone = KVIndex.open(store, "cat1").toOption.get.copyTo("cat1_clone")
    assert(clone.isRight)
    assert(spark.sql("SHOW TABLES IN gcat").count() >= 3)
    spark.sql("DROP TABLE gcat.cat1")
    assert(!store.exists("cat1"))
    assert(spark.sql("SELECT count(*) FROM gcat.cat1_clone").as[Long].head() == 1002L,
      "zero-copy clone must survive dropping its source")
    spark.sql("DROP TABLE gcat.cat2")
    assert(!store.exists("cat2"))
  }

  test("re-pointing a catalog's root conf takes effect (no frozen store)") {
    import graft.core._
    // Spark caches catalog plugin instances at first use; the graft
    // catalog must re-resolve its root from the LIVE conf or a JVM that
    // re-points one name at a new store (the bench's warmup flow) keeps
    // silently reading the old one — caught in r18 by the MV entry's
    // store-identity check
    val stA = new FsSnapshotStore(tmpDir("graft-repoint-a"), spark)
    val stB = new FsSnapshotStore(tmpDir("graft-repoint-b"), spark)
    KVIndex.bootstrap(stA, "t", (1L to 10L).map(i => (i, "A")).toDF("k", "tag"),
      Seq("k")).toOption.get
    KVIndex.bootstrap(stB, "t", (1L to 20L).map(i => (i, "B")).toDF("k", "tag"),
      Seq("k")).toOption.get
    spark.conf.set("spark.sql.catalog.repoint", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.repoint.root", stA.root)
    assert(spark.sql("SELECT count(*) AS c, max(tag) AS t FROM repoint.t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((10L, "A")))
    spark.conf.set("spark.sql.catalog.repoint.root", stB.root)
    assert(spark.sql("SELECT count(*) AS c, max(tag) AS t FROM repoint.t")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((20L, "B")),
      "a re-pointed catalog root must read the NEW store")
  }

  test("snapshot registered as a view: pure SQL reads it with scan-side pushdown") {
    import graft.core._
    import org.apache.spark.sql.functions._
    val store = new FsSnapshotStore(tmpDir("graft-sqlview"), spark)
    val rows = (1L to 2000L).map(i => (i, s"v$i", i * 3)).toDF("k", "s", "x")
    val ix = KVIndex.bootstrap(store, "sv", rows, Seq("k"))
      .fold(e => sys.error(e.message), identity)
    ix.createOrReplaceView("sv_view")
    val got = spark.sql(
      "SELECT k, x FROM sv_view WHERE k BETWEEN 100 AND 110 ORDER BY k")
      .as[(Long, Long)].collect().toSeq
    assert(got == (100L to 110L).map(i => (i, i * 3)))
    // the SQL predicate reaches the parquet scans (no full-snapshot read)
    val plan = spark.sql("SELECT k FROM sv_view WHERE k > 1990")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(k,1990)"),
      s"expected pushed filter in:\n$plan")
    // aggregation through the view matches the direct frame
    val n = spark.sql("SELECT count(*) AS n FROM sv_view").as[Long].head()
    assert(n == 2000L)
  }

  test("SQL view prunes manifest FILES on key predicates, not just row groups") {
    import graft.core._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val store = new FsSnapshotStore(tmpDir("graft-sqlprune"), spark)
    val rows = (1L to 4000L).map(i => (i, i * 3)).toDF("k", "x")
    val ix = KVIndex.bootstrap(store, "svp", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(ix.numFiles >= 4, "need a multi-file snapshot to observe pruning")
    ix.createOrReplaceView("svp_view")
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    // point: exactly the one covering file (the native tableForRange prune,
    // via the scan's manifest prune on the pushed predicate)
    val point = spark.sql("SELECT x FROM svp_view WHERE k = 1234")
    assert(point.as[Long].collect().toSeq == Seq(3702L))
    assert(scannedFiles(point) == 1,
      s"point query must open 1 covering file of ${ix.numFiles}")
    // range: only the covering suffix of files
    val range = spark.sql("SELECT k FROM svp_view WHERE k > 3900")
    assert(range.as[Long].collect().length == 100)
    assert(scannedFiles(range) < ix.numFiles,
      "range query must not enumerate the whole snapshot")
  }

  test("SQL DELETE at file grain; TRUNCATE + agg/limit pushdown answer from the manifest") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-del"), spark)
    val rows = (1L to 4000L).map(i => (i, i * 3)).toDF("k", "x")
    val ix = KVIndex.bootstrap(store, "del1", rows, Seq("k"), maxRowsPerFile = 512)
      .fold(e => sys.error(e.message), identity)
    assert(ix.numFiles >= 4, "need a multi-file snapshot to observe file-grain deletes")
    spark.conf.set("spark.sql.catalog.gdel", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdel.root", store.root)

    // aggregate pushdown: count/min/max collapse to ONE manifest-stat row
    graft.sources.GraftScan.lastPlannedFiles = -1
    val agg = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM gdel.del1")
      .as[(Long, Long, Long)].head()
    assert(agg == ((4000L, 1L, 4000L)))
    assert(graft.sources.GraftScan.lastPlannedFiles == 0,
      s"aggregate must plan ZERO files, planned ${graft.sources.GraftScan.lastPlannedFiles}")
    // group-by declines the pushdown and still answers correctly
    assert(spark.sql("SELECT k % 2 AS g, count(*) AS n FROM gdel.del1 GROUP BY 1")
      .as[(Long, Long)].collect().toMap == Map(0L -> 2000L, 1L -> 2000L))

    // LIMIT pushdown: a file PREFIX is planned, not the whole snapshot
    assert(spark.sql("SELECT k FROM gdel.del1 LIMIT 10").collect().length == 10)
    assert(graft.sources.GraftScan.lastPlannedFiles == 1,
      s"LIMIT 10 must plan 1 file of ${ix.numFiles}, " +
        s"planned ${graft.sources.GraftScan.lastPlannedFiles}")

    // DELETE of an interior range: fully-covered files DROP from the
    // manifest, only the two boundary files rewrite
    spark.sql("DELETE FROM gdel.del1 WHERE k >= 1000 AND k <= 2000")
    def loaded() = spark.read.format("graft").option("root", store.root).load("del1")
    assert(loaded().count() == 2999L) // 4000 - 1001
    assert(loaded().filter($"k" >= 1000L && $"k" <= 2000L).count() == 0L)
    assert(loaded().filter($"k" === 999L).count() == 1L)
    assert(loaded().filter($"k" === 2001L).count() == 1L)
    // file-grain accounting from the v1 layout: fully-covered files DROP,
    // each boundary file rewrites to one survivor file
    def lead(t: Seq[Any]): Long = t.head.asInstanceOf[Number].longValue
    val fs1 = ix.manifest.files
    val droppedWhole = fs1.count(f => lead(f.min) >= 1000L && lead(f.max) <= 2000L)
    assert(droppedWhole >= 1, "range must fully cover at least one interior file")
    val v2 = KVIndex.open(store, "del1").fold(e => sys.error(e.message), identity)
    assert(v2.numFiles == fs1.size - droppedWhole,
      s"file-grain delete: expected ${fs1.size - droppedWhole}, got ${v2.numFiles}")
    // time travel still sees the pre-delete version (COW)
    assert(spark.sql("SELECT count(*) FROM gdel.del1 VERSION AS OF 1")
      .as[Long].head() == 4000L)

    // equality and strict-bound shapes delete EXACTLY their range
    spark.sql("DELETE FROM gdel.del1 WHERE k = 2500")
    spark.sql("DELETE FROM gdel.del1 WHERE k > 3996")
    val agg2 = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM gdel.del1")
      .as[(Long, Long, Long)].head()
    assert(agg2 == ((2994L, 1L, 3996L)),
      s"after deletes: $agg2") // 2999 - 1 - 4; max moved to 3996

    // a non-key condition cannot delete at file grain: standard error,
    // content untouched
    intercept[Exception](spark.sql("DELETE FROM gdel.del1 WHERE x = 3"))
    assert(loaded().count() == 2994L)

    // unconditioned DELETE commits an EMPTY file list without reading
    spark.sql("DELETE FROM gdel.del1")
    assert(spark.sql("SELECT count(*) FROM gdel.del1").as[Long].head() == 0L)
    assert(KVIndex.open(store, "del1").fold(e => sys.error(e.message), identity)
      .numFiles == 0)
    // empty snapshot still reads TYPED
    assert(loaded().schema.fieldNames.toSeq.take(2) == Seq("k", "x"))
    spark.sql("DROP TABLE gdel.del1")
  }

  test("SQL DELETE WHERE k IS NOT NULL never deletes a null-keyed row") {
    import graft.core._
    val store = new FsSnapshotStore(tmpDir("graft-delnull"), spark)
    val rows = Seq[(java.lang.Long, Long)]((null, 0L), (1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("k", "x")
    KVIndex.bootstrap(store, "dn", rows, Seq("k")).fold(e => sys.error(e.message), identity)
    spark.conf.set("spark.sql.catalog.gdn", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdn.root", store.root)
    def keys() = spark.read.format("graft").option("root", store.root).load("dn")
      .select("k").as[Option[Long]].collect().toSeq.sorted
    // open below, removeRange cannot leave the null key behind: refused,
    // nothing committed
    intercept[Exception](spark.sql("DELETE FROM gdn.dn WHERE k IS NOT NULL"))
    assert(keys() == Seq(None, Some(1L), Some(2L), Some(3L)))
    // bounded below, the same condition deletes exactly its range
    spark.sql("DELETE FROM gdn.dn WHERE k IS NOT NULL AND k >= 2")
    assert(keys() == Seq(None, Some(1L)))
    spark.sql("DROP TABLE gdn.dn")
  }

  test("approx_count_distinct tracks exact within its error bound") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    import org.apache.spark.sql.functions._
    val r = li.agg(countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .as[(Long, Long)].head()
    val relErr = math.abs(r._2 - r._1).toDouble / r._1
    assert(relErr < 0.05, s"approx ${r._2} vs exact ${r._1} (err $relErr)")
  }

  test("same kernel, SQL vs Column API, identical results") {
    GraftFunctions.register(spark)
    import graft.functions.{functions => gf}
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1f, 2f, 3f), Array(3f, 2f, 1f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaCol = df.select(gf.cosine_sim(col("a"), col("b"))).as[Double].head()
    val viaSql = spark.sql("SELECT cosine_sim(a, b) FROM vecs").as[Double].head()
    assert(viaCol == viaSql)
  }
}
