package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.core._

/** Column pruning through a snapshot view: the view is the catalog table
  * pinned at its snapshot, whose scan splices into the outer plan as its
  * covering files' parquet read (`SpliceGraftScan`), so the stock
  * `ColumnPruning` narrows that read. An ordered stitch adds marker nodes
  * (`DeclareOrdered`, `UnfuseUnion`) that are custom, so the stock
  * `ColumnPruning` stops at each — without the Project
  * commutes in `PushThroughDeclareOrdered` (+ re-instantiated stock
  * rules in the same batch), a two-column SELECT over a wide snapshot
  * view would read EVERY column of every leg's parquet scan. At 100 TB
  * the difference is the whole point of a columnar layout.
  */
class ViewColumnPruningSpec extends SparkSuite {
  import spark.implicits._

  test("SELECT of two columns over a wide snapshot view narrows every leg scan's ReadSchema") {
    val store = new FsSnapshotStore(tmpDir("graft-vprune"), spark)
    val df = (1 to 2000).map(i => (i.toLong, s"a$i", s"b$i", s"c$i", i * 2L))
      .toDF("k", "v1", "v2", "v3", "v4")
    val ix = KVIndex.bootstrap(store, "vp", df, Seq("k"),
      maxRowsPerFile = 256).fold(e => fail(e.message), identity)
    ix.createOrReplaceView("vp_view")

    val q = spark.sql("SELECT k, v4 FROM vp_view WHERE k >= 100 AND k <= 200")
    val got = q.as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == (100L to 200L).map(k => (k, k * 2)))
    // the Spark plan's scans (this small view answers on the driver)
    val scans = sparkPlanned(q).queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.size < ix.numFiles,
      s"file prune must hold too: ${scans.size} of ${ix.numFiles}")
    scans.foreach { s =>
      assert(s.requiredSchema.fieldNames.toSeq == Seq("k", "v4"),
        s"leg scan must read only the projected columns, got " +
          s"${s.requiredSchema.fieldNames.mkString(",")}")
      assert(s.dataFilters.nonEmpty, "key predicate must still reach the scan")
    }

    // ordering declaration survives a key-keeping projection: ORDER BY
    // on the key still elides (no SortExec over the stitch)
    val ordered = spark.sql("SELECT k, v4 FROM vp_view ORDER BY k")
    assert(ordered.as[(Long, Long)].collect().map(_._1).toSeq ==
      (1L to 2000L).toSeq)
    val orderedPlan = sparkPlanned(ordered).queryExecution.executedPlan
    val topSorts = orderedPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(topSorts.isEmpty, s"declared ordering must elide the global sort:\n$orderedPlan")

    // a projection DROPPING the key still answers correctly (the
    // ordering declaration is dropped, never dangles)
    val noKey = spark.sql("SELECT v1 FROM vp_view WHERE k = 1500")
    assert(noKey.collect().map(_.getString(0)).toSeq == Seq("a1500"))

    // COMPUTED projections above a key filter: the splice restores the
    // scan relation's exprIds by name over the file read's schema
    // (`OrderedPlans.aliasTo`), so a computed/renamed SELECT must still
    // prune files by the scan's pushed key bounds and answer correctly
    val computed = spark.sql(
      "SELECT concat(v1, '!') AS bang, k + 1 AS k2 FROM vp_view WHERE k >= 100 AND k <= 110")
    assert(computed.as[(String, Long)].collect().sortBy(_._2).toSeq ==
      (100L to 110L).map(k => (s"a$k!", k + 1)))
    val cScans = sparkPlanned(computed).queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(cScans.nonEmpty && cScans.size < ix.numFiles,
      s"file prune must survive a computed projection: ${cScans.size} of ${ix.numFiles}")
  }
}
