package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) materialization of an index's
  * VERSION HISTORY: one row per (key, value incarnation) with the
  * half-open version interval `[valid_from, valid_to)` it was current
  * in (`valid_to` null = still current) — the audit/"as-of any time"
  * table a warehouse keeps next to a mutating dimension, derived here
  * from the store's own snapshots instead of hand-maintained triggers.
  *
  * Reference analogue: the temporal surface (`TemporalIndex` floor
  * lookups) answers "state AT version v"; this answers the transposed
  * question "every state each key has ever had, with validity" in one
  * relational pass.
  *
  * Scale shape: the walk is consecutive [[KVIndex.diff]]s, so each step
  * costs O(data CHANGED in that step) — COW-shared files never read —
  * and the assembled event table is churn-sized, never versions×table.
  * Interval assembly is ONE key-partitioned window (`lead` over the
  * per-key event sequence): an incarnation opened at v closes at the
  * key's next event version, whether that's a re-write (`changed`
  * opens the successor) or a `removed` tombstone. The version stamp
  * column is excluded from change detection (COW file rewrites of
  * payload-identical rows cancel inside diff), so intervals reflect
  * actual value changes only.
  */
object Scd2 {

  private def openIx(store: SnapshotStore, id: String, v: Long): KVIndex =
    try new KVIndex(store, store.loadVersionLazy(id, v))
    catch {
      case e: java.util.NoSuchElementException =>
        // the CDC source's contract, stated the same way: history walks
        // need vacuum retention to cover the span being rebuilt
        throw new IllegalStateException(
          s"scd2 on '$id': version $v is gone (vacuumed?) — keep vacuum " +
            "retainVersions above the history span you rebuild or refresh over", e)
    }

  /** Per-step open/tombstone events from consecutive diffs over
    * PRE-OPENED versions: each version's manifest loads ONCE (a 100-step
    * walk costs 100 store round trips, not 200 — each snapshot is both a
    * step's `b` and the next step's `a`).
    */
  private def stepEvents(opened: Seq[(Long, KVIndex)],
                         kcols: Seq[String], vals: Seq[String]): Seq[DataFrame] =
    opened.sliding(2).collect { case Seq((_, ia), (b, ib)) =>
      val d = ia.diff(ib)
      val opens = d.filter(col("change").isin("added", "changed"))
        .select(kcols.map(col) ++ vals.map(c => col(s"new_$c").as(c)) :+
          lit(b).as("__v") :+ lit("o").as("__t"): _*)
      // tombstones carry the old values (dropped after the window —
      // they only need to SORT into the key's event sequence)
      val closes = d.filter(col("change") === "removed")
        .select(kcols.map(col) ++ vals.map(c => col(s"old_$c").as(c)) :+
          lit(b).as("__v") :+ lit("c").as("__t"): _*)
      opens.union(closes)
    }.toSeq

  /** One key-partitioned `lead` window turns an event stream into
    * `[valid_from, valid_to)` interval rows.
    */
  private def assemble(events: DataFrame, kcols: Seq[String],
                       vals: Seq[String]): DataFrame = {
    val w = Window.partitionBy(kcols.map(col): _*).orderBy(col("__v"))
    events
      .withColumn("valid_to", lead(col("__v"), 1).over(w))
      .filter(col("__t") === "o")
      .select(kcols.map(col) ++ vals.map(col) :+
        col("__v").as("valid_from") :+ col("valid_to"): _*)
  }

  /** @param versions the committed versions to walk, oldest first;
    *                 defaults to the store's recorded history for `id`.
    */
  def scd2(store: SnapshotStore, id: String,
           versions: Seq[Long] = Nil): DataFrame = {
    val vs =
      if (versions.nonEmpty) versions
      else store.historyLog(id).map(_._2).distinct.sorted
    require(vs.nonEmpty, s"scd2: no versions recorded for '$id'")
    require(vs == vs.distinct.sorted, "scd2: versions must be ascending")
    val opened = vs.map(v => v -> openIx(store, id, v))
    val first = opened.head._2
    val kcols = first.manifest.keyCols
    val vals = first.manifest.valueCols.filterNot(_ == "version")
    // the v₀ snapshot opens every key's first incarnation
    val init = first.df.select(
      kcols.map(col) ++ vals.map(col) :+
        lit(vs.head).as("__v") :+ lit("o").as("__t"): _*)
    val events = (init +: stepEvents(opened, kcols, vals)).reduce(_ union _)
    // long histories build a union of many diff-joins — past a few
    // versions CATALYST'S OWN planning of that lineage dominates (each
    // action re-analyzes the whole DAG, measured ~55 s/version at 13
    // versions × 1M rows). A checkpoint barrier executes the event
    // derivation once and hands the window a leaf-sized plan.
    val ev = if (vs.size > 4) events.localCheckpoint() else events
    assemble(ev, kcols, vals)
  }

  private def txOf(srcId: String, srcVersion: Long): String =
    s"scd2:$srcId:v$srcVersion:${java.util.UUID.randomUUID()}"

  /** (srcId, srcVersion watermark) recorded in a materialized-SCD2
    * view's manifest tx string.
    */
  private[graft] def sourceOf(m: SnapshotManifest): (String, Long) =
    m.lastChangeVersion.split(":") match {
      case Array("scd2", id, v, _*) if v.startsWith("v") => (id, v.drop(1).toLong)
      case _ => throw new IllegalStateException(
        s"${m.id} is not a Scd2 view (tx='${m.lastChangeVersion}')")
    }

  /** Materialize the SCD2 table as its OWN index, keyed by
    * `(key…, valid_from)`, with the source watermark riding the view
    * manifest — [[refresh]] then rolls it forward from NEW versions
    * only, the MaterializedAgg economics applied to history tracking.
    */
  /** @param maxRowsPerFile the view's COW rewrite granularity: refresh
    *        rewrites whole files containing churned keys, so size files
    *        for the expected churn locality (smaller files → finer
    *        rewrites, more manifest entries — the usual LSM trade).
    */
  def materialize(store: SnapshotStore, viewId: String, srcId: String,
                  maxRowsPerFile: Long = 1L << 16): Either[GraftError, KVIndex] = {
    val vs = store.historyLog(srcId).map(_._2).distinct.sorted
    require(vs.nonEmpty, s"scd2: no versions recorded for '$srcId'")
    val kcols = openIx(store, srcId, vs.head).manifest.keyCols
    KVIndex.bootstrap(store, viewId, scd2(store, srcId),
      kcols :+ "valid_from", txVersion = txOf(srcId, vs.last),
      maxRowsPerFile = maxRowsPerFile)
  }

  /** Roll a materialized SCD2 view forward over the source versions
    * committed since the recorded watermark. Cost ∝ the CHANGED data in
    * the new span: the new-step diffs are churn-sized, the view read is
    * PRUNED to the files covering the churned keys (their leading-key
    * prefix of the view's own (key…, valid_from) layout — full-scan
    * fallback only past the driver bound, [[LocalScan.collectBelow]]),
    * the interval re-assembly windows only seed+churn events, and the
    * whole replacement commits as ONE Remove+Insert batch — untouched
    * keys' files ride COW unchanged. No-op (same index) when already
    * current.
    */
  def refresh(store: SnapshotStore, viewId: String): Either[GraftError, KVIndex] =
    KVIndex.open(store, viewId).map { view =>
      val (srcId, v0) = sourceOf(view.manifest)
      val newVs = store.historyLog(srcId).map(_._2).distinct.sorted.filter(_ > v0)
      if (newVs.isEmpty) view
      else {
        val span = v0 +: newVs
        val opened = span.map(v => v -> openIx(store, srcId, v))
        val src = opened.head._2
        val kcols = src.manifest.keyCols
        val vals = src.manifest.valueCols.filterNot(_ == "version")
        // events feed BOTH the churn-key derivation and the assembly —
        // persist so the (churn-sized) diffs compute once, not per consumer
        val events = stepEvents(opened, kcols, vals).reduce(_ union _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val churnKeys = events.select(kcols.map(col): _*).distinct()
          // the view's OPEN incarnations of churned keys seed the window —
          // their valid_from anchors closure by the first new event.
          // The view is keyed (key…, valid_from), so the churn keys are a
          // LEADING-KEY PREFIX of its layout: when the churn batch is
          // driver-safe, [[KVIndex.getAllPrefix]] prunes the read to the
          // covering view FILES — a tiny churn against a 100-TB history
          // reads O(churn) files, never the whole view. Churn past the
          // driver bound falls back to the full scan + semi-shaped join,
          // which is amortized precisely when churn is corpus-scale.
          val openRows = LocalScan.collectBelow(churnKeys).fold(
            view.df.join(churnKeys, kcols))(rs => view.getAllPrefix(rs.toSeq.map(_.toSeq)))
          // seed is consumed by the assembly AND the Remove command —
          // persisting it is what makes "the view is read ONCE" true
          val seed = openRows.filter(col("valid_to").isNull)
            .select(kcols.map(col) ++ vals.map(col) :+
              col("valid_from").as("__v") :+ lit("o").as("__t"): _*)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val assembled = assemble(seed.union(events), kcols, vals)
            val removeKeys = seed.select(kcols.map(col) :+ col("__v").as("valid_from"): _*)
            val res = view.execute(
              Seq(Command.Remove(removeKeys), Command.Insert(assembled)),
              txOf(srcId, span.last))
            new KVIndex(store, res.orThrow)
          } finally seed.unpersist()
        } finally events.unpersist()
      }
    }

  /** Point-in-time enrichment against a MATERIALIZED SCD2 view
    * ([[materialize]]'s `(key…, valid_from)`-keyed index): each fact row
    * left-joins the incarnation current at its version. SCD2 intervals
    * are disjoint per key, so "the interval containing v" is exactly the
    * FLOOR incarnation by `valid_from` — an exchange-free probe-routed
    * as-of ([[graft.core.KVIndex.asOfProbe]]: the view never moves, the
    * facts' key bounds prune its files) — unless that incarnation closed
    * at or before v (removal gap / before first existence → nulls, same
    * as [[asOf]]). Output shape matches [[asOf]]: every fact column,
    * then the view's value columns (nulled when no incarnation is
    * current).
    */
  def asOfIndex(view: KVIndex, facts: DataFrame, keyCols: Seq[String],
                versionCol: String): DataFrame = {
    val vs = view.df.schema.fieldNames.toSeq
    require(vs.contains("valid_from") && vs.contains("valid_to"),
      "asOfIndex expects a materialized SCD2 view with [valid_from, valid_to)")
    val dimVals = vs.filterNot(c => keyCols.contains(c) ||
      c == "valid_from" || c == "valid_to" || c == "version")
    val joined = view.asOfProbe(facts, keyCols, versionCol,
      rightTsCol = "valid_from", joinType = "left_outer")
    // the floor incarnation matches only while still OPEN at v: a closed
    // floor (valid_to <= v) means v falls in a removal gap
    val live = col("asof_ts").isNotNull &&
      (col("valid_to").isNull || col(versionCol) < col("valid_to"))
    joined.select(facts.columns.toSeq.map(col) ++
      dimVals.map(c => when(live, col(c)).otherwise(lit(null)).as(c)): _*)
  }

  /** Point-in-time enrichment: each fact row gets the dimension values
    * that were current AT `facts(versionCol)` — a LEFT join on key
    * equality plus interval membership (`valid_from ≤ v < valid_to`,
    * open-ended intervals match everything from `valid_from` on).
    * Facts probing before a key existed, inside a removal gap, or at an
    * unknown key keep null dimension columns.
    *
    * Scale shape: the join key is the EQUALITY key (hash join,
    * broadcastable dimension); the interval predicate rides along as a
    * join residual over the handful of incarnations each key has — no
    * band join, no per-version dimension copies.
    */
  def asOf(dim: DataFrame, facts: DataFrame, keyCols: Seq[String],
           versionCol: String): DataFrame = {
    val f = facts.alias("__f")
    val d = dim.alias("__d")
    val v = col(s"__f.$versionCol")
    val cond = keyCols.map(k => col(s"__f.$k") === col(s"__d.$k"))
      .reduce(_ && _) &&
      col("__d.valid_from") <= v &&
      (col("__d.valid_to").isNull || v < col("__d.valid_to"))
    val dimVals = dim.columns.toSeq
      .filterNot(c => keyCols.contains(c) || c == "valid_from" || c == "valid_to")
    f.join(d, cond, "left")
      .select(facts.columns.toSeq.map(c => col(s"__f.$c")) ++
        dimVals.map(c => col(s"__d.$c")): _*)
  }
}
