package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, Filter, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Shim

import graft.core.{Command, KVIndex, SnapshotStore}

/** SQL `UPDATE` and `MERGE INTO` over snapshot-index tables, compiled to
  * the library's atomic command batches — the missing half of the DML
  * surface next to `INSERT INTO` (append write) and `DELETE`/`TRUNCATE`
  * ([[GraftDelete]]).
  *
  * The reference's write model is exactly one all-or-nothing batch of
  * `Insert`/`Update`/`Remove` commands per snapshot (reference
  * `Index.scala:1010-1036`); SQL DML is its declarative spelling:
  *
  *  - `UPDATE t SET c = e WHERE p` → one `Command.Update` whose rows frame
  *    is the snapshot scan filtered by `p` with assignments projected —
  *    fully distributed (the matched set never reaches the driver), and
  *    the write's own manifest prune rewrites only the COVERING files
  *    (copy-on-write at file grain, not a table rewrite).
  *  - `MERGE INTO t USING s ON cond WHEN ...` → ONE full-outer join of
  *    target and source, split by match markers into per-clause frames
  *    (first matching clause wins, decided by a single CASE over the
  *    clause conditions), compiled to `Remove` ++ `Update` ++ `Insert`
  *    commands executed atomically — so a MERGE is exactly one snapshot
  *    version, with the reference's validation taxonomy (a MATCHED update
  *    hitting a vanished key, a NOT-MATCHED insert colliding with an
  *    existing key) intact.
  *
  * Assignments to KEY columns compile to `Remove`(old keys) + `Insert`(new
  * rows) inside the same batch — a key move is transactional. The engine
  * column `version` is writer-maintained (it stamps the transaction id,
  * reference `Leaf.scala:62-72`); explicit assignments to it are rejected.
  * A lost commit CAS re-opens LATEST and re-derives every frame from the
  * fresh snapshot ([[GraftDelete.retrying]]) — DML serializes behind
  * concurrent writers instead of failing.
  *
  * Installed by [[GraftRules.install]] when a [[GraftCatalog]]
  * initializes (analysis resolves the catalog before the planner runs, so
  * installation is always in time) or a graft statement parses. Spark's
  * own row-level plumbing (`SupportsRowLevelOperations`) is deliberately
  * not used: it assumes the connector replaces scanned row groups
  * wholesale, while this engine's native unit of atomicity IS the command
  * batch — compiling to it reuses validation, pruning, COW write and
  * commit CAS unchanged.
  */
object GraftDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      graftRel(u.table).map { case (tbl, out) =>
        GraftDmlExec(s"GraftUpdate ${tbl.name()}",
          () => GraftDml.runUpdate(tbl, out, u.assignments, u.condition)) :: Nil
      }.getOrElse(Nil)
    case m: MergeIntoTable =>
      graftRel(m.targetTable).map { case (tbl, out) =>
        GraftDmlExec(s"GraftMerge ${tbl.name()}",
          () => GraftDml.runMerge(tbl, out, m)) :: Nil
      }.getOrElse(Nil)
    // the MV DDL twins (GraftSqlParser installs this strategy when it
    // parses one, so the commands can never plan without a handler)
    case c: CreateMatViewCommand =>
      GraftDmlExec(s"GraftCreateMatView ${c.cat}.${c.viewId}",
        () => GraftMatView.runCreate(SparkSession.active, c.cat, c.viewId,
          c.select)) :: Nil
    case r: RefreshMatViewCommand =>
      GraftDmlExec(s"GraftRefreshMatView ${r.cat}.${r.viewId}",
        () => GraftMatView.runRefresh(SparkSession.active, r.cat, r.viewId)) :: Nil
    case dr: DropMatViewCommand =>
      GraftDmlExec(s"GraftDropMatView ${dr.cat}.${dr.viewId}",
        () => GraftMatView.runDrop(SparkSession.active, dr.cat, dr.viewId,
          dr.ifExists)) :: Nil
    // the maintenance statement heads (r19) — row-returning like Spark's
    // own utility statements
    case v: VacuumTableCommand =>
      GraftRowsExec(s"GraftVacuum ${v.cat}.${v.id}", v.output,
        () => GraftMaintenance.runVacuum(SparkSession.active, v.cat, v.id,
          v.retain, v.dryRun)) :: Nil
    case c: CompactTableCommand =>
      GraftRowsExec(s"GraftCompact ${c.cat}.${c.id}", c.output,
        () => GraftMaintenance.runCompact(SparkSession.active, c.cat, c.id)) :: Nil
    case h: ShowHistoryCommand =>
      GraftRowsExec(s"GraftShowHistory ${h.cat}.${h.id}", h.output,
        () => GraftMaintenance.runShowHistory(SparkSession.active, h.cat,
          h.id)) :: Nil
    case _ => Nil
  }

  /** The graft target + its bound output attributes. The command reaches
    * the planner OPTIMIZED, so the relation may already be a
    * `DataSourceV2ScanRelation` — both shapes carry the analysis-time
    * attribute ids the statement's expressions are bound to.
    */
  private def graftRel(plan: LogicalPlan): Option[(GraftTable, Seq[Attribute])] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        (r.table.asInstanceOf[GraftTable], r.output)
      case s: DataSourceV2ScanRelation if s.relation.table.isInstanceOf[GraftTable] =>
        (s.relation.table.asInstanceOf[GraftTable], s.output)
    }
}

/** Eagerly-executed DML node (UpdateTable/MergeIntoTable are `Command`s,
  * so `spark.sql("UPDATE ...")` runs this via `executeCollect` exactly
  * once). No result rows — like Spark's own v2 DML execs.
  */
final case class GraftDmlExec(label: String, run: () => Unit)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Array[InternalRow] = { run(); Array.empty }
  override def executeCollect(): Array[InternalRow] = done
  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.parallelize(Seq.empty[InternalRow], 1)
  }
  override def simpleString(maxFields: Int): String = label
}

/** Eagerly-executed ROW-RETURNING maintenance node (the SHOW TABLES
  * pattern): runs once, result rows surface through `executeCollect`.
  */
final case class GraftRowsExec(label: String, output: Seq[Attribute],
                               run: () => Seq[InternalRow])
    extends LeafExecNode {
  private lazy val rows: Array[InternalRow] = run().toArray
  override def executeCollect(): Array[InternalRow] = rows
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows.toSeq, 1)
  override def simpleString(maxFields: Int): String = label
}

private[graft] object GraftDml {

  def runUpdate(tbl: GraftTable, out: Seq[Attribute],
                assignments: Seq[Assignment], condition: Option[Expression]): Unit = {
    val (store, id) = writable(tbl, "UPDATE")
    val spark = SparkSession.active
    GraftDelete.retrying(store, id) { ix =>
      val tgt = targetPlan(spark, ix, out)
      val matched = Shim.ofRows(spark,
        condition.fold(tgt)(c => Filter(c, tgt)))
      if (matched.isEmpty) None
      else Some(ix.execute(updateCommands(ix, out, matched, assignments)))
    }
  }

  def runMerge(tbl: GraftTable, out: Seq[Attribute], m: MergeIntoTable): Unit = {
    val (store, id) = writable(tbl, "MERGE")
    if (m.withSchemaEvolution) throw new UnsupportedOperationException(
      "graft: MERGE WITH SCHEMA EVOLUTION is not supported — snapshot " +
        "schemas are fixed at bootstrap")
    val spark = SparkSession.active
    GraftDelete.retrying(store, id) { ix =>
      // target columns are referenced BY BOUND ATTRIBUTE everywhere below:
      // the joined frame carries both sides' columns under the same names,
      // so name-based resolution would be ambiguous
      val keyAttrs = out.filter(a => ix.manifest.keyCols.contains(a.name))
      // markers survive the full outer join: a side that did not match is
      // all-NULL including its marker. When the SOURCE is itself a plain
      // graft snapshot scan on the same keys, the full outer compiles to
      // the co-range ZIP join — the whole transactional upsert reads both
      // snapshots with zero exchanges; anything else takes the stock join.
      val joined = coRangeMergeJoin(spark, ix, out, m)
        .map { df => lastMergeJoinPath = "corange"; df }
        .orElse(probeMergeJoin(spark, ix, out, m)
          .map { df => lastMergeJoinPath = "probe"; df })
        .getOrElse {
          lastMergeJoinPath = "stock"
          val tdf = Shim.ofRows(spark, targetPlan(spark, ix, out))
            .withColumn("__graft_t", lit(true))
          val sdf = Shim.ofRows(spark, m.sourceTable)
            .withColumn("__graft_s", lit(true))
          tdf.join(sdf, Shim.col(m.mergeCondition), "full_outer")
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val matched = joined.filter(col("__graft_t").isNotNull && col("__graft_s").isNotNull)
        if (m.matchedActions.nonEmpty) {
          // SQL MERGE cardinality rule: a target row may match at most one
          // source row when a MATCHED clause exists
          val dup = matched.groupBy(keyAttrs.map(Shim.col): _*)
            .count().filter(col("count") > 1).limit(1)
          if (!dup.isEmpty) throw new IllegalStateException(
            "graft MERGE: a target row matched more than one source row " +
              "(MERGE_CARDINALITY_VIOLATION) — deduplicate the source on " +
              "the merge condition")
        }
        val sourceOnly = joined.filter(col("__graft_t").isNull && col("__graft_s").isNotNull)
        val targetOnly = joined.filter(col("__graft_s").isNull && col("__graft_t").isNotNull)

        val removes = Seq.newBuilder[DataFrame]
        val updates = Seq.newBuilder[DataFrame]
        val inserts = Seq.newBuilder[DataFrame]

        def compile(base: DataFrame, actions: Seq[MergeAction],
                    insertAllowed: Boolean): Unit = {
          if (actions.isEmpty) return
          // first matching clause wins: ONE CASE expression assigns each
          // row its clause index (0 = no clause applies)
          val act = actions.zipWithIndex.foldRight(lit(0)) { case ((a, i), els) =>
            val cond = actionCondition(a).map(Shim.col).getOrElse(lit(true))
            org.apache.spark.sql.functions.when(cond, lit(i + 1)).otherwise(els)
          }
          val tagged = base.withColumn("__graft_act", act)
          actions.zipWithIndex.foreach {
            case (ua: UpdateAction, i) =>
              val rows = tagged.filter(col("__graft_act") === (i + 1))
              updateCommands(ix, out, rows, ua.assignments).foreach {
                case Command.Update(r) => updates += r
                case Command.Remove(r) => removes += r
                case Command.Insert(r, _) => inserts += r
              }
            case (_: DeleteAction, i) =>
              removes += tagged.filter(col("__graft_act") === (i + 1))
                .select(keyAttrs.map(a => Shim.col(a).as(a.name)): _*)
            case (ia: InsertAction, i) if insertAllowed =>
              val byTarget = assignMap(ia.assignments)
              inserts += tagged.filter(col("__graft_act") === (i + 1))
                .select(outCols(out).map { o =>
                  Shim.col(byTarget.getOrElse(o.exprId,
                    Literal(null, o.dataType))).as(o.name)
                }: _*)
            case (other, _) => throw new UnsupportedOperationException(
              s"graft MERGE: unsupported action $other")
          }
        }

        compile(matched, m.matchedActions, insertAllowed = false)
        compile(sourceOnly, m.notMatchedActions, insertAllowed = true)
        compile(targetOnly, m.notMatchedBySourceActions, insertAllowed = false)

        // removes first (frees keys a later insert may reuse), inserts
        // last; every frame derives from the SAME joined snapshot, and the
        // batch commits as ONE version
        val cmds: Seq[Command] =
          removes.result().filterNot(_.isEmpty).map(Command.Remove(_)) ++
            updates.result().filterNot(_.isEmpty).map(Command.Update(_)) ++
            inserts.result().filterNot(_.isEmpty).map(Command.Insert(_))
        if (cmds.isEmpty) None else Some(ix.execute(cmds))
      } finally joined.unpersist()
    }
  }

  // ---- the exchange-free MERGE join ----

  /** MERGE-source matcher: the source is a plain graft snapshot scan under
    * zero or more deterministic Filters/Projects (and SubqueryAliases —
    * attribute-preserving, so they are simply stripped). Returns (the
    * RELATION's output attributes — the ids the merge condition must bind
    * for the leg keys to be the stored keys —, the snapshot pieces, and a
    * stack rebuild that replays the source's exact operators over the leg
    * plans). Commands reach the planner either scan-converted or not, so
    * both relation shapes are accepted; a scan that absorbed pushdown
    * (non-plain) declines — its filters are no longer in the stack to
    * replay.
    */
  private def graftSide(p: LogicalPlan)
      : Option[(Seq[Attribute], SnapshotStore, graft.core.SnapshotManifest,
                LogicalPlan => LogicalPlan)] = p match {
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      graftSide(s.child)
    case Filter(c, child) if c.deterministic =>
      graftSide(child).map { case (o, st, mf, rb) =>
        (o, st, mf, (nl: LogicalPlan) => Filter(c, rb(nl))) }
    case Project(ps, child) if ps.forall(_.deterministic) =>
      graftSide(child).map { case (o, st, mf, rb) =>
        (o, st, mf, (nl: LogicalPlan) => Project(ps, rb(nl))) }
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
      val t = r.table.asInstanceOf[GraftTable]
      Some((r.output, t.storeRef, t.manifestRef, identity[LogicalPlan] _))
    case s: DataSourceV2ScanRelation => s.scan match {
      case org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper(g: GraftScan, _, _)
          if g.plainScan =>
        Some((s.output, g.storeRef, g.manifestRef, identity[LogicalPlan] _))
      case g: GraftScan if g.plainScan =>
        Some((s.output, g.storeRef, g.manifestRef, identity[LogicalPlan] _))
      case _ => None
    }
    case _ => None
  }

  /** Compiles the MERGE's target×source full outer to the co-range ZIP
    * join + bypass branches (zero exchanges on either side) when the
    * source is a plain graft snapshot scan on positionally matching keys
    * and the merge condition is exactly the full key equality — the
    * transactional-upsert twin of [[GraftCoRangeJoin]]'s SELECT rewrite.
    * Output shape matches the stock path exactly: target columns (bound
    * to `out`'s ids) + `__graft_t`, then source columns (the source
    * plan's own ids) + `__graft_s`; an absent side is all-NULL including
    * its marker. Returns None (→ stock shuffled join) for any other
    * condition shape, a non-graft source, an overlapping layout, or a
    * provably empty pairing.
    */
  private[graft] def coRangeMergeJoin(spark: SparkSession, ix: KVIndex,
      out: Seq[Attribute],
      m: MergeIntoTable): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.Union
    val (srcRelOut, srcStore, srcManifest, srcRebuild) =
      graftSide(m.sourceTable).getOrElse(return None)
    val srcIx = new KVIndex(srcStore, srcManifest)
    val tKeys = ix.manifest.keyCols
    val sKeys = srcIx.manifest.keyCols
    if (tKeys.size != sKeys.size) return None
    val outIds = out.map(_.exprId).toSet
    val srcIds = srcRelOut.map(_.exprId).toSet
    val pairs: Seq[(AttributeReference, AttributeReference)] =
      GraftCoRangeJoin.conjuncts(m.mergeCondition).map {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference)
            if outIds.contains(a.exprId) && srcIds.contains(b.exprId) => (a, b)
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            b: AttributeReference, a: AttributeReference)
            if outIds.contains(a.exprId) && srcIds.contains(b.exprId) => (a, b)
        case _ => return None
      }
    val names = pairs.map(p => (p._1.name, p._2.name)).distinct
    // full positional key equality only: MERGE semantics pair one target
    // row per source key (the cardinality rule), which is the full key
    if (names.size != tKeys.size || names.toSet != tKeys.zip(sKeys).toSet)
      return None
    val byLName = pairs.map(p => p._1.name -> p).toMap

    ix.coRangeLegPlans(srcIx, joinType = FullOuter).flatMap {
      case (zipOpt, leftOnlyOpt, rightOnlyOpt) =>
        import GraftCoRangeJoin.aliasTo
        def mark(p: LogicalPlan, name: String): LogicalPlan =
          Project(p.output :+ Alias(Literal(true), name)(), p)
        val srcOut = m.sourceTable.output
        val nullBool = Literal(null, org.apache.spark.sql.types.BooleanType)
        val zip = zipOpt.map { case (lp, rp, _, _) =>
          val lSide = mark(aliasTo(out, lp), "__graft_t")
          val rSide = mark(srcRebuild(aliasTo(srcRelOut, rp)), "__graft_s")
          graft.plans.ZipPartitionsJoin(lSide, rSide,
            tKeys.map(c => byLName(c)._1), tKeys.map(c => byLName(c)._2),
            FullOuter)
        }
        // target-only key ranges: rows that can only hit NOT MATCHED BY
        // SOURCE clauses — no join work, the source side is null-extended
        val leftOnly = leftOnlyOpt.map { lp =>
          val stack = mark(aliasTo(out, lp), "__graft_t")
          Project(stack.output ++
            (srcOut.map(a => Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)) :+
              Alias(nullBool, "__graft_s")()), stack)
        }
        // source-only key ranges: rows that can only hit NOT MATCHED
        // (insert) clauses
        val rightOnly = rightOnlyOpt.map { rp =>
          val stack = mark(srcRebuild(aliasTo(srcRelOut, rp)), "__graft_s")
          Project((out.map(a => Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId)) :+
            Alias(nullBool, "__graft_t")()) ++ stack.output, stack)
        }
        val branches: Seq[LogicalPlan] = Seq(zip, leftOnly, rightOnly).flatten
        branches match {
          case Seq() => None // provably empty: let the stock path degrade
          case Seq(only) => Some(Shim.ofRows(spark, only))
          case many => Some(Shim.ofRows(spark, Union(many)))
        }
    }
  }

  /** Join path the most recent [[runMerge]] took ("corange" | "probe" |
    * "stock") — plan-shape telemetry, the `lastPlannedFiles` convention
    * (MERGE is imperative, so there is no post-hoc plan to inspect).
    */
  @volatile private[graft] var lastMergeJoinPath: String = ""

  /** Compiles the MERGE's target×source full outer to the PROBE-routed
    * zip join when the source is an ARBITRARY (non-graft) plan and the
    * condition is the full positional key equality — the ingest shape
    * (`MERGE INTO snap USING incoming_batch`), which previously shuffled
    * the whole SNAPSHOT against every batch. The snapshot becomes its
    * exchange-free leg-union plan; the batch is routed onto the leg
    * boundaries by one RDD-level partitioner shuffle (the ONLY data
    * movement — at 100 TB the transactional upsert's read side moves the
    * batch, never the table). Legs cover (-inf, +inf) and every source
    * row routes into exactly one leg, so the FULL OUTER preserves both
    * sides with no extra branches; output shape (markers included)
    * matches the stock path exactly.
    *
    * Declines (None → stock shuffled join) when the snapshot is small
    * enough to broadcast, the condition is not the full key equality,
    * the source is streaming, or the layout cannot guarantee disjoint
    * ranges. `spark.graft.corange.rowsPerLeg` tunes leg width when a
    * huge batch needs more routing parallelism than the snapshot's file
    * count provides.
    */
  private[graft] def probeMergeJoin(spark: SparkSession, ix: KVIndex,
      out: Seq[Attribute], m: MergeIntoTable): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    val src = m.sourceTable
    if (src.isStreaming) return None
    val thr = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val schema = ix.store.emptyTyped(ix.manifest).schema
    val estBytes = math.max(1L, ix.manifest.numElements) *
      math.max(8, schema.defaultSize)
    if (thr >= 0 && estBytes <= thr) return None
    val tKeys = ix.manifest.keyCols
    val outIds = out.map(_.exprId).toSet
    val srcOut = src.outputSet
    val pairs: Seq[(AttributeReference, AttributeReference)] =
      GraftCoRangeJoin.conjuncts(m.mergeCondition).map {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference)
            if outIds.contains(a.exprId) && srcOut.contains(b) => (a, b)
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            b: AttributeReference, a: AttributeReference)
            if outIds.contains(a.exprId) && srcOut.contains(b) => (a, b)
        case _ => return None
      }.distinct
    // full positional key equality only (MERGE's cardinality unit), one
    // source attribute per key column
    val byKey = pairs.groupBy(_._1.name)
    if (byKey.size != tKeys.size || byKey.keySet != tKeys.toSet) return None
    if (byKey.valuesIterator.exists(_.map(_._2.exprId).distinct.size > 1))
      return None
    val tKeyAttrs: Seq[Attribute] = tKeys.map(c => byKey(c).head._1)
    val sKeyAttrs: Seq[Attribute] = tKeys.map(c => byKey(c).head._2)

    ix.probeLegPlans(tKeys.size, GraftCoRangeJoin.rowsPerLegConf()) match {
      case graft.core.ProbeLegs.Legs(bounds, legPlan) =>
        def mark(p: LogicalPlan, name: String): LogicalPlan =
          Project(p.output :+ Alias(Literal(true), name)(), p)
        val tSide = mark(GraftCoRangeJoin.aliasTo(out, legPlan), "__graft_t")
        val routed = ix.routeProbePlan(src, sKeyAttrs, bounds)
        val sAliased = Project(src.output.zip(routed.output).map {
          case (o, n) => Alias(n, o.name)(exprId = o.exprId) }, routed)
        val sSide = mark(sAliased, "__graft_s")
        Some(Shim.ofRows(spark, graft.plans.ZipPartitionsJoin(
          tSide, sSide, tKeyAttrs, sKeyAttrs, FullOuter)))
      case _ => None
    }
  }

  // ---- shared compilation helpers ----

  private def writable(tbl: GraftTable, what: String): (SnapshotStore, String) = {
    if (tbl.isPinned) throw new UnsupportedOperationException(
      s"graft: cannot $what a VERSION AS OF table — write to LATEST")
    (tbl.storeRef, tbl.manifestRef.id)
  }

  /** The current snapshot read, re-aliased to the ANALYZED relation's
    * attribute ids — so the statement's expressions (bound at analysis
    * time) evaluate against the freshly re-opened manifest on every retry
    * attempt.
    */
  private def targetPlan(spark: SparkSession, ix: KVIndex,
                         out: Seq[Attribute]): LogicalPlan = {
    val child = ix.df.queryExecution.analyzed
    val byName = child.output.map(a => a.name -> a).toMap
    Project(out.map { o =>
      Alias(byName.getOrElse(o.name, throw new IllegalStateException(
        s"graft DML: snapshot lost column ${o.name}")), o.name)(exprId = o.exprId)
    }, child)
  }

  /** matched rows + assignments → commands: a plain `Update`, or
    * `Remove`(old keys) + `Insert`(new rows) when a KEY column moves.
    */
  private def updateCommands(ix: KVIndex, out: Seq[Attribute],
                             matched: DataFrame,
                             assignments: Seq[Assignment]): Seq[Command] = {
    val keyCols = ix.manifest.keyCols
    val keyAttrs = out.filter(a => keyCols.contains(a.name))
    val byTarget = assignMap(assignments)
    val written = outCols(out)
    val updated = matched.select(written.map { o =>
      Shim.col(byTarget.getOrElse(o.exprId, o)).as(o.name)
    }: _*)
    val keyMoves = written.exists(o =>
      keyCols.contains(o.name) && byTarget.get(o.exprId).exists(v =>
        !v.semanticEquals(o)))
    if (keyMoves)
      Seq(Command.Remove(matched.select(keyAttrs.map(a => Shim.col(a).as(a.name)): _*)),
        Command.Insert(updated))
    else Seq(Command.Update(updated))
  }

  /** target attribute exprId → assigned expression; identity assignments
    * (analyzer-aligned `c = c`) drop out, writes to `version` are rejected
    * (engine-stamped per transaction), and non-column assignment keys
    * (nested fields) are unsupported.
    */
  private def assignMap(assignments: Seq[Assignment]): Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
    assignments.flatMap { a =>
      a.key match {
        case attr: AttributeReference =>
          if (a.value.semanticEquals(attr)) None
          else if (attr.name == "version") throw new UnsupportedOperationException(
            "graft: the `version` column is engine-maintained (it records " +
              "the writing transaction) and cannot be assigned")
          else Some(attr.exprId -> a.value)
        case other => throw new UnsupportedOperationException(
          s"graft: unsupported assignment target $other — only top-level " +
            "columns can be assigned")
      }
    }.toMap

  /** Engine-written columns: keys + values; `version` is stamped by the
    * write path itself.
    */
  private def outCols(out: Seq[Attribute]): Seq[Attribute] =
    out.filterNot(_.name == "version")

  private def actionCondition(a: MergeAction): Option[Expression] = a match {
    case ua: UpdateAction => ua.condition
    case da: DeleteAction => da.condition
    case ia: InsertAction => ia.condition
    case _ => None
  }
}
