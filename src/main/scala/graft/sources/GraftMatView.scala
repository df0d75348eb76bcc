package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, Join, LeafNode, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.types.StructType

import graft.core.{FsSnapshotStore, GraftException, KVIndex, MaterializedAgg, MaterializedJoin, SnapshotManifest, SnapshotStore}

/** SQL surface for the engine's incremental view maintenance — the
  * refresh-∝-diff economics of [[graft.core.MaterializedAgg]] /
  * [[graft.core.MaterializedJoin]] reachable from SQL text like every
  * other engine capability:
  *
  * {{{
  *   CREATE MATERIALIZED VIEW cat.mv AS
  *     SELECT g, sum(v) AS sum_v, count(*) AS agg_cnt
  *       [, min(m) AS min_m, max(m) AS max_m]
  *     FROM cat.src GROUP BY g            -- the aggregate shape
  *
  *   CREATE MATERIALIZED VIEW cat.mv AS
  *     SELECT * FROM cat.a JOIN cat.b USING (k)   -- the join shape
  *
  *   REFRESH MATERIALIZED VIEW cat.mv
  * }}}
  *
  * Spark's parser has no MATERIALIZED VIEW grammar, so [[GraftSqlParser]]
  * (injected via `spark.sql.extensions=graft.functions.GraftExtensions`)
  * intercepts exactly these two statement heads and hands every other
  * statement to the stock parser verbatim. The commands compile onto the
  * library calls — a create is the one-time full aggregate/zip-join, a
  * refresh reads ONLY the COW diff since the view's recorded source
  * version (plus touched groups for min/max, changed-key envelopes for
  * joins) — so `REFRESH` on a 100 TB source after a 1k-row commit costs
  * O(1k rows), not O(corpus).
  *
  * SPEC-RESTRICTED with typed errors (the engine maintains exactly what
  * [[MaterializedAgg.ViewSpec]] can maintain incrementally):
  *  - aggregate shape: plain-column GROUP BY over ONE graft catalog
  *    table; SELECT list = the group columns plus `sum(c) AS sum_c`
  *    (integral/decimal only — float sums are order-dependent and break
  *    the incremental==recompute contract), `count(*) AS agg_cnt`
  *    (mandatory — the view always carries it), optional `min(m) AS
  *    min_m` + `max(m) AS max_m` PAIRS. Aliases must match the view's
  *    own column names so the SQL text reads back exactly what the view
  *    stores (single-sum no-min/max views keep the legacy `agg_sum`
  *    name — the error message says so).
  *  - join shape: `SELECT * FROM cat.a JOIN cat.b USING (<a's full
  *    key>)` (or the equivalent ON equality chain), both graft tables in
  *    the SAME catalog, inner only — the [[MaterializedJoin]] contract.
  *  - view and source(s) must live in the same catalog (one store owns
  *    the version lineage the refresh walks).
  * Anything else fails loudly; nothing silently falls back to a
  * non-incremental view.
  */
object GraftMatView {

  /** The store behind a graft catalog name — fail loudly when the name
    * is not a configured graft catalog (a stock-catalog MV would
    * silently lose the refresh-∝-diff contract; a stock-catalog VACUUM /
    * COMPACT / SHOW HISTORY has no snapshot store to maintain). Shared
    * with [[GraftMaintenance]]; `what` names the statement in errors.
    */
  private[sources] def storeFor(spark: SparkSession, cat: String,
                                what: String = "MATERIALIZED VIEW"): FsSnapshotStore = {
    val impl = spark.conf.getOption(s"spark.sql.catalog.$cat").getOrElse(
      throw new IllegalArgumentException(
        s"graft $what: '$cat' is not a configured catalog " +
          s"(set spark.sql.catalog.$cat=${classOf[GraftCatalog].getName})"))
    require(impl == classOf[GraftCatalog].getName,
      s"graft $what: catalog '$cat' is $impl, not a graft catalog")
    val root = spark.conf.getOption(s"spark.sql.catalog.$cat.root").getOrElse(
      throw new IllegalArgumentException(
        s"graft $what: set spark.sql.catalog.$cat.root"))
    new FsSnapshotStore(root, spark)
  }

  /** A graft scan leaf of an ANALYZED plan (SubqueryAlias-wrapped
    * DataSourceV2Relation), with its catalog name when resolved through
    * a catalog identifier.
    */
  private def graftLeaf(p: LogicalPlan): Option[(SnapshotStore, SnapshotManifest)] =
    p match {
      case SubqueryAlias(_, c) => graftLeaf(c)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        Some((t.storeRef, t.manifestRef))
      case _ => None
    }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft MATERIALIZED VIEW: $msg")

  def runCreate(spark: SparkSession, cat: String, viewId: String,
                select: String): Unit = {
    val store = storeFor(spark, cat)
    if (store.exists(viewId))
      fail(s"$cat.$viewId already exists — DROP TABLE it first " +
        "(a versioned COW store never silently replaces an index)")
    val analyzed = spark.sql(select).queryExecution.analyzed
    analyzed match {
      case agg: Aggregate => createAgg(store, viewId, agg)
      case p @ Project(_, _) => projectedJoin(p) match {
        case Some(j) => createJoin(store, viewId, p, j)
        case None => fail(
          "the SELECT must be a plain-column GROUP BY aggregate over one " +
            "graft table, or SELECT * over an inner USING-join of two " +
            s"graft tables; got:\n$analyzed")
      }
      case other => fail(
        "the SELECT must be a plain-column GROUP BY aggregate over one " +
          "graft table, or SELECT * over an inner USING-join of two graft " +
          s"tables; got:\n$other")
    }
  }

  /** ---- aggregate shape ---- */
  private def createAgg(store: FsSnapshotStore, viewId: String,
                        agg: Aggregate): Unit = {
    def leafOrFail(p: LogicalPlan) = graftLeaf(p).getOrElse(fail(
      "the aggregate's FROM must be a single graft catalog table, " +
        "optionally with ONE deterministic WHERE (no joins or subqueries " +
        "— the view maintains one filtered source)"))
    // a WHERE over the source (r19): recorded in the view spec and
    // applied to create AND to each refresh diff side, preserving the
    // incremental == recompute contract (deltas filter the same way the
    // corpus did). Restricted to predicates that evaluate identically at
    // create and at every future refresh: deterministic, no subqueries,
    // no time-dependent expressions, source columns only.
    val (srcStore, srcManifest, whereSql) = agg.child match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
        val (st, mf) = leafOrFail(child)
        (st, mf, Some(validateWhere(cond, mf)))
      case other =>
        val (st, mf) = leafOrFail(other)
        (st, mf, None)
    }
    require(srcStore.root == store.root,
      s"graft MATERIALIZED VIEW: view and source must share a catalog " +
        s"(view store ${store.root}, source store ${srcStore.root})")
    val groupCols: Seq[String] = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case other => fail(s"GROUP BY must be plain source columns, got '$other'")
    }
    // the SELECT list must START with exactly the grouping columns in
    // GROUP BY order: the view's stored schema is (group cols, then the
    // maintained aggregates), and "the SQL text reads back exactly what
    // the view stores" requires the SELECT to spell that schema — a
    // SELECT that omits or reorders group columns would still validate
    // yet read back a different column order than it declared
    val leading = agg.aggregateExpressions.take(groupCols.size).collect {
      case a: AttributeReference => a.name
    }
    if (leading != groupCols) fail(
      s"the SELECT list must start with exactly the GROUP BY columns in " +
        s"GROUP BY order (${groupCols.mkString(", ")}) — the view stores " +
        "them first and the SQL text must read back exactly what it stores")
    var sums = Vector.empty[(String, String)] // (alias, column)
    var minCols = Vector.empty[String]
    var maxCols = Vector.empty[String]
    var counted = false
    agg.aggregateExpressions.drop(groupCols.size).foreach {
      case a: AttributeReference =>
        fail(s"plain column '${a.name}' after the aggregates — group " +
          "columns appear exactly once, leading the SELECT list")
      case Alias(AggregateExpression(f, Complete, false, None, _), name) =>
        f match {
          case Sum(c: AttributeReference, _) => sums :+= ((name, c.name))
          case Count(Seq(Literal(_, _))) =>
            if (name != "agg_cnt") fail("alias count(*) AS agg_cnt")
            counted = true
          case Min(c: AttributeReference) =>
            if (name != s"min_${c.name}") fail(s"alias min(${c.name}) AS min_${c.name}")
            minCols :+= c.name
          case Max(c: AttributeReference) =>
            if (name != s"max_${c.name}") fail(s"alias max(${c.name}) AS max_${c.name}")
            maxCols :+= c.name
          case other => fail(
            s"unsupported aggregate '$other' — the view maintains sum " +
              "(integral/decimal), count(*), and min/max pairs; avg is " +
              "sum_c / agg_cnt at read time")
        }
      case other => fail(s"unsupported SELECT item '$other' — plain group " +
        "columns and aliased aggregates only")
    }
    if (!counted) fail("the SELECT must include count(*) AS agg_cnt — the " +
      "view always maintains it (it is the removal bookkeeping)")
    if (minCols.sorted != maxCols.sorted) fail(
      "min/max must come in PAIRS per column (refresh recomputes both " +
        s"together): min of ${minCols.mkString(",")} vs max of ${maxCols.mkString(",")}")
    if (sums.isEmpty) fail("at least one sum(c) AS sum_c is required")
    val spec = MaterializedAgg.ViewSpec(sums.map(_._2), minCols, whereSql)
    // aliases must equal the view's OWN column names so the SQL text
    // reads back exactly what the view stores (single-sum no-min/max
    // views keep the legacy agg_sum name — sumName knows)
    sums.foreach { case (alias, c) =>
      if (alias != spec.sumName(c))
        fail(s"alias sum($c) AS ${spec.sumName(c)} (the view's own column name)")
    }
    val src = new KVIndex(srcStore, srcManifest)
    MaterializedAgg.create(store, viewId, src, groupCols, spec)
      .fold(e => throw GraftException(e), _ => ())
  }

  /** A view WHERE must evaluate IDENTICALLY at create and at every future
    * refresh — a predicate whose result can drift between them (random,
    * time-dependent, subquery-dependent) would filter a refresh's diff
    * differently than create filtered the corpus and silently break
    * incremental == recompute. Returns the predicate's SQL text (the SAME
    * spelling both paths re-parse, so their arithmetic agrees verbatim).
    */
  private def validateWhere(cond: Expression, mf: SnapshotManifest): String = {
    if (!cond.deterministic)
      fail(s"nondeterministic WHERE '${cond.sql}' — a refresh would filter " +
        "its diff differently than create filtered the corpus")
    if (cond.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      fail(s"WHERE with a subquery — its result can change between create " +
        "and refresh; materialize it into the predicate instead")
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestamp, CurrentTimeZone, Now}
    if (cond.exists {
      case _: CurrentDate | _: CurrentTimestamp | _: CurrentTimeZone | _: Now => true
      case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
      case _ => false
    }) fail(s"time-dependent WHERE '${cond.sql}' — it would filter each " +
      "refresh at a different instant than create")
    // SESSION-CONFIG-SENSITIVE constructs (r20): the predicate is persisted
    // as SQL TEXT and re-parsed at every refresh, so anything whose
    // rendering or evaluation depends on the CURRENT session's
    // timeZone/ansi settings could filter a refresh's diff differently
    // than create filtered the corpus. A TimestampType literal renders in
    // the create-time session timezone and re-parses under the
    // refresh-time one; a lossy cast (string→number, narrowing) changes
    // semantics with spark.sql.ansi.enabled; any cast touching
    // TimestampType (date→timestamp, string→timestamp) evaluates in the
    // session timezone. Lossless up-casts (the widenings type coercion
    // inserts for plain `col <op> literal` comparisons) are mode- and
    // zone-independent and stay allowed. DATE and TIMESTAMP_NTZ literals
    // render/re-parse timezone-free and stay allowed.
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.TimestampType
    val sensitive = cond.exists {
      case l: Literal => l.dataType == TimestampType
      case c: Cast =>
        !Cast.canUpCast(c.child.dataType, c.dataType) ||
          c.child.dataType == TimestampType || c.dataType == TimestampType
      case _ => false
    }
    if (sensitive) fail(s"session-config-sensitive WHERE '${cond.sql}' — " +
      "TIMESTAMP literals and lossy or timezone-dependent casts " +
      "render/evaluate under each session's timeZone/ansi settings, so a " +
      "refresh could filter its diff differently than create filtered " +
      "the corpus; compare timezone-free values instead (epoch numbers, " +
      "DATE/TIMESTAMP_NTZ literals, lossless casts)")
    val allowed = (mf.keyCols ++ mf.valueCols).filterNot(_ == "version").toSet
    val bad = cond.references.toSeq.map(_.name).filterNot(allowed.contains)
    if (bad.nonEmpty) fail(s"WHERE references non-source column(s) " +
      s"${bad.mkString(", ")} (the engine-maintained 'version' included) — " +
      "only source data columns are diff-replayable")
    // strip catalog/table qualifiers before rendering: the recorded text
    // re-parses against bare source-shaped frames (src.df, diff sides),
    // where `cat.src.v` would not resolve
    cond.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql
  }

  /** ---- join shape: Project(star) over Join(a, b, Inner, keys) ----
    * The analyzer may stack several attribute-only Projects between the
    * star expansion and the Join (USING output adjustment) — peel them.
    */
  private def projectedJoin(p: Project): Option[Join] = {
    def peel(q: LogicalPlan): Option[Join] = q match {
      case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) => peel(c)
      case j: Join if j.joinType == Inner => Some(j)
      case _ => None
    }
    if (p.projectList.forall(_.isInstanceOf[AttributeReference])) peel(p.child)
    else None
  }

  private def createJoin(store: FsSnapshotStore, viewId: String, proj: Project,
                         j: Join): Unit = {
    val left = j.left; val right = j.right
    val (aStore, aManifest) = graftLeaf(left).getOrElse(fail(
      "join-view sides must be graft catalog tables"))
    val (bStore, bManifest) = graftLeaf(right).getOrElse(fail(
      "join-view sides must be graft catalog tables"))
    require(aStore.root == store.root && bStore.root == store.root,
      "graft MATERIALIZED VIEW: view and both sources must share a catalog")
    val a = new KVIndex(aStore, aManifest)
    val b = new KVIndex(bStore, bManifest)
    // the join must be the USING shape on a's FULL key (the
    // MaterializedJoin contract: key-unique sides, view keyed by a's
    // keys). A USING join's Project emits a's cols then b's non-key
    // cols; Spark lowers USING (k) to ON a.k = b.k, so checking the
    // analyzed condition covers both spellings.
    // orient each equality by SIDE membership (both sides often name the
    // key identically — USING (k) — so names cannot disambiguate)
    val leftIds = left.output.map(_.exprId).toSet
    val rightIds = right.output.map(_.exprId).toSet
    def eqPairs(e: Expression): Seq[(String, String)] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => eqPairs(l) ++ eqPairs(r)
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if leftIds.contains(l.exprId) && rightIds.contains(r.exprId) =>
        Seq((l.name, r.name))
      case EqualTo(l: AttributeReference, r: AttributeReference)
          if rightIds.contains(l.exprId) && leftIds.contains(r.exprId) =>
        Seq((r.name, l.name))
      case other => fail(s"join-view ON must be a pure key-equality chain, got '$other'")
    }
    val pairs = j.condition.map(eqPairs).getOrElse(fail(
      "join-view needs USING (<keys>) or an ON key-equality chain"))
    val aKeys = a.key.cols
    val bKeys = b.key.cols
    require(pairs.map(_._1) == aKeys && pairs.map(_._2) == bKeys,
      s"graft MATERIALIZED VIEW: the join must equate a's FULL key " +
        s"(${aKeys.mkString(",")}) with b's (${bKeys.mkString(",")}) in order; " +
        s"got ${pairs.map(p2 => s"${p2._1}=${p2._2}").mkString(", ")}")
    // SELECT must be the USING output: a's key+values then b's values
    // (no renames — the view's columns are the join's own)
    val bVals = bManifest.valueCols.filterNot(_ == "version")
    val wantNames = (aKeys ++ aManifest.valueCols.filterNot(_ == "version") ++ bVals)
    val gotNames = proj.projectList.map(_.name).filterNot(_ == "version")
    require(gotNames == wantNames,
      s"graft MATERIALIZED VIEW: SELECT * only (the view stores the USING " +
        s"join's own columns ${wantNames.mkString(",")}; got ${gotNames.mkString(",")})")
    MaterializedJoin.create(store, viewId, a, b)
      .fold(e => throw GraftException(e), _ => ())
  }

  /** DROP MATERIALIZED VIEW: refuses a non-view index (DROP TABLE is the
    * honest spelling for those), `IF EXISTS` tolerates absence. The drop
    * itself is the catalog's index drop — views are ordinary indexes.
    */
  def runDrop(spark: SparkSession, cat: String, viewId: String,
              ifExists: Boolean): Unit = {
    val store = storeFor(spark, cat)
    if (!store.exists(viewId)) {
      if (ifExists) return
      fail(s"$cat.$viewId does not exist (DROP MATERIALIZED VIEW IF EXISTS tolerates that)")
    }
    val view = KVIndex.open(store, viewId).fold(e => throw GraftException(e), identity)
    val tx = view.manifest.lastChangeVersion
    if (!tx.startsWith("magg:") && !tx.startsWith("mjoin:"))
      fail(s"$cat.$viewId is not a materialized view — use DROP TABLE")
    store.dropIndex(viewId)
  }

  def runRefresh(spark: SparkSession, cat: String, viewId: String): Unit = {
    val store = storeFor(spark, cat)
    if (!store.exists(viewId))
      fail(s"$cat.$viewId does not exist")
    val view = KVIndex.open(store, viewId).fold(e => throw GraftException(e), identity)
    val tx = view.manifest.lastChangeVersion
    if (tx.startsWith("magg:")) {
      val (srcId, _, _) = MaterializedAgg.sourceOf(view.manifest)
      val src = KVIndex.open(store, srcId).fold(e => throw GraftException(e), identity)
      MaterializedAgg.refresh(store, viewId, src)
        .fold(e => throw GraftException(e), _ => ())
    } else if (tx.startsWith("mjoin:")) {
      val (aId, bId, _, _) = MaterializedJoin.sourceOf(view.manifest)
      val a = KVIndex.open(store, aId).fold(e => throw GraftException(e), identity)
      val b = KVIndex.open(store, bId).fold(e => throw GraftException(e), identity)
      MaterializedJoin.refresh(store, viewId, a, b)
        .fold(e => throw GraftException(e), _ => ())
    } else fail(s"$cat.$viewId is not a materialized view " +
      s"(lastChangeVersion '$tx' records no magg:/mjoin: lineage)")
  }
}

/** Logical MV commands — eagerly executed like Spark's own DDL. */
final case class CreateMatViewCommand(cat: String, viewId: String, select: String)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}
final case class RefreshMatViewCommand(cat: String, viewId: String)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}
final case class DropMatViewCommand(cat: String, viewId: String,
                                    ifExists: Boolean)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** Statement-head interceptor for the two MV statements Spark's grammar
  * lacks; everything else goes to the stock parser verbatim (same
  * delegate-parser pattern as Delta's DeltaSqlParser — public prior art
  * for SQL surfaces Spark does not parse).
  *
  * The MAINTENANCE heads (VACUUM / COMPACT / SHOW HISTORY) only intercept
  * when the named catalog is actually configured as a graft catalog in
  * `session` — another extension may own the same statement head for its
  * own tables (Delta's VACUUM is the precedent), and hijacking its
  * statement with a typed "not a graft catalog" error would break that
  * session. The MV heads stay unconditional: no stock or mainstream
  * extension grammar parses `CREATE/REFRESH/DROP MATERIALIZED VIEW`, and
  * a typed error beats the delegate's generic syntax error there.
  * `session` may be null (non-extension construction in tests): the
  * maintenance heads then intercept unconditionally, as before.
  */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  import GraftSqlParser._

  def this(delegate: ParserInterface) = this(null, delegate)

  private def graftCat(cat: String): Boolean =
    session == null || session.conf.getOption(s"spark.sql.catalog.$cat")
      .contains(classOf[GraftCatalog].getName)

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateRe(cat, id, select) => graftStatement(CreateMatViewCommand(cat, id, select.trim))
    case RefreshRe(cat, id) => graftStatement(RefreshMatViewCommand(cat, id))
    case DropRe(ifex, cat, id) => graftStatement(DropMatViewCommand(cat, id, ifex != null))
    // the maintenance statement heads (r19): VACUUM / COMPACT / SHOW
    // HISTORY over graft catalog tables — Spark's grammar has none of
    // the three (VACUUM is Delta's extension precedent)
    case VacuumRe(cat, id, retain, dry) if graftCat(cat) =>
      graftStatement(VacuumTableCommand(cat, id,
        Option(retain).map(_.trim.toInt).getOrElse(2), dryRun = dry != null))
    case CompactRe(cat, id) if graftCat(cat) => graftStatement(CompactTableCommand(cat, id))
    case HistoryRe(cat, id) if graftCat(cat) => graftStatement(ShowHistoryCommand(cat, id))
    // every other statement parses with the stock grammar; time-travel
    // clauses over graft-REGISTERED VIEWS (Spark's analyzer refuses them
    // on temp views) are then spliced at the parse tree (r20) — identity
    // when the session registered no views
    case _ => graft.plans.ViewTimeTravel.rewrite(session, delegate.parsePlan(sqlText))
  }

  /** A graft statement plans through [[GraftDmlStrategy]]: install it. */
  private def graftStatement(p: LogicalPlan): LogicalPlan = {
    GraftRules.install(if (session != null) session else SparkSession.active)
    p
  }

  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String): LogicalPlan = delegate.parseQuery(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
  override def parseDataType(s: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
}

object GraftSqlParser {
  private val id = "([A-Za-z_][A-Za-z0-9_]*)"
  /** Whole-statement matches (Regex patterns anchor on full input). */
  val CreateRe = ("(?is)\\s*CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
    id + "\\s*\\.\\s*" + id + "\\s+AS\\s+(.+?)\\s*;?\\s*").r
  val RefreshRe = ("(?is)\\s*REFRESH\\s+MATERIALIZED\\s+VIEW\\s+" +
    id + "\\s*\\.\\s*" + id + "\\s*;?\\s*").r
  val DropRe = ("(?is)\\s*DROP\\s+MATERIALIZED\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?" +
    id + "\\s*\\.\\s*" + id + "\\s*;?\\s*").r
  val VacuumRe = ("(?is)\\s*VACUUM\\s+" + id + "\\s*\\.\\s*" + id +
    "(?:\\s+RETAIN\\s+(\\d+)\\s+VERSIONS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*").r
  val CompactRe = ("(?is)\\s*COMPACT\\s+" + id + "\\s*\\.\\s*" + id + "\\s*;?\\s*").r
  val HistoryRe = ("(?is)\\s*SHOW\\s+HISTORY\\s+" + id + "\\s*\\.\\s*" + id +
    "\\s*;?\\s*").r
}
