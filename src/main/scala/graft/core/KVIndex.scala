package graft.core

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-backed ordered KV index — the `QueryableIndex[K, V]` equivalent
  * (reference `QueryableIndex.scala`). Opened from a manifest (the
  * `IndexContext`, reference `index.proto:68-78`); reads see that frozen
  * snapshot; `execute` produces a NEW snapshot via file-granular
  * copy-on-write and never mutates this one (reference `readme.md:3-4`).
  *
  * Scale design: a write batch touches only the data files whose key range
  * contains a batch key — write amplification is proportional to the touched
  * key range, not table size, mirroring the reference's COW path copy
  * (`Index.scala:137-160`) at file rather than block granularity.
  * Validation is one keyed fold of the whole batch against the (pruned)
  * current state ([[BatchFold]]), so a 1000-executor cluster validates a
  * batch of any command count with one scan of the touched files only.
  *
  * Small reads run no Spark job. When the files a read covers hold at most
  * [[LocalScan.BudgetBytes]] (manifest rows × the schema's default row
  * size, 4 MiB), `get`, `getAll`, `getAllPrefix`, `range`, `gt`/`lt`,
  * `prefix`, `nextKey`, `previousKey`, `headOrdered` and `countRange`'s
  * boundary count decode those files on the driver while the call runs
  * (an eager read, not a lazy plan) and return a local relation — the
  * reference's one-leaf read (`Index.scala:813-818`). Ordered reads take
  * this tier only on the disjoint layout, and their answer carries no
  * declared ordering: rows arrive in key order, but a downstream
  * `orderBy` sorts them again. Larger reads, legacy manifests without
  * `colTypes` and the memory store keep the Spark plans below. The same
  * budget bounds the key batch a commit collects for exact file pruning
  * ([[LocalScan.collectBelow]]); a bigger batch prunes by its hull.
  */
final class KVIndex(val store: SnapshotStore, val manifest: SnapshotManifest,
                    private val maxRowsPerFile: Long = 1L << 19) {

  def spark: SparkSession = store.spark
  val key: KeySpec = manifest.keySpec

  // ---- lazy file-list resolution (big-manifest checkpoints) ----
  // A manifest opened with an unresolved checkpoint ref (KVIndex.open of a
  // >inlineFilesMax-file snapshot) is NOT materialized here: point/range
  // reads push their covering-file predicate into the checkpoint scan
  // Spark-side and materialize survivors only; operations that genuinely
  // need the whole list (ordered scans, writes, split/merge/diff) resolve
  // once and cache. Inline manifests behave exactly as before.
  @volatile private[this] var fullFiles: Seq[FileEntry] =
    if (manifest.filesRef.isEmpty) manifest.files else null

  private def resolved: Boolean = fullFiles != null

  private def files: Seq[FileEntry] = {
    var fs = fullFiles
    if (fs == null) { fs = store.resolveAllFiles(manifest); fullFiles = fs }
    fs
  }

  /** Manifest file entries (resolved through the lazy checkpoint) — the
    * SQL count-range rewrite's coverage input
    * ([[graft.sources.GraftCountRange]]).
    */
  private[graft] def manifestFiles: Seq[FileEntry] = files

  private def filesWhere(pred: FileEntry => Boolean): Seq[FileEntry] = {
    val fs = fullFiles
    if (fs != null) fs.filter(pred) else store.resolveFilesWhere(manifest, pred)
  }

  private def firstFile(pred: FileEntry => Boolean, fromEnd: Boolean = false): Option[FileEntry] = {
    val fs = fullFiles
    if (fs != null) (if (fromEnd) fs.reverse else fs).find(pred)
    else store.resolveFirstFile(manifest, pred, fromEnd)
  }

  /** Disjoint-chain layout test — from the commit-time hint when the list
    * is checkpointed, so read routing never forces a full resolve.
    */
  private lazy val filesDisjoint: Boolean =
    manifest.disjointHint.getOrElse {
      if (resolved) SnapshotManifest.disjointOrdered(fullFiles)
      else SnapshotManifest.disjointOrdered(files)
    }

  /** Typed empty result without touching (or resolving) any file list;
    * only a legacy manifest with files takes its types from them.
    */
  private def emptyScan(): DataFrame =
    if (manifest.readSchema.isEmpty && resolved && fullFiles.nonEmpty) df.limit(0)
    else store.emptyTyped(manifest)

  /** reads of this frozen snapshot */
  def df: DataFrame = store.read(manifest)
  def table: OrderedTable = OrderedTable(df, key)

  /** A1 count — O(1) from manifest stats like `ctx.num_elements`
    * (reference `Index.scala:899`); no scan.
    */
  def count: Long = manifest.numElements

  /** A3 "levels" analogue — structural stats from the manifest
    * (reference `Index.scala:900,956-1001`): file count plays the role of
    * leaf count; there is no tree height in a flat file layout.
    */
  def numFiles: Int = files.size

  /** P3 `find` — the "leaf block containing k" analogue
    * (reference `QueryableIndex.scala:20-22`): the data file whose
    * [min,max] range covers k, located by manifest binary search — the
    * whole findPath descent (reference `Index.scala:85-99`) on stats. On a
    * checkpointed disjoint manifest the descent becomes a Spark-side
    * covering filter that materializes at most one entry.
    */
  def findFile(k: Seq[Any]): Option[FileEntry] = {
    if (!resolved && filesDisjoint)
      return firstFile(f =>
        KeyOrd.compare(f.min, k) <= 0 && KeyOrd.compare(k, f.max) <= 0)
    val fs = files // sorted by min
    var lo = 0; var hi = fs.size - 1; var res: Option[FileEntry] = None
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (KeyOrd.compare(fs(mid).min, k) <= 0) { res = Some(fs(mid)); lo = mid + 1 }
      else hi = mid - 1
    }
    res.filter(f => KeyOrd.compare(k, f.max) <= 0)
  }

  /** P6 `nextKeyBlock` / `previousKeyBlock` — the file holding k's
    * successor / predecessor (reference `QueryableIndex.scala:31-69`), the
    * seek primitive scans start from.
    */
  def nextKeyFile(k: Seq[Any]): Option[FileEntry] =
    firstFile(f => KeyOrd.compare(f.max, k) > 0)

  def previousKeyFile(k: Seq[Any]): Option[FileEntry] =
    firstFile(f => KeyOrd.compare(f.min, k) < 0, fromEnd = true)

  /** Manifest-pruned read: an [[OrderedTable]] over ONLY the files whose
    * [min,max] intersects [from,to] — the read-side findPath descent
    * (reference `Index.scala:85-99`). A point get opens O(1) files no
    * matter how large the index; Catalyst/parquet row-group stats take it
    * from there inside each file.
    */
  def tableForRange(from: Seq[Any], to: Seq[Any]): OrderedTable =
    tableOver(coveringRange(from, to))

  private def coveringRange(from: Seq[Any], to: Seq[Any]): Seq[FileEntry] =
    filesWhere(f => KeyOrd.compare(f.min, to) <= 0 && KeyOrd.compare(f.max, from) >= 0)

  private def tableOver(fs: Seq[FileEntry]): OrderedTable =
    OrderedTable(if (fs.isEmpty) emptyScan() else store.readFiles(fs.map(_.path), manifest), key)

  /** The driver-local tier over `fs` (in manifest order), when it serves them. */
  private def local(fs: Seq[FileEntry]): Option[LocalScan] = LocalScan(store, manifest, fs)

  /** Manifest-pruned read bounded on the LEADING key component only —
    * the prefix-safe variant of [[tableForRange]]: file bounds compare by
    * their head, so a composite-keyed file whose range STARTS at `hi`
    * (min = (hi, ...)) stays covered where the full-tuple compare would
    * drop it under the prefix convention (a longer tuple ranks above its
    * prefix). Used by the changed-key-envelope reads of the materialized
    * view refreshes.
    */
  def tableForHeadRange(lo: Any, hi: Any): OrderedTable =
    tableOver(filesWhere(LegPlanner.covering(Some(Seq(lo)), Some(Seq(hi)))))

  /** Point lookup through the pruned read path. */
  def get(k: Seq[Any]): DataFrame = {
    val fs = coveringRange(k, k)
    if (fs.isEmpty) emptyScan()
    else local(fs).fold(tableOver(fs).get(k))(_.where(key.eqKey(k)))
  }

  /** P4/P5 successor/predecessor through the pruned read path: on the
    * disjoint layout the answer lives in exactly the file
    * [[nextKeyFile]]/[[previousKeyFile]] locates (every earlier/later file
    * has max <= k / min >= k), so ONE file is read regardless of index
    * size — the findPath + neighbor-leaf hop of the reference
    * (`QueryableIndex.scala:31-83`) done on manifest stats.
    */
  def nextKey(k: Seq[Any]): DataFrame =
    if (!filesDisjoint) table.nextKey(k)
    else nextKeyFile(k) match {
      case None => emptyScan()
      case Some(f) =>
        local(Seq(f)).fold(tableOver(Seq(f)).nextKey(k))(_.where(key.gtKey(k), limit = 1))
    }

  def previousKey(k: Seq[Any]): DataFrame =
    if (!filesDisjoint) table.previousKey(k)
    else previousKeyFile(k) match {
      case None => emptyScan()
      case Some(f) =>
        local(Seq(f)).fold(tableOver(Seq(f)).previousKey(k))(
          _.where(key.ltKey(k), limit = 1, reverse = true))
    }

  /** Sorted multi-get through the pruned read path — one manifest pass
    * assigns the whole key batch to its covering files (the reference
    * amortizes exactly this way: one descent serves every key landing in
    * the same leaf, `Index.scala:303-306,844-845`), then a single
    * semi-join over just those files.
    */
  def getAll(keys: Seq[Seq[Any]], mustFindAll: Boolean = false): GetResult =
    keyBatch(keys, key.cols.length, mustFindAll)

  /** Sorted multi-PREFIX get: every row whose leading `prefixes.head.length`
    * key columns equal ANY of the probe prefixes — the bucket-probe shape
    * (e.g. LSH band lookups: thousands of (band, bucket) probes against a
    * corpus-sized index keyed (band, bucket, id)). The same read as
    * [[getAll]] over that prefix of the key, so cost is O(touched files +
    * probes), never O(index).
    */
  def getAllPrefix(prefixes: Seq[Seq[Any]]): DataFrame = {
    val plen = prefixes.headOption.fold(key.cols.length)(_.length)
    require(plen > 0 && plen <= key.cols.length, s"prefix length $plen out of range")
    require(prefixes.forall(_.length == plen), "mixed prefix lengths")
    keyBatch(prefixes, plen, mustFindAll = false).found
  }

  /** Rows whose leading `plen` key columns equal one of `keys`: the files
    * no batch tuple can fall in are pruned on manifest stats
    * ([[LegPlanner.anyOf]]), the rest decode on the driver below the
    * budget ([[LocalScan.getAll]]) or meet the batch, a local relation, in
    * one Spark semi-join. Batches of 256 keys and more also bloom-prefilter
    * the scans: a ~10-bits/key sketch of the batch (one tiny job) rides
    * them as a plan literal, so rows that cannot match drop inside the
    * scan's codegen stage before the join. No false negatives, so the
    * answer is the same; small batches skip the extra job.
    */
  private def keyBatch(keys: Seq[Seq[Any]], plen: Int, mustFindAll: Boolean): GetResult = {
    if (keys.isEmpty)
      return GetResult(emptyScan(), 0L, success = true, None)
    val cols = key.cols.take(plen)
    val touched = filesWhere(LegPlanner.anyOf(keys))
    local(touched).fold {
      val base =
        if (touched.isEmpty) emptyScan()
        else store.readFiles(touched.map(_.path), manifest)
      import scala.jdk.CollectionConverters._
      // a local relation: the semi-join broadcasts it without a job
      val keysDf = spark.createDataFrame(keys.map(k => Row(k: _*)).asJava,
        org.apache.spark.sql.types.StructType(cols.map(c => base.schema(c))))
      val kept =
        if (keys.size < 256 || touched.isEmpty) base
        else {
          val keyExpr = if (plen == 1) col(cols.head) else struct(cols.map(col): _*)
          val bf = graft.operators.BloomJoin.keyFilterBytes(keysDf, keyExpr, keys.size.toLong)
          base.filter(graft.operators.BloomJoin.mightContain(bf, keyExpr))
        }
      OrderedTable(kept, KeySpec(cols)).getAll(keysDf, mustFindAll)
    }(_.getAll(cols, keys, mustFindAll))
  }

  /** Range scan through the pruned read path. On the normal disjoint
    * layout this is the manifest-ordered per-file stitch with the range
    * predicate applied INSIDE the stitch (so it still pushes down to the
    * parquet scans) and the result order declared to Catalyst — file
    * pruning + zero sort exchange, like [[inOrdered]]. Overlapping
    * manifests fall back to the sorted scan.
    */
  def range(from: Seq[Any], to: Seq[Any], incFrom: Boolean, incTo: Boolean,
            reverse: Boolean = false): DataFrame = {
    require(KeyOrd.compare(to, from) >= 0, "range: to < from")
    stitchedScan(f =>
        KeyOrd.compare(f.min, to) <= 0 && KeyOrd.compare(f.max, from) >= 0,
      key.gtKey(from, orEq = incFrom) && key.ltKey(to, orEq = incTo), reverse)(
      tableForRange(from, to).range(from, to, incFrom, incTo, reverse))
  }

  /** Generalized stitched scan: files kept by the manifest predicate, rows
    * by a pushdown predicate, order declared — the shared engine under
    * [[range]]/[[gt]]/[[lt]]/[[prefix]]. Falls back to the given sorted
    * scan for overlapping manifests.
    */
  private def stitchedScan(filePred: FileEntry => Boolean, rowPred: Column,
                           reverse: Boolean)(fallback: => DataFrame): DataFrame = {
    if (!filesDisjoint) return fallback
    val kept = filesWhere(filePred)
    if (kept.isEmpty) return emptyScan()
    local(kept).fold(graft.plans.OrderedPlans.declareOrdered(
      orderedUnion(if (reverse) kept.reverse else kept, reverse).filter(rowPred),
      key.cols, reverse))(_.where(rowPred, reverse = reverse))
  }

  /** S5 one-sided ranges over the snapshot: manifest prunes the files on
    * the closed side, the bound predicate pushes into the kept scans, no
    * sort exchange (reference `QueryableIndex.scala:253-271` on the flat
    * layout).
    */
  def gt(term: Seq[Any], inclusive: Boolean, reverse: Boolean = false): DataFrame =
    stitchedScan(f => KeyOrd.compare(f.max, term) >= (if (inclusive) 0 else 1),
      key.gtKey(term, orEq = inclusive), reverse)(
      table.gt(term, inclusive, reverse))

  def lt(term: Seq[Any], inclusive: Boolean, reverse: Boolean = false): DataFrame =
    stitchedScan(f => KeyOrd.compare(f.min, term) <= (if (inclusive) 0 else -1),
      key.ltKey(term, orEq = inclusive), reverse)(
      table.lt(term, inclusive, reverse))

  /** S7 prefix scan over the snapshot: a file may hold prefix-`p` keys iff
    * `p` falls between its min and max truncated to the prefix length
    * (KeyOrd treats the shorter seq as prefix-less, matching the
    * reference's prefix comparator convention, `QueryableIndex.scala:370-430`).
    */
  def prefix(p: Seq[Any], reverse: Boolean = false): DataFrame =
    stitchedScan(LegPlanner.prefix(p), key.prefixEq(p), reverse)(
      table.prefix(p, reverse))

  // ------------------------------------------------------------------
  // Ordered reads WITHOUT a sort exchange. Snapshot files are written
  // range-partitioned and sorted within (SnapshotStore.writeData), and the
  // manifest keeps them sorted by min key — so when the file ranges are
  // pairwise disjoint, concatenating per-file scans in manifest order IS
  // the global key order: the flat-layout equivalent of the reference's
  // free in-order tree walk (reference `Index.scala:583-664`), with no
  // global sort and no Exchange anywhere in the plan.
  // ------------------------------------------------------------------

  /** The ordered stitch of `filesInScanOrder`: legs of ADJACENT files
    * up to ~`maxRowsPerFile` rows each ([[LegPlanner.legTarget]] floors
    * the target so the union stays within `spark.graft.maxPlanLegs`
    * children), so a fragmented manifest of many small files collapses
    * into few legs and a right-sized file stays its own. Leaf count is
    * O(totalRows / maxRowsPerFile), not O(files); a full ordered scan over
    * a million-file snapshot should still prefer [[pullIterator]] (lazy,
    * early-stop) over materializing any whole-snapshot plan.
    */
  private def orderedUnion(filesInScanOrder: Seq[FileEntry],
                           reverse: Boolean): DataFrame = {
    val target = LegPlanner.legTarget(
      filesInScanOrder.iterator.map(_.rows).sum, maxRowsPerFile)
    LegPlanner.stitch(this, LegPlanner.cut(filesInScanOrder, LegPlanner.fixed(target)),
      reverse)
  }

  /** S1 `inOrder` / S2 `reverse` over a snapshot with NO sort exchange
    * when file ranges are disjoint (the normal layout — see
    * [[SnapshotManifest.filesDisjointOrdered]]); falls back to a global
    * sort for the rare overlapping-manifest case.
    *
    * The stitched order is also DECLARED to Catalyst
    * ([[graft.plans.OrderedPlans.declareOrdered]]): a downstream
    * `orderBy` on the key is elided by the stock `RemoveRedundantSorts`
    * rule instead of re-shuffling already-ordered data. SQL gets the same
    * stitch from the catalog table ([[createOrReplaceView]]).
    */
  def inOrdered(reverse: Boolean = false): DataFrame =
    if (manifest.isEmpty || files.isEmpty) df // whole-snapshot scan: full resolve is inherent
    else if (filesDisjoint)
      graft.plans.OrderedPlans.declareOrdered(
        orderedUnion(if (reverse) files.reverse else files, reverse),
        key.cols, reverse)
    else if (reverse) table.reverseScan()
    else table.inOrder()

  /** SQL catalog surface: register this snapshot as a temp view, so pure
    * `spark.sql` text queries the snapshot like any table — the
    * reference's "embed the library" ergonomics get a SQL twin. The view
    * IS the catalog table pinned at this snapshot
    * ([[graft.sources.GraftTable.relation]]): a view and `cat.t` plan
    * identically — key predicates prune manifest files, `ORDER BY` the
    * key runs the exchange-free stitch, and every graft rewrite (top-k,
    * count-range, prefix-cluster, co-range and as-of joins, MERGE
    * sources) applies. The view is read-only; `FOR VERSION/TIMESTAMP AS
    * OF` on its name re-resolves the index ([[graft.plans.ViewTimeTravel]]).
    * Reference analogue: the queryable-index read surface
    * (`QueryableIndex.scala:18-40`) exposed to a query language.
    */
  def createOrReplaceView(name: String): Unit =
    org.apache.spark.sql.graft.Shim.ofRows(spark,
      graft.sources.GraftTable.relation(store, manifest)).createOrReplaceTempView(name)

  /** UN-declared ordered stitch of the files covering the INCLUSIVE
    * leading-key bounds `lo`/`hi`, for the DSV2 ordering rung
    * ([[graft.sources.GraftOrderedScan]]). The caller places the
    * declaration ABOVE its own projection — `ManifestOrderedPartitioning`
    * is not an `Expression`, so Spark's alias-aware projection would pass
    * it through a `ProjectExec` unchanged and strand stale attribute ids
    * inside it, silently un-satisfying the ordered distribution. `None`
    * when the layout cannot stitch (overlapping file ranges, empty
    * snapshot) — callers fall back to the plain scan.
    */
  private[graft] def orderedStitchFrame(reverse: Boolean, lo: Option[Seq[Any]],
                                        hi: Option[Seq[Any]]): Option[DataFrame] =
    if (manifest.isEmpty || files.isEmpty || !filesDisjoint) None
    else {
      val covering = files.filter(LegPlanner.covering(lo, hi))
      if (covering.isEmpty) Some(emptyScan())
      else Some(orderedUnion(if (reverse) covering.reverse else covering, reverse))
    }

  /** File-prefix stitch for SQL top-k (`ORDER BY <key prefix> LIMIT n`,
    * [[graft.sources.GraftOrderedScan]]): the manifest prefix of files
    * covering the first `n` rows in (reverse?) key order. On a disjoint
    * layout every row outside the prefix sorts strictly beyond every row
    * inside it, so the global top-n lives entirely in ⌈n/rowsPerFile⌉
    * files — `LIMIT 10` over a snapshot of any size reads ONE file where
    * the stock plan pays a TakeOrderedAndProject over every covering
    * file. Sound ONLY when no predicate can drop rows between the scan
    * and the limit (the caller enforces: no Filter nodes, no pushed scan
    * bounds) — a filtered prefix might not hold n surviving rows while
    * later files do. Same un-declared contract as [[orderedStitchFrame]]:
    * the caller wraps [[graft.plans.DeclareOrdered]] above its own
    * projection.
    */
  private[graft] def topKStitchFrame(n: Long, reverse: Boolean,
      lo: Option[Any] = None, hi: Option[Any] = None): Option[DataFrame] =
    if (manifest.isEmpty || files.isEmpty || !filesDisjoint || n <= 0) None
    else {
      // keyset pagination (`WHERE k > last ORDER BY k LIMIT page`): the
      // covering set prunes on INCLUSIVE leading bounds (over-approx —
      // the caller replays the exact predicate above), and only files
      // STRICTLY inside the bounds count toward the n-row guarantee
      // (boundary files may lose rows to the predicate, so they are
      // read but never counted; strict-compare is conservative for
      // either inclusivity)
      val (l, h) = (lo.map(Seq(_)), hi.map(Seq(_)))
      val covering = files.filter(LegPlanner.covering(l, h))
      if (covering.isEmpty) return Some(emptyScan())
      val inside = LegPlanner.inside(l, h)
      Some(orderedUnion(LegPlanner.prefix(
        if (reverse) covering.reverse else covering, n,
        f => if (inside(f)) f.rows else 0L), reverse))
    }

  /** FULL covering stitch for grow-the-prefix filtered top-k
    * ([[graft.sources.GraftOrderedScan]] + [[graft.plans.GrowPrefixTopK]]):
    * every file intersecting the (inclusive, over-approximate) bounds,
    * stitched in (reverse?) key order into GEOMETRICALLY growing
    * legs — the first leg is ONE file, and each later leg holds roughly
    * everything before it — so the union has O(log files) children: the
    * exec's early exit stays file-granular where top-k queries actually
    * finish (the front), while the PLAN stays narrow at any covering-set
    * size (a uniform file-grain cut at 100k covering files would wedge
    * the optimizer on plan width alone — measured at sf0.1 as ~3.5 s of
    * pure planning for a 293-leg stitch). Leg size is capped at
    * 32 × maxRowsPerFile rows (a deep-miss tail leg is still one
    * spillable-sort task, never half the snapshot), and floor-bounded by
    * maxPlanLegs like every other stitch. NO n-row guarantee is computed
    * here — a residual predicate's selectivity is unknowable statically;
    * the exec node pulls partitions incrementally until n survivors
    * exist. Same un-declared contract as [[orderedStitchFrame]].
    *
    * `lo`/`hi` are COMPOSITE bound tuples over a key-prefix (r20): a
    * per-column conjunction `k1 ≥ a AND k2 ≥ b` implies the lexicographic
    * bound `(k1,k2) ≥ (a,b)` (if k1 > a the lex bound holds on the first
    * component; if k1 = a then k2 ≥ b decides it — and dually for upper
    * bounds), so boundary files a lead-only prune must keep are dropped
    * by a full-tuple `KeyOrd.compare` against the per-file min/max. The
    * compare is INCLUSIVE (strict per-column bounds over-approximate to
    * inclusive tuples) — the caller always replays the exact predicate.
    */
  private[graft] def growCoveringStitch(reverse: Boolean,
      lo: Option[Seq[Any]] = None, hi: Option[Seq[Any]] = None): Option[DataFrame] =
    if (manifest.isEmpty || files.isEmpty || !filesDisjoint) None
    else {
      val covering = files.filter(LegPlanner.covering(lo, hi))
      if (covering.isEmpty) return Some(emptyScan())
      val totalRows = covering.iterator.map(_.rows).sum
      val capRows = LegPlanner.legTarget(totalRows, 32L * maxRowsPerFile)
      // each leg targets everything before it (geometric), bounded by the
      // plan-leg floor below and capRows above
      Some(LegPlanner.stitch(this, LegPlanner.cut(
        if (reverse) covering.reverse else covering,
        (_, done) => LegPlanner.legTarget(totalRows, math.min(done, capRows))), reverse))
    }

  /** S3 head/tail over a snapshot: only the manifest-prefix of files
    * covering the first `n` rows is read — O(n) input regardless of
    * index size, no sort exchange on the covered files.
    *
    * A non-terminal `limit(n)` routes the n rows through a single-partition
    * exchange whose block-fetch order is not contractually the mapper
    * order, so the WHICH-n (first n in key order — guaranteed by reading
    * only the covering manifest prefix) and the row ORDER are restored by a
    * final single-partition local sort over just the n kept rows — no
    * global sort of the scanned data.
    */
  def headOrdered(n: Int, reverse: Boolean = false): DataFrame = {
    if (!filesDisjoint)
      return if (reverse) table.tail(n) else table.head(n)
    val prefix = LegPlanner.prefix(if (reverse) files.reverse else files, n)
    if (prefix.isEmpty) emptyScan()
    else local(if (reverse) prefix.reverse else prefix).fold(
      orderedUnion(prefix, reverse).limit(n)
        .coalesce(1).sortWithinPartitions(key.sortCols(reverse): _*))(
      _.where(lit(true), limit = n, reverse = reverse))
  }

  /** Iterator pull over the snapshot — the reference's
    * `RichAsyncIndexIterator` surface (`RichAsyncIndexIterator.scala:13-41`)
    * made manifest-aware: ADJACENT files are grouped into ~`batchRows`-row
    * batches (~128 MB at 64-byte rows) visited LAZILY in key order — one
    * small job per BATCH, run only when the consumer reaches it. Early
    * stop never computes batches past the stop point, `seek` skips whole
    * files via manifest stats before any job runs, and the fixed per-job
    * scheduler overhead amortizes across a batch's files (per-file jobs
    * would mean a million jobs on a million-file snapshot consumed to the
    * end).
    */
  def pullIterator(pred: Column = lit(true), seek: Option[Seq[Any]] = None,
                   reverse: Boolean = false,
                   batchRows: Long = 2L << 20): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    if (!filesDisjoint)
      return table.pullIterator(pred, seek, reverse)
    val ordered = if (reverse) files.reverse else files
    val fs = seek match {
      case Some(k) if reverse => ordered.filter(f => KeyOrd.compare(f.min, k) < 0)
      case Some(k) => ordered.filter(f => KeyOrd.compare(f.max, k) > 0)
      case None => ordered
    }
    val seekPred: Column = seek match {
      case Some(k) if reverse => key.ltKey(k)
      case Some(k) => key.gtKey(k)
      case None => lit(true)
    }
    // exponential ramp: the first batch is small (cheap early stop for the
    // common take(n) consumer), each next batch targets 4× more rows up to
    // `batchRows` — a consumer that drains the whole snapshot still runs
    // O(files/batch) jobs, one that stops early computed almost nothing
    val batches = LegPlanner.cut(fs, LegPlanner.ramp(math.max(1L, batchRows >> 6), batchRows))
    batches.iterator.flatMap { batch =>
      store.readFiles(batch.map(_.path), manifest)
        .filter(seekPred && pred)
        .coalesce(1)
        .sortWithinPartitions(key.sortCols(reverse): _*)
        .toLocalIterator().asScala
    }
  }

  // ------------------------------------------------------------------
  // Write path (§2.6) — execute a command batch, all-or-nothing.
  // ------------------------------------------------------------------

  /** W4 `execute` — sequential command batch; stops at the first error and
    * commits nothing in that case (reference `Index.scala:1010-1036`,
    * all-or-nothing discard `QueriesRandomSpec.scala:211-239`).
    *
    * The whole batch costs a fixed number of Spark jobs, whatever its
    * command count: one keyed fold validates every command (and derives
    * the per-command row counts), then one write rewrites the touched
    * range with each key's last writer — see [[executePinned]].
    *
    * One batch per opened snapshot: committing creates manifest version
    * `parent+1` with CREATE_NEW semantics, so a second `execute` from the
    * same manifest (or a concurrent writer) fails — the reference's
    * single-writer `used` flag (`Index.scala:1012,1032-1035`) as a storage
    * CAS instead of an in-memory bit.
    */
  def execute(cmds: Seq[Command], txVersion: String = UUID.randomUUID().toString,
              recordHistory: Boolean = false): BatchResult = {
    if (cmds.isEmpty) return BatchResult(success = true, None, Some(manifest))
    // Batch inputs are read by SEVERAL write-path passes (key pruning, the
    // validation fold, range sampling inside writeData, the write itself)
    // — an uncached compute-heavy input (a dedup pipeline, a join) would
    // re-execute per pass. Persist batch-sized inputs once, spill-safe;
    // leave alone anything the caller already persisted AND anything
    // trivially recomputable (a bare scan / in-memory batch) — pinning
    // those just adds serialization cost to small write batches.
    val pin = cmds.map(_.rows)
      .filter(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      .filterNot(KVIndex.isTrivialPlan)
    pin.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try executePinned(cmds, txVersion, recordHistory)
    finally pin.foreach(_.unpersist())
  }

  /** The batch as one keyed pass (the reference's single `save` of the
    * copy-on-write path, `Context.scala:142-174`):
    *  1. file pruning — one `take` of the batch keys;
    *  2. validation — every command's key and `expectedVersion` columns,
    *     tagged with the command index, meet the touched rows' (key,
    *     version) in ONE keyed aggregate; a per-key fold in command order
    *     yields the reference-ordered error and each command's row-count
    *     delta, and only that bounded summary reaches the driver;
    *  3. the write — touched rows minus batch keys plus, per key, the rows
    *     of the command that writes it last, in one `writeData` call.
    * Nothing here scales with the command count but plan size.
    */
  private def executePinned(cmds: Seq[Command], txVersion: String,
                            recordHistory: Boolean): BatchResult = {
    // ---- file pruning: which files can a batch key live in? ----
    // NO .distinct(): containsAny over a key multiset partitions files
    // exactly like the key set, and the distinct cost an exchange +
    // aggregate job on EVERY commit (streaming micro-batches pay it per
    // batch; a MemoryStream batch is otherwise a local scan whose take
    // launches no shuffle). Duplicate-heavy batches above the driver
    // bound fall to the min/max hull sooner — the hull is the documented
    // conservative path for large batches either way.
    val allBatchKeys = cmds.map(c => c.rows.select(key.cols.map(col): _*))
      .reduce(_ unionByName _)
    val (touched, untouched) = pruneFiles(allBatchKeys)
    val cur: DataFrame =
      if (touched.isEmpty) emptyLike(cmds)
      else store.readFiles(touched.map(_.path), manifest)

    // ---- validation: one keyed fold over the whole batch ----
    // PRECEDENCE CAVEAT: the fold reads only key and `expectedVersion`
    // columns, and value columns are evaluated only by the write, after
    // validation passed — a runtime error in a value expression (cast
    // overflow, malformed input) of a batch that fails validation never
    // surfaces. What still surfaces ahead of the reference-ordered
    // GraftError is a throwing expression in a KEY or `expectedVersion`
    // column: the pruning `take` above evaluates every key column of
    // every command before any validation, as it always has. Inputs that
    // `execute` pins evaluate ALL their columns when that take fills the
    // pin.
    BatchFold.run(cmds, cur, key, txVersion) match {
      case Left(e) => BatchResult(success = false, Some(e), None)
      case Right(deltas) =>
        // ---- COW commit: rewrite touched range only ----
        // row counts from the manifest plus the fold's deltas: no count job
        val counts = deltas.scanLeft(touched.map(_.rows).sum)(_ + _).tail
        val nParts = math.max(1, math.ceil(
          math.max(counts.last, 1L).toDouble / maxRowsPerFile).toInt)
        val next = BatchFold.lastWriters(cmds, cur, key, manifest.valueCols, txVersion,
          manifest.readSchema)
        val (_, newFiles) = store.writeData(manifest.id, next, key, nParts)
        commitNext(untouched ++ newFiles, counts, recordHistory,
          untouched.map(_.rows).sum + newFiles.map(_.rows).sum, txVersion)
    }
  }

  /** Commit `files` as version `parent+1` under the CREATE_NEW
    * single-writer CAS — a lost CAS is CONTEXT_ALREADY_USED — reporting
    * `counts` as the batch's row counts. The element count and change
    * version stay the parent's unless given.
    */
  private def commitNext(files: Seq[FileEntry], counts: Seq[Long], recordHistory: Boolean,
                         numElements: Long = manifest.numElements,
                         txVersion: String = manifest.lastChangeVersion): BatchResult = {
    val m2 = manifest.copy(
      version = manifest.version + 1,
      snapshotId = UUID.randomUUID().toString,
      numElements = numElements,
      lastChangeVersion = txVersion,
      files = files.sortBy(_.min)(KeyOrd),
      filesRef = None, disjointHint = None)
    try BatchResult(success = true, None,
      Some(store.commit(m2, manifest.version, recordHistory)), counts)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      BatchResult(success = false, Some(GraftError.ContextAlreadyUsed(manifest.id)), None)
    }
  }

  /** `fs` split into the files lying wholly inside the range (every row
    * passes it, bound inclusivity honoured) and the boundary files.
    */
  private def insideRange(fs: Seq[FileEntry], from: Seq[Any], to: Seq[Any],
                          incFrom: Boolean, incTo: Boolean): (Seq[FileEntry], Seq[FileEntry]) =
    fs.partition { f =>
      val lo = KeyOrd.compare(from, f.min); val hi = KeyOrd.compare(f.max, to)
      (lo < 0 || (incFrom && lo == 0)) && (hi < 0 || (incTo && hi == 0))
    }

  /** Manifest-pruned file set: a file is touched iff some batch key falls in
    * its [min,max] — the findPath descent (reference `Index.scala:85-99`)
    * done on manifest stats. A batch the driver may hold
    * ([[LocalScan.collectBelow]]: one early-stopping take decides AND
    * fetches the keys) is decided exactly; a bigger one falls back to the
    * batch hull.
    */
  private def pruneFiles(batchKeys: DataFrame): (Seq[FileEntry], Seq[FileEntry]) = {
    if (files.isEmpty) return (Nil, Nil)
    LocalScan.collectBelow(batchKeys) match {
      case Some(taken) => files.partition(LegPlanner.anyOf(taken.map(_.toSeq).toSeq))
      case None =>
        val hull = batchKeys.agg(
          min(struct(key.cols.map(col): _*)), max(struct(key.cols.map(col): _*))).head()
        files.partition(LegPlanner.covering(Some(hull.getStruct(0).toSeq),
          Some(hull.getStruct(1).toSeq)))
    }
  }

  /** Empty state with the index schema — for writes into an empty index or a
    * batch whose keys fall outside every existing file (pure out-of-range
    * insert: zero current files are read, zero rewritten).
    */
  private def emptyLike(cmds: Seq[Command]): DataFrame = {
    if (manifest.readSchema.isDefined) store.emptyTyped(manifest)
    else if (files.nonEmpty) store.read(manifest).limit(0)
    else {
      val c = cmds.collectFirst { case Command.Insert(r, _) => r }
        .getOrElse(cmds.head.rows)
      val have = c.columns.toSet
      c.select((key.cols ++ manifest.valueCols).filter(have.contains).map(col): _*)
        .withColumn("version", lit("")).limit(0)
    }
  }

  // ------------------------------------------------------------------
  // §2.5 whole-index ops
  // ------------------------------------------------------------------

  /** Compaction — the flat-layout replacement for the reference's leaf
    * borrow/merge structural maintenance (`Index.scala:322-444`, SURVEY
    * §2.6 W6): repeated small COW writes leave small files; compaction
    * rewrites only files under half the target size into right-sized
    * range-sorted files and commits a new snapshot. Large files are
    * carried over untouched, so cost is proportional to the small-file
    * volume, not the index size. No-op (returns current manifest) when
    * there is nothing to merge.
    */
  def compact(targetRowsPerFile: Long = maxRowsPerFile,
              recordHistory: Boolean = false): BatchResult = {
    val (small, big) = files.partition(_.rows < targetRowsPerFile / 2)
    if (small.size < 2)
      return BatchResult(success = true, None, Some(manifest))
    val df = store.readFiles(small.map(_.path), manifest)
    val rows = small.map(_.rows).sum
    val nParts = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    val (_, newFiles) = store.writeData(manifest.id, df, key, nParts)
    commitNext(big ++ newFiles, Nil, recordHistory)
  }

  /** Exact range count at manifest cost — the aggregate twin of the A1
    * O(1) count: files fully inside [from,to] contribute their manifest
    * row counts WITHOUT being read; only the boundary files (at most two
    * on the disjoint layout) are scanned, with the range predicate
    * pushed into those scans. Cost is O(boundary files) no matter how
    * many files — or terabytes — the range spans. Reference analogue:
    * subtree counts served from node metadata (`Meta.scala` counters).
    */
  def countRange(from: Seq[Any], to: Seq[Any],
                 incFrom: Boolean = true, incTo: Boolean = true): Long = {
    require(KeyOrd.compare(to, from) >= 0, "countRange: to < from")
    val overlap = filesWhere(f =>
      KeyOrd.compare(f.min, to) <= 0 && KeyOrd.compare(f.max, from) >= 0)
    if (overlap.isEmpty) return 0L
    val (covered, boundary) = insideRange(overlap, from, to, incFrom, incTo)
    val inRange = key.gtKey(from, orEq = incFrom) && key.ltKey(to, orEq = incTo)
    val boundaryN =
      if (boundary.isEmpty) 0L
      else local(boundary).fold(
        store.readFiles(boundary.map(_.path), manifest).filter(inRange).count())(
        _.count(inRange))
    covered.map(_.rows).sum + boundaryN
  }

  /** Range delete at file grain — the `DeleteRange` of LSM/block stores,
    * expressed on the flat COW layout: every file whose [min,max] lies
    * entirely inside the deleted range is DROPPED from the manifest with
    * zero IO (the dominant case when a large contiguous slice of a big
    * index goes — retention expiry, tenant removal), and only the
    * boundary files (at most two on the disjoint layout) are read,
    * filtered and rewritten. The whole operation's IO is O(boundary
    * files), independent of how many files the range covers. Commits a
    * new snapshot version under the same CREATE_NEW single-writer CAS as
    * [[execute]]. Reference analogue: the per-key `remove` loop
    * (`Index.scala:1010-1036`) — the reference has no bulk delete; this
    * is the file-grain form a 100-TB corpus needs.
    */
  def removeRange(from: Seq[Any], to: Seq[Any],
                  incFrom: Boolean = true, incTo: Boolean = true,
                  txVersion: String = UUID.randomUUID().toString): BatchResult = {
    require(KeyOrd.compare(to, from) >= 0, "removeRange: to < from")
    // overlap iff min <= to && max >= from; conservative at open bounds
    // (an edge-touching file is merely rewritten to itself)
    val (overlap, keep) = files.partition(f =>
      KeyOrd.compare(f.min, to) <= 0 && KeyOrd.compare(f.max, from) >= 0)
    if (overlap.isEmpty)
      return BatchResult(success = true, None, Some(manifest))
    // fully-covered files are dropped without being read
    val (dropped, boundary) = insideRange(overlap, from, to, incFrom, incTo)
    val rewritten: Seq[FileEntry] =
      if (boundary.isEmpty) Nil
      else {
        val inRange = key.gtKey(from, orEq = incFrom) &&
          key.ltKey(to, orEq = incTo)
        // survivor = NOT in range, null-SAFE: for a null key component
        // gtKey evaluates to SQL NULL (null sorts below any non-null
        // `from`, so the row is genuinely outside the range), and a bare
        // `!inRange` would evaluate NULL → dropped, silently deleting
        // null-keyed rows. coalesce pins NULL → not-in-range → kept.
        val survivors = store.readFiles(boundary.map(_.path), manifest)
          .filter(not(coalesce(inRange, lit(false))))
        // skip the write when nothing survives (isEmpty is a limit-1 scan
        // over at most two boundary files) — otherwise every boundary-
        // covering delete leaves an empty orphan snapshot dir. Dirs
        // orphaned by a LOST commit CAS are reclaimed by store.vacuum.
        if (survivors.isEmpty) Nil
        else {
          // one output file per boundary file keeps the layout disjoint
          val (_, nf) = store.writeData(manifest.id, survivors, key, boundary.size)
          nf
        }
      }
    val removed = dropped.map(_.rows).sum +
      boundary.map(_.rows).sum - rewritten.map(_.rows).sum
    commitNext(keep ++ rewritten, Seq(removed), recordHistory = false,
      manifest.numElements - removed, txVersion)
  }

  /** Exact [min, max] key-tuple bounds of the snapshot from manifest file
    * stats — an O(files) driver fold over exact per-file key bounds, zero
    * data IO (the A2 analogue at manifest cost). None on an empty
    * snapshot. Works on overlapping layouts too (global fold, not
    * first/last file).
    */
  def keyBounds: Option[(Seq[Any], Seq[Any])] = {
    val fs = files
    if (fs.isEmpty) None
    else Some((fs.iterator.map(_.min).min(KeyOrd), fs.iterator.map(_.max).max(KeyOrd)))
  }

  /** Remove EVERY row in one commit: the next version's file list is
    * simply EMPTY — no data file is read or rewritten (COW at its
    * cheapest; the old version's files stay referenced by history until
    * `vacuum`). SQL `TRUNCATE TABLE` / unconditioned `DELETE FROM` on the
    * catalog surface land here. Same CREATE_NEW single-writer CAS as
    * [[execute]].
    */
  def truncate(txVersion: String = UUID.randomUUID().toString): BatchResult =
    commitNext(Nil, Seq(manifest.numElements), recordHistory = false, 0L, txVersion)

  /** Export this snapshot into a hash-BUCKETED table on the session
    * catalog — the one-time layout conversion that makes every subsequent
    * join on the key exchange-free (Spark reads co-bucketed tables
    * already distributed by the key; a merge join of two such exports
    * plans ZERO shuffles — pinned in BucketedJoinSpec). The snapshot's
    * range layout serves ordered scans and point reads; a join-heavy
    * workload pays this export once instead of re-shuffling the fact
    * data on every join. Buckets hash on the LEADING key column (Spark
    * bucketing is single-expression hash).
    */
  def toBucketedTable(tableName: String, nBuckets: Int, path: String): Unit =
    df.write.mode("overwrite").option("path", path)
      .bucketBy(nBuckets, key.cols.head)
      .sortBy(key.cols.head, key.cols.tail: _*)
      .saveAsTable(tableName)

  /** ZERO-EXCHANGE key-equi-join of two snapshots from their RANGE
    * layouts alone — no bucketed export, no shuffle on either side. The
    * two manifests' file bounds are cut into one shared, totally ordered
    * sequence of leg boundaries (each side batched to ≈`rowsPerLeg` rows
    * per leg — defaulting to the `maxRowsPerFile` batching convention, so
    * per-TASK data stays one manifest batch at ANY snapshot size: a
    * bigger snapshot means MORE legs, never bigger ones); each leg reads
    * each side's covering files as ONE partition with half-open boundary
    * predicates pushed into the scans, and partition i of the left can
    * only ever match partition i of the right —
    * [[graft.plans.ZipPartitionsJoinExec]] zips them with a per-leg
    * STREAMING MERGE join (spillable local sorts, no build side — task
    * heap is O(one duplicate-key group) even on an oversized leg). Legs
    * where either side has no covering files are dropped wholesale
    * (inner join), so a join of a huge snapshot against a narrow one
    * reads only the intersecting key ranges of the big side — manifest
    * pruning applied to a JOIN.
    *
    * Read amplification bound: a file whose key range spans m legs is
    * scanned m times (once per covering leg, with disjoint boundary
    * predicates). Adjacent legs whose covering file sets are identical
    * on BOTH sides are merged away, and with `rowsPerLeg ≥` each side's
    * own file batch size a side's OWN boundaries never split its files —
    * residual re-reads come only from the OTHER side's boundaries
    * landing inside a file's range, ≤ ceil(otherRowsInRange/rowsPerLeg)
    * scans of that file.
    *
    * Design note: Spark's storage-partitioned joins
    * (`SupportsReportPartitioning` + `KeyGroupedPartitioning`) cannot
    * carry this — a key-grouped partition holds ONE key value, while a
    * range leg holds an interval, and a graft scan never plans the
    * `BatchScanExec` that consumes the report (it is spliced into a plain
    * file read, [[graft.sources.SpliceGraftScan]]). The layout invariant is
    * therefore built into the plan directly, the same stance as
    * [[inOrdered]]'s manifest stitch.
    *
    * Join keys are positional: this index's key columns against
    * `other`'s, which must match in arity and type — or pass `equiLen`
    * to join on the leading `equiLen` components of both keys (the
    * key-PREFIX join: legs are cut at prefix-group boundaries, every
    * matching group row is emitted through the spillable merge, and the
    * right side's tail key columns ride the output as match detail;
    * inner/left_outer/left_semi/left_anti only — the coalescing outer
    * types need the full key). Join types: `inner`
    * (default), the LEFT-preserving snapshot-diff family —
    * `left_outer`, `left_semi`, `left_anti` ("which keys are missing /
    * present on the right") — plus `right_outer` and `full_outer` (the
    * two-snapshot diff: added / removed / changed in one pass), all with
    * zero exchanges;
    * ranges only one side covers ride separate union branches. Output
    * for inner/left_outer/full_outer = all left columns, then `other`'s
    * non-key columns (the USING-join shape: full outer COALESCEs the key
    * and version columns so right-only rows keep their key; non-key
    * column names must not collide); semi/anti output = the left columns
    * alone. Falls back to a plain shuffled join when either layout
    * cannot guarantee disjoint ranges.
    *
    * `rowsPerLeg ≤ 0` (the default) means this snapshot's
    * `maxRowsPerFile` batch target.
    */
  def coRangeJoin(other: KVIndex, rowsPerLeg: Long = -1L,
                  joinType: String = "inner", equiLen: Int = -1): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{JoinType, LeftAnti, LeftOuter}
    val jt = JoinType(joinType)
    require(graft.plans.ZipPartitionsJoin.supports(jt),
      s"coRangeJoin: unsupported join type '$joinType' " +
        "(inner, left_outer, left_semi, left_anti, right_outer, full_outer)")
    // `equiLen` joins on the leading equiLen key components of both sides
    // (the API twin of the SQL rewrite's key-PREFIX joins; legs are cut
    // at prefix-group boundaries, each left row emits its whole matching
    // group). Only the types whose output carries each side's own keys
    // support it — full/right outer COALESCE the key columns, which is
    // unsound on a partial key (right-only rows would lose their tail).
    val el = if (equiLen > 0) equiLen else {
      require(key.cols.length == other.key.cols.length,
        s"coRangeJoin: key arity ${key.cols.length} != ${other.key.cols.length}" +
          " (pass equiLen for a leading-prefix join)")
      key.cols.length
    }
    require(el <= key.cols.length && el <= other.key.cols.length,
      s"coRangeJoin: equiLen $el exceeds a side's key arity")
    require(el == key.cols.length && el == other.key.cols.length ||
      jt == org.apache.spark.sql.catalyst.plans.Inner || jt == LeftOuter ||
      jt == org.apache.spark.sql.catalyst.plans.LeftSemi || jt == LeftAnti,
      "coRangeJoin: prefix equiLen supports inner/left_outer/left_semi/left_anti only")
    val ls = store.emptyTyped(manifest).schema
    val rs = other.store.emptyTyped(other.manifest).schema
    require(key.cols.take(el).map(ls(_).dataType) ==
      other.key.cols.take(el).map(rs(_).dataType),
      "coRangeJoin: key column types must match positionally")
    // full and right outer COALESCE the key/version columns: their
    // right-only rows carry no left-side values
    val coalescedKeys = jt == org.apache.spark.sql.catalyst.plans.FullOuter ||
      jt == org.apache.spark.sql.catalyst.plans.RightOuter
    val rightInOutput = jt == org.apache.spark.sql.catalyst.plans.Inner ||
      jt == LeftOuter || coalescedKeys
    // the engine's own `version` stamp rides every snapshot: keep the
    // LEFT side's (COALESCEd with the right's for full outer, like the
    // key columns), drop the right's otherwise
    // prefix joins keep the right side's TAIL key columns (the match
    // detail, like probeJoin); the equi prefix itself is redundant
    val rightVals = rs.fieldNames.toSeq
      .filterNot(c => other.key.cols.take(el).contains(c) || c == "version")
    if (rightInOutput) {
      val clash = rightVals.toSet intersect ls.fieldNames.toSet
      require(clash.isEmpty,
        s"coRangeJoin: right value column(s) ${clash.mkString(",")} collide " +
          "with left columns — rename before joining")
    }
    val rKeyOf = key.cols.zip(other.key.cols).toMap

    // the USING-join output shape: for full/right outer the key (and
    // version) columns COALESCE the two sides, so right-only rows keep
    // their key. `preCoalesced` = the zip exec already folded the
    // coalesce into its output (the layout-claims path): the left slots
    // carry the coalesced values and a plain aliased select keeps the
    // exec's RangePartitioning/ordering alive through Spark's
    // alias-aware propagation — a Project re-computing coalesce(l, r)
    // would orphan the claims (the partitioning expression would no
    // longer appear in the output).
    def shape(lc: String => Column, rc: Option[String => Column],
              preCoalesced: Boolean = false): Seq[Column] =
      ls.fieldNames.toSeq.map { c =>
        if (coalescedKeys && key.cols.contains(c))
          (if (preCoalesced) lc(c)
           else coalesce(lc(c), rc.map(f => f(rKeyOf(c))).getOrElse(lit(null)))).as(c)
        else if (coalescedKeys && c == "version" && rs.fieldNames.contains("version"))
          (if (preCoalesced) lc(c)
           else coalesce(lc(c), rc.map(f => f("version")).getOrElse(lit(null)))).as(c)
        else if (coalescedKeys) lc(c).as(c)
        else lc(c)
      } ++ (if (rightInOutput)
        rightVals.map(c => rc.map(f => f(c)).getOrElse(lit(null).cast(rs(c).dataType)).as(c))
      else Nil)

    def plainJoin(): DataFrame = {
      val l = df.alias("__cl")
      val r = other.df.alias("__cr")
      val cond = key.cols.take(el).zip(other.key.cols.take(el))
        .map { case (a, b) => col(s"__cl.$a") === col(s"__cr.$b") }
        .reduce(_ && _)
      l.join(r, cond, joinType)
        .select(shape(c => col(s"__cl.$c"), Some(c => col(s"__cr.$c"))): _*)
    }

    coRangeLegPlans(other, rowsPerLeg, joinType = jt, keyLen = el) match {
      case None => plainJoin()
      case Some((zipOpt, leftOnlyOpt, rightOnlyOpt)) =>
        val zipDf = zipOpt.map { case (lPlan, rPlan, lKeys, rKeys) =>
          // full/right outer: the key (and version) coalesce folds INTO
          // the exec's output, so the merge's key-ordered emission is a
          // live RangePartitioning/ordering claim — a GROUP BY / ORDER BY
          // on the key above a two-snapshot diff plans no exchange
          val pairs: Seq[(org.apache.spark.sql.catalyst.expressions.Attribute,
                          org.apache.spark.sql.catalyst.expressions.Attribute)] =
            if (!coalescedKeys) Nil
            else lKeys.zip(rKeys) ++ (for {
              lv <- lPlan.output.find(_.name == "version")
              rv <- rPlan.output.find(_.name == "version")
            } yield (lv, rv))
          val zj = graft.plans.ZipPartitionsJoin(lPlan, rPlan, lKeys, rKeys, jt,
            pairs.map(_._1), pairs.map(_._2))
          // resolve by the two sides' own attributes — key NAMES may
          // repeat across sides, so name-based selection would be
          // ambiguous for full outer
          val lByName = zj.output.filter(a =>
            lPlan.output.exists(_.exprId == a.exprId)).map(a => a.name -> a).toMap
          val rByName = zj.output.filter(a =>
            rPlan.output.exists(_.exprId == a.exprId)).map(a => a.name -> a).toMap
          org.apache.spark.sql.graft.Shim.ofRows(spark, zj)
            .select(shape(c => org.apache.spark.sql.graft.Shim.col(lByName(c)),
              if (rightInOutput)
                Some(c => org.apache.spark.sql.graft.Shim.col(rByName(c)))
              else None, preCoalesced = coalescedKeys): _*)
        }
        // legs only ONE side covers: rows pass through (anti), or
        // null-extend the other side (outer types) — no join work at all
        val leftOnlyShaped = leftOnlyOpt.map { lp =>
          val base = org.apache.spark.sql.graft.Shim.ofRows(spark, lp)
          if (jt == LeftOuter || coalescedKeys) base.select(shape(col, None): _*)
          else base.select(ls.fieldNames.toSeq.map(col): _*) // LeftAnti
        }
        val rightOnlyShaped = rightOnlyOpt.map { rp =>
          val base = org.apache.spark.sql.graft.Shim.ofRows(spark, rp)
          // left columns null except the coalesced key/version slots
          base.select(ls.fieldNames.toSeq.map { c =>
            if (key.cols.contains(c)) col(rKeyOf(c)).as(c)
            else if (c == "version" && rs.fieldNames.contains("version"))
              col("version").as(c)
            else lit(null).cast(ls(c).dataType).as(c)
          } ++ rightVals.map(col): _*)
        }
        Seq(zipDf, leftOnlyShaped, rightOnlyShaped).flatten
          .reduceOption(_ union _)
          // nothing intersects and nothing is preserved: typed empty
          .getOrElse(plainJoin().limit(0))
    }
  }

  /** AS-OF join of two range-laid snapshots with ZERO exchanges — for each
    * row of THIS index, attach the single row of `other` with the greatest
    * ts at-or-before (`strict` = strictly-before) the left row's ts within
    * the same equi-key group. The temporal-lookup generalization of
    * [[coRangeJoin]]: prices-at-trade-time, config-active-at-event,
    * latest-reading-before-probe — the query every event pipeline runs,
    * normally as a shuffled join + window ([[graft.operators.AsOfJoin]]).
    * Here both snapshots' manifests cut shared leg boundaries at
    * EQUI-KEY-PREFIX grain (the key-prefix join's leg rule, so an equi
    * group is never split across legs) and each leg runs an ordered merge
    * holding ONE candidate row: no shuffle, no join explosion on
    * many-versions keys, O(1) task heap beyond the local leg sorts.
    *
    * Keys are positional: the leading `equiLen` key columns of both sides
    * are the equi key (types must match; default = all but the last of
    * `other`'s key). The ts column defaults to each side's NEXT key column
    * (`key.cols(equiLen)`); pass `leftTsCol`/`rightTsCol` to use any other
    * column — non-key ts columns are fine, the per-leg local sort orders
    * them (ties on (equi, ts) break by the side's remaining key columns,
    * so the pick is deterministic under the engine's key-unique contract).
    *
    * `tolerance >= 0` additionally requires `leftTs - rightTs <= tolerance`
    * in the ts type's native units (integral value, days for DATE,
    * microseconds for TIMESTAMP). Join types: `inner` (unmatched left rows
    * drop) and `left_outer` (null-extended). Output: every left column,
    * then the matched right ts as `asof_ts`, then `other`'s value columns
    * (non-key, non-version, non-ts; names must not collide). Falls back to
    * the equivalent shuffled join + window pick when either layout cannot
    * guarantee disjoint ranges.
    */
  def asOfJoin(other: KVIndex, equiLen: Int = -1,
               leftTsCol: String = null, rightTsCol: String = null,
               joinType: String = "inner", strict: Boolean = false,
               tolerance: Long = -1L, rowsPerLeg: Long = -1L): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    require(joinType == "inner" || joinType == "left_outer",
      s"asOfJoin: unsupported join type '$joinType' (inner, left_outer)")
    val leftOuter = joinType == "left_outer"
    val el = if (equiLen > 0) equiLen else other.key.cols.length - 1
    require(el >= 1 && el <= key.cols.length && el <= other.key.cols.length,
      s"asOfJoin: equiLen $el out of range for key arities " +
        s"${key.cols.length}/${other.key.cols.length}")
    val lTsName = Option(leftTsCol).getOrElse {
      require(el < key.cols.length,
        "asOfJoin: no left key column beyond the equi prefix — pass leftTsCol")
      key.cols(el)
    }
    val rTsName = Option(rightTsCol).getOrElse {
      require(el < other.key.cols.length,
        "asOfJoin: no right key column beyond the equi prefix — pass rightTsCol")
      other.key.cols(el)
    }
    val ls = store.emptyTyped(manifest).schema
    val rs = other.store.emptyTyped(other.manifest).schema
    require(!key.cols.take(el).contains(lTsName) &&
      !other.key.cols.take(el).contains(rTsName),
      "asOfJoin: the ts column cannot be part of the equi prefix")
    require(key.cols.take(el).map(ls(_).dataType) ==
      other.key.cols.take(el).map(rs(_).dataType),
      "asOfJoin: equi-key column types must match positionally")
    require(ls.fieldNames.contains(lTsName) && rs.fieldNames.contains(rTsName),
      s"asOfJoin: ts column missing ($lTsName / $rTsName)")
    val tsType = ls(lTsName).dataType
    require(tsType == rs(rTsName).dataType,
      s"asOfJoin: ts types must match ($tsType vs ${rs(rTsName).dataType})")
    require(tolerance < 0 || graft.plans.AsOfZipJoin.toleranceSupported(tsType),
      s"asOfJoin: tolerance unsupported for ts type $tsType")
    val rightVals = rs.fieldNames.toSeq.filterNot(c =>
      other.key.cols.take(el).contains(c) || c == "version" || c == rTsName)
    val clash = (rightVals :+ "asof_ts").toSet intersect ls.fieldNames.toSet
    require(clash.isEmpty,
      s"asOfJoin: output column(s) ${clash.mkString(",")} collide " +
        "with left columns — rename before joining")
    val rRestNames = other.key.cols.drop(el).filterNot(_ == rTsName)

    def tsUnits(c: Column): Column = tsUnitsCol(tsType, c)

    /** Stock fallback: shuffled join on the equi prefix + ts bound, then
      * one window picks the latest match per left row (left full key is
      * unique, so the partition is exact).
      */
    def stockAsOf(): DataFrame = {
      val l = df.alias("__al")
      val r = other.df.alias("__ar")
      val equiCond = key.cols.take(el).zip(other.key.cols.take(el))
        .map { case (a, b) => col(s"__al.$a") === col(s"__ar.$b") }
        .reduce(_ && _)
      val lT = col(s"__al.$lTsName"); val rT = col(s"__ar.$rTsName")
      val tsCond0 = if (strict) rT < lT else rT <= lT
      val tsCond = if (tolerance >= 0)
        tsCond0 && (tsUnits(lT) - tsUnits(rT) <= tolerance)
      else tsCond0
      val j = l.join(r, equiCond && tsCond, if (leftOuter) "left" else "inner")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(key.cols.map(c => col(s"__al.$c")): _*)
        .orderBy((rT.desc_nulls_last +:
          rRestNames.map(c => col(s"__ar.$c").desc_nulls_last)): _*)
      j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(ls.fieldNames.toSeq.map(c => col(s"__al.$c")) ++
          (rT.as("asof_ts") +: rightVals.map(c => col(s"__ar.$c").as(c))): _*)
    }

    coRangeLegPlans(other, rowsPerLeg,
        joinType = if (leftOuter) LeftOuter else Inner, keyLen = el) match {
      case None => stockAsOf()
      case Some((zipOpt, leftOnlyOpt, _)) =>
        val zipDf = zipOpt.map { case (lPlan, rPlan, _, _) =>
          def attrOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                     n: String) = planAttr(p, n, "asOfJoin")
          val node = graft.plans.AsOfZipJoin(lPlan, rPlan,
            key.cols.take(el).map(attrOf(lPlan, _)),
            other.key.cols.take(el).map(attrOf(rPlan, _)),
            attrOf(lPlan, lTsName), attrOf(rPlan, rTsName),
            key.cols.drop(el).filterNot(_ == lTsName).map(attrOf(lPlan, _)),
            rRestNames.map(attrOf(rPlan, _)),
            leftOuter, strict, tolerance)
          val lByName = sideByName(node.output, lPlan)
          val rByName = sideByName(node.output, rPlan)
          org.apache.spark.sql.graft.Shim.ofRows(spark, node).select(
            ls.fieldNames.toSeq.map(c =>
              org.apache.spark.sql.graft.Shim.col(lByName(c))) ++
            (org.apache.spark.sql.graft.Shim.col(rByName(rTsName)).as("asof_ts") +:
              rightVals.map(c =>
                org.apache.spark.sql.graft.Shim.col(rByName(c)).as(c))): _*)
        }
        // equi-prefix ranges only the left covers: no match exists — rows
        // null-extend (left_outer reaches here; inner drops these legs in
        // the construction)
        val leftOnlyShaped = leftOnlyOpt.map { lp =>
          org.apache.spark.sql.graft.Shim.ofRows(spark, lp).select(
            ls.fieldNames.toSeq.map(col) ++
            (lit(null).cast(tsType).as("asof_ts") +:
              rightVals.map(c => lit(null).cast(rs(c).dataType).as(c))): _*)
        }
        Seq(zipDf, leftOnlyShaped).flatten.reduceOption(_ union _)
          .getOrElse(stockAsOf().limit(0)) // provably empty, typed
    }
  }

  /** The co-range leg construction under [[coRangeJoin]] and the SQL-join
    * rewrite ([[graft.sources.GraftCoRangeJoin]]): both sides' leg-union
    * plans (one partition per leg, boundary predicates pushed, legs
    * aligned 1:1) plus the key attributes, or None when either layout
    * cannot guarantee disjoint ranges / nothing intersects. Registers the
    * planning strategy for [[graft.plans.ZipPartitionsJoin]] on success.
    *
    * `lPrune`/`rPrune` are INCLUSIVE leading-key bounds from each side's
    * pushed filters (the SQL rewrite's WHERE clause). The RIGHT side is
    * always pruned by the intersection — a right row outside EITHER
    * side's bounds can never be matched, and unmatched right rows are
    * never emitted by any supported type. The LEFT side is pruned by the
    * intersection only for the types that drop unmatched left rows
    * (inner, left_semi); left_outer/left_anti preserve unmatched left
    * rows, so only the LEFT side's own bounds may prune it. Bounds are a
    * conservative over-approximation (exact predicates are re-applied in
    * the side stacks by the caller); legs are cut from the PRUNED lists.
    *
    * FULL OUTER preserves BOTH sides: each side is pruned only by its
    * OWN bounds, and ranges only one side covers ride that side's bypass
    * branch.
    *
    * Returns None when either layout cannot guarantee disjoint ranges
    * (caller falls back to the stock join); otherwise
    * `Some((zipLegs, leftOnly, rightOnly))` where `zipLegs` holds both
    * sides' leg-union plans + key attributes for the ranges BOTH sides
    * cover, `leftOnly` (left_outer/left_anti/full_outer) the left legs
    * whose range the right never intersects, and `rightOnly` (full_outer)
    * the mirror — bypass rows that skip the join entirely. All None =
    * provably empty result (inner/semi with no intersection).
    */
  private[graft] def coRangeLegPlans(other: KVIndex, rowsPerLeg: Long = -1L,
      lPrune: (Option[Seq[Any]], Option[Seq[Any]]) = (None, None),
      rPrune: (Option[Seq[Any]], Option[Seq[Any]]) = (None, None),
      joinType: org.apache.spark.sql.catalyst.plans.JoinType =
        org.apache.spark.sql.catalyst.plans.Inner,
      keyLen: Int = -1,
      lKeep: FileEntry => Boolean = _ => true,
      rKeep: FileEntry => Boolean = _ => true)
      : Option[(Option[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                        Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                        Seq[org.apache.spark.sql.catalyst.expressions.Attribute])],
                Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
                Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan])] = {
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti, LeftOuter, RightOuter}
    // `keyLen` joins on the LEADING keyLen key components of both sides
    // (the SQL rewrite's key-PREFIX joins): every leg boundary is cut as
    // a length-keyLen prefix tuple, so rows sharing the join key can
    // never be split across legs — a file whose range straddles a prefix
    // boundary is simply covered by both legs (the same read-amplification
    // rule as full-key boundaries). -1 = the full key.
    val kl = if (keyLen > 0) keyLen else key.cols.length
    require(kl <= key.cols.length && kl <= other.key.cols.length,
      s"coRangeLegPlans: keyLen $kl exceeds a side's key arity")
    if ((manifest.isEmpty && other.manifest.isEmpty) ||
        !filesDisjoint || !other.filesDisjoint) return None
    val rightPreserving = joinType == FullOuter || joinType == RightOuter
    val leftPreserving = joinType == LeftOuter || joinType == LeftAnti ||
      joinType == FullOuter
    if (manifest.isEmpty && !rightPreserving) return Some((None, None, None))
    if (other.manifest.isEmpty && !leftPreserving) return Some((None, None, None))

    // leading-key file prune (compare LEADING components only — the
    // prefix convention ranks a longer tuple above its prefix, so a
    // full-tuple compare would drop a file whose leading key equals the
    // bound; same stance as GraftScan's covering filter)
    val bothLo = (lPrune._1 ++ rPrune._1).reduceOption(KeyOrd.max(_, _))
    val bothHi = (lPrune._2 ++ rPrune._2).reduceOption(KeyOrd.min(_, _))
    // `lKeep`/`rKeep` restrict each side to a FILE SUBSET before legs are
    // cut (the snapshot diff passes "not shared with the other manifest":
    // COW-shared files are byte-identical and cancel, so legs cover only
    // the CHANGED ranges and the diff's cost stays ∝ the change volume)
    def pruned(ix: KVIndex, keep: FileEntry => Boolean,
               lo: Option[Seq[Any]], hi: Option[Seq[Any]]): Seq[FileEntry] = {
      val cover = LegPlanner.covering(lo, hi)
      ix.filesWhere(f => keep(f) && cover(f))
    }
    val lfs =
      if (leftPreserving) pruned(this, lKeep, lPrune._1, lPrune._2)
      else pruned(this, lKeep, bothLo, bothHi)
    val rfs =
      if (rightPreserving) pruned(other, rKeep, rPrune._1, rPrune._2)
      else pruned(other, rKeep, bothLo, bothHi)
    if (lfs.isEmpty && !rightPreserving) return Some((None, None, None))
    if (rfs.isEmpty && !leftPreserving) return Some((None, None, None))

    // per-task row target: the maxRowsPerFile batching convention — leg
    // count GROWS with snapshot size (more tasks), per-leg data does not —
    // floor-bounded by maxPlanLegs on the bigger side: past the cap, legs
    // grow instead, which the exec's spillable streaming merge absorbs
    // with O(one duplicate-key group) task heap. The default honors the
    // LARGER of the two sides' batching conventions — a right side built
    // with a bigger file target would otherwise have every file split by
    // left-convention boundaries
    val target = LegPlanner.legTarget(
      math.max(lfs.iterator.map(_.rows).sum, rfs.iterator.map(_.rows).sum),
      if (rowsPerLeg > 0) rowsPerLeg
      else math.max(maxRowsPerFile, other.maxRowsPerFile))

    // shared boundaries from BOTH sides' (pruned) file bounds: a leg
    // never exceeds either side's target (+ one file — a single
    // oversized file is the floor, and the exec's spillable merge join
    // absorbs even that); every row of either side lands in exactly one
    // half-open range
    val bounds = LegPlanner.boundaries(lfs, kl, target) ++
      LegPlanner.boundaries(rfs, kl, target)
    // a leg empty on one side is dropped unless that side's opposite is
    // PRESERVED: left-only legs survive for left_outer/left_anti/
    // full_outer, right-only legs for full_outer
    val rawLegs = LegPlanner.ranges(bounds, lfs).zip(LegPlanner.ranges(bounds, rfs)).flatMap {
      case ((lo, hi, afs), (_, _, bfs)) =>
        if (afs.nonEmpty && bfs.nonEmpty) Some((lo, hi, afs, bfs))
        else if (afs.nonEmpty && leftPreserving)
          Some((lo, hi, afs, Seq.empty[FileEntry]))
        else if (bfs.nonEmpty && rightPreserving)
          Some((lo, hi, Seq.empty[FileEntry], bfs))
        else None
    }
    if (rawLegs.isEmpty) return Some((None, None, None)) // nothing contributes

    // merge ADJACENT legs whose covering file sets are identical on both
    // sides: a boundary that splits no file set only re-reads the same
    // files with narrower predicates — collapsing it removes that read
    // amplification without changing any leg's data volume bound (a zip
    // leg never merges with a left-only neighbor: their right sets differ)
    val mergedLegs = rawLegs.foldLeft(
        Vector.empty[(Option[Seq[Any]], Option[Seq[Any]], Seq[FileEntry], Seq[FileEntry])]) {
      case (acc, leg @ (lo, hi, afs, bfs)) =>
        acc.lastOption match {
          case Some((plo, phi, pafs, pbfs))
              if phi.exists(b => lo.exists(KeyOrd.compare(_, b) == 0)) &&
                pafs.map(_.path) == afs.map(_.path) &&
                pbfs.map(_.path) == bfs.map(_.path) =>
            acc.init :+ ((plo, hi, pafs, pbfs))
          case _ => acc :+ leg
        }
    }
    val (zipLegs, loLegs, roLegs) = (
      mergedLegs.filter(l => l._3.nonEmpty && l._4.nonEmpty),
      mergedLegs.filter(l => l._3.nonEmpty && l._4.isEmpty),
      mergedLegs.filter(l => l._3.isEmpty && l._4.nonEmpty))

    val zipPart = if (zipLegs.isEmpty) None else {
      val legs = zipLegs.map { case (lo, hi, afs, bfs) =>
        (legSlice(this, afs, lo, hi), legSlice(other, bfs, lo, hi))
      }
      val lPlan = legs.map(_._1).reduce(_ unionByName _).queryExecution.analyzed
      val rPlan = legs.map(_._2).reduce(_ unionByName _).queryExecution.analyzed
      def attrsOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                  names: Seq[String]) =
        names.map(c => p.output.find(_.name == c).getOrElse(
          sys.error(s"coRangeJoin: missing key column $c")))
      Some((lPlan, rPlan, attrsOf(lPlan, key.cols.take(kl)),
        attrsOf(rPlan, other.key.cols.take(kl))))
    }
    val loPart = if (loLegs.isEmpty) None else Some(
      loLegs.map { case (lo, hi, afs, _) => legSlice(this, afs, lo, hi) }
        .reduce(_ unionByName _).queryExecution.analyzed)
    val roPart = if (roLegs.isEmpty) None else Some(
      roLegs.map { case (lo, hi, _, bfs) => legSlice(other, bfs, lo, hi) }
        .reduce(_ unionByName _).queryExecution.analyzed)
    Some((zipPart, loPart, roPart))
  }

  /** One leg: the covering files' scan, bounded to the half-open
    * [lo, hi) key range, coalesced to a single partition behind the
    * union-fusion breaker (one task per leg under the enclosing union).
    */
  private def legSlice(ix: KVIndex, fs: Seq[FileEntry],
                       lo: Option[Seq[Any]], hi: Option[Seq[Any]]): DataFrame = {
    val base = ix.store.readFiles(fs.map(_.path), ix.manifest)
    val bounded = Seq(
      lo.map(l => ix.key.gtKey(l, orEq = true)),
      hi.map(h => ix.key.ltKey(h))).flatten
      .foldLeft(base)((d, p) => d.filter(p))
    graft.plans.OrderedPlans.unfused(bounded.coalesce(1))
  }

  /** Single-side leg construction for the PROBE joins ([[routeProbeLegs]])
    * and the prefix-cluster rewrite:
    * boundaries cut from THIS manifest alone at `kl`-prefix grain, one
    * plan partition per half-open range. The ranges cover (-inf, +inf),
    * so a caller can route EVERY probe row to exactly one leg index and
    * zip against the returned plan. Returns [[ProbeLegs.Legs]] (boundary
    * list + the leg-union plan, bounds.length + 1 partitions);
    * [[ProbeLegs.Unzippable]] when the layout cannot guarantee disjoint
    * ranges (caller falls back to the stock join); [[ProbeLegs.AllPruned]]
    * when the probe bounds pruned EVERY file — no snapshot row can match
    * any probe, so the caller answers without touching the snapshot at
    * all (empty for inner/semi, null-extended/pass-through for
    * outer/anti) instead of paying a full stock-join scan.
    */
  private[graft] def probeLegPlans(kl: Int, rowsPerLeg: Long = -1L,
      lo: Option[Any] = None, hi: Option[Any] = None): ProbeLegs = {
    if (manifest.isEmpty || !filesDisjoint) return ProbeLegs.Unzippable
    // leading-key prune from the probe set's [min, max] bounds: a file
    // whose leading-key range misses every probe's leading key can never
    // contribute a match for ANY probe-preserving type (matches require
    // exact equality on the equi prefix), so legs are cut from the
    // covering files only — manifest pruning applied to the probe joins.
    // Compared at LEADING-component grain, conservative for longer
    // prefixes; same stance as coRangeLegPlans' pruned().
    val fs = filesWhere(LegPlanner.covering(lo.map(Seq(_)), hi.map(Seq(_))))
    if (fs.isEmpty) return ProbeLegs.AllPruned
    val target = LegPlanner.legTarget(fs.iterator.map(_.rows).sum,
      if (rowsPerLeg > 0) rowsPerLeg else maxRowsPerFile)
    // a PREFIX boundary can legitimately empty leg 0: the boundary is the
    // prefix of the lowest group's straddling file, and every full key of
    // that group sorts ABOVE its own prefix (KeyOrd's convention), so no
    // file starts below it. An empty leg cannot be planned (empty
    // relation -> 0-partition RDD, the r14 outer-join lesson), so empty
    // legs MERGE into a neighbor — the boundary between them is dropped,
    // keeping the returned boundary list and the leg plan aligned 1:1.
    // (Interior/last legs always contain the file whose min cut their
    // lower bound; only leading legs can be empty, but the fold handles
    // any position defensively.)
    val mergedLegs = LegPlanner.ranges(LegPlanner.boundaries(fs, kl, target), fs)
        .foldLeft(Vector.empty[(Option[Seq[Any]], Option[Seq[Any]], Seq[FileEntry])]) {
      case (acc, (lo, hi, afs)) =>
        acc.lastOption match {
          case Some((plo, _, pfs)) if afs.isEmpty =>
            acc.init :+ ((plo, hi, pfs)) // absorb the empty leg rightward
          case Some((plo, _, pfs)) if pfs.isEmpty =>
            acc.init :+ ((plo, hi, afs)) // leading empties absorb into the first covered leg
          case _ => acc :+ ((lo, hi, afs))
        }
    }
    require(mergedLegs.forall(_._3.nonEmpty),
      "probeLegPlans: uncovered leg after merging (cannot happen: fs is non-empty)")
    val legBounds = mergedLegs.tail.map(_._1.get).toVector
    val legs = mergedLegs.map { case (lo, hi, afs) => legSlice(this, afs, lo, hi) }
    val plan = legs.reduce(_ unionByName _).queryExecution.analyzed
    ProbeLegs.Legs(legBounds, plan)
  }

  /** Cheap manifest-only cardinality signal for a leading `m`-prefix
    * grouping over the files a leading-key [lo, hi] prune keeps (the same
    * prune [[probeLegPlans]] applies, so the signal describes exactly the
    * rows the prefix-cluster rewrite would re-plan). Driver-side sweep
    * over file bounds — zero data IO, O(covering files).
    *
    * `groupsLB` counts prefix-group transitions across the sorted file
    * chain: a file whose truncated min == max lies wholly inside one
    * group; adjacent files sharing a bound prefix share that group. Wide
    * files (truncated min != max) contribute both bounds but hide interior
    * groups, so the bound is only trustworthy when `wideFrac` is small —
    * the decision [[graft.sources.GraftPrefixCluster]] makes, not this
    * method. Returns None on an empty/overlapping layout or when the
    * prune keeps no files (the rewrite declines there anyway).
    */
  private[graft] def prefixGroupSignal(m: Int, lo: Option[Any] = None,
      hi: Option[Any] = None): Option[PrefixGroupSignal] = {
    if (manifest.isEmpty || !filesDisjoint) return None
    val fs = filesWhere(LegPlanner.covering(lo.map(Seq(_)), hi.map(Seq(_))))
    if (fs.isEmpty) return None
    var rows = 0L; var wide = 0; var groups = 0L
    var ub = 0L; var ubOk = m == 1
    var last: Seq[Any] = null
    fs.foreach { f =>
      rows += f.rows
      val pMin = f.min.take(m); val pMax = f.max.take(m)
      val w = KeyOrd.compare(pMin, pMax) != 0
      if (w) wide += 1
      if (last == null || KeyOrd.compare(last, pMin) != 0) groups += 1
      if (w) groups += 1
      last = pMax
      if (ubOk) (ordinalOf(f.min.head), ordinalOf(f.max.head)) match {
        case (Some(a), Some(b)) =>
          // span as BigInt: Long bounds can differ by more than Long.Max
          val span = (BigInt(b) - BigInt(a) + 1).min(BigInt(f.rows)).toLong
          ub = math.min(Long.MaxValue - span, ub) + span
        case _ => ubOk = false
      }
    }
    Some(PrefixGroupSignal(groups, rows, fs.size, wide.toDouble / fs.size,
      if (ubOk) Some(ub) else None))
  }

  /** Integer ordinal of a manifest bound value for span arithmetic —
    * integral and date types only (fractional/string/binary spans say
    * nothing about distinct counts). Accepts the widened forms the
    * manifest JSON round-trip produces.
    */
  private def ordinalOf(v: Any): Option[Long] = v match {
    case null => None
    case _: java.lang.Float | _: java.lang.Double => None
    case n: java.lang.Number => Some(n.longValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** ts column in its native integral units — the tolerance contract,
    * which MUST agree with [[graft.plans.AsOfZipJoinExec]]'s raw-value
    * semantics (days for DATE, microseconds for TIMESTAMP, the value
    * itself for integrals). One definition serves both as-of fallbacks.
    */
  private def tsUnitsCol(tsType: org.apache.spark.sql.types.DataType,
                         c: Column): Column = tsType match {
    case org.apache.spark.sql.types.DateType =>
      datediff(c, to_date(lit("1970-01-01")))
    case org.apache.spark.sql.types.TimestampType => unix_micros(c)
    case _ => c.cast("long")
  }

  /** Resolve a named column on a leg plan (fail loudly with context). */
  private def planAttr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                       n: String, ctx: String)
      : org.apache.spark.sql.catalyst.expressions.Attribute =
    p.output.find(_.name == n).getOrElse(sys.error(s"$ctx: missing column $n"))

  /** A join node's output attrs that originate from ONE side, by name —
    * names may repeat across sides, so selection must resolve per side.
    */
  private def sideByName(nodeOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                         side: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Map[String, org.apache.spark.sql.catalyst.expressions.Attribute] =
    nodeOut.filter(a => side.output.exists(_.exprId == a.exprId))
      .map(a => a.name -> a).toMap

  /** The probe set's [min, max] LEADING-key bounds and its row count —
    * one cheap aggregate over the (small) probe side. Null keys are
    * ignored by min/max (they never match anything), so an all-null
    * probe set prunes nothing.
    */
  private def probeBoundsPlan(
      probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      leadingKey: org.apache.spark.sql.catalyst.expressions.Attribute)
      : (Option[Any], Option[Any], Long) = {
    val c = org.apache.spark.sql.graft.Shim.col(leadingKey)
    val r = org.apache.spark.sql.graft.Shim.ofRows(spark, probe)
      .agg(min(c), max(c), org.apache.spark.sql.functions.count(lit(1))).head()
    // collected under datetime.java8API these are Instant/LocalDate;
    // canonicalize to the manifest's literal types before KeyOrd sees
    // them in the file prune (KeyOrd also self-normalizes — belt and
    // braces for a silent-row-drop class of bug)
    if (r.isNullAt(0)) (None, None, r.getLong(2))
    else (Some(KeyOrd.normLiteral(r.get(0))),
          Some(KeyOrd.normLiteral(r.get(1))), r.getLong(2))
  }

  /** Bloom-prefilter the snapshot-side leg plan by the probe set's
    * equi-prefix keys (>= 256 probes, the [[getAll]] threshold): a
    * ~10-bits/key sketch predicate drops snapshot rows that cannot match
    * ANY probe inside the leg scans' codegen stage, BEFORE the per-leg
    * sort — for sparse probe sets the sort input collapses from the
    * covering files' rows to the might-match rows. Sound for every
    * probe-preserving type (a right row whose equi prefix matches no
    * probe is never emitted: inner/semi drop it, outer/anti never emit
    * unmatched right rows) and for the as-of merge (a floor candidate
    * must share the probe's equi prefix). One extra pass over the
    * (small) probe side; skipped below the threshold.
    */
  private def bloomFilteredLegsPlan(
      probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keyAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      nProbes: Long,
      legs: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    if (nProbes < 256) return legs
    def keyOf(cs: Seq[Column]) = if (cs.length == 1) cs.head else struct(cs: _*)
    val bf = graft.operators.BloomJoin.keyFilterBytes(
      org.apache.spark.sql.graft.Shim.ofRows(spark, probe),
      keyOf(keyAttrs.map(org.apache.spark.sql.graft.Shim.col)), nProbes)
    if (bf == null) legs
    else org.apache.spark.sql.graft.Shim.ofRows(spark, legs)
      .filter(graft.operators.BloomJoin.mightContain(bf,
        keyOf(key.cols.take(keyAttrs.length).map(col))))
      .queryExecution.analyzed
  }

  /** Layout precondition of every probe-leg construction — cheap (no job). */
  private[graft] def zipLayoutOk: Boolean = !manifest.isEmpty && filesDisjoint

  /** Sends a batch of probe rows to this snapshot's legs — the one
    * routing path behind [[probeJoin]], [[asOfProbe]], the SQL probe
    * rewrites and MERGE's probe join. `keyAttrs` (attributes of `probe`)
    * map positionally onto the leading key columns. In order:
    *  - the layout check (free): [[ProbeRoute.Unzippable]] before any
    *    probe-side job runs;
    *  - with `pruneByProbes`, ONE min/max/count job over the probe side:
    *    an empty probe set is [[ProbeRoute.NoProbes]], and the probes'
    *    leading-key range, intersected with `ownBounds` (the snapshot's
    *    own pushed leading-key bounds), prunes the legs' files —
    *    [[ProbeRoute.AllPruned]] when no file is left;
    *  - the legs ([[probeLegPlans]]), bloom-filtered by the probe keys at
    *    256 probes or more (a second probe-side job), and the probes
    *    routed onto them ([[routeProbePlan]]) under `probe`'s own
    *    exprIds: [[ProbeRoute.Routed]].
    *
    * The bounds and bloom passes re-execute `probe`: a nondeterministic
    * or expensive probe frame must be persisted by the caller (otherwise
    * the passes could see different rows, and stale bounds could prune a
    * live match's file), or `pruneByProbes = false` skips both. Pruning
    * and the bloom filter drop snapshot rows no probe can match, so a
    * join type that emits unmatched SNAPSHOT rows must not ask for them.
    */
  private[graft] def routeProbeLegs(
      probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keyAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      rowsPerLeg: Long, pruneByProbes: Boolean,
      ownBounds: (Option[Seq[Any]], Option[Seq[Any]]) = (None, None)): ProbeRoute = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    if (!zipLayoutOk) return ProbeRoute.Unzippable
    val (pLo, pHi, nProbes) =
      if (pruneByProbes) probeBoundsPlan(probe, keyAttrs.head) else (None, None, -1L)
    // an empty probe set (the idle-stream micro-batch) never builds leg
    // plans that would scan + sort the whole snapshot against zero probes
    if (nProbes == 0L) return ProbeRoute.NoProbes
    def both(own: Option[Seq[Any]], probes: Option[Any], lower: Boolean) =
      KeyRange.intersect(own.filter(_.nonEmpty).map(b => (b.head, true)),
        probes.map((_, true)), lower).map(_._1)
    probeLegPlans(keyAttrs.length, rowsPerLeg,
        both(ownBounds._1, pLo, lower = true),
        both(ownBounds._2, pHi, lower = false)) match {
      case ProbeLegs.Unzippable => ProbeRoute.Unzippable
      case ProbeLegs.AllPruned => ProbeRoute.AllPruned
      case ProbeLegs.Legs(bounds, legs) =>
        val filtered = bloomFilteredLegsPlan(probe, keyAttrs, nProbes, legs)
        val routed = routeProbePlan(probe, keyAttrs, bounds)
        ProbeRoute.Routed(
          org.apache.spark.sql.catalyst.plans.logical.Project(
            probe.output.zip(routed.output).map {
              case (o, n) => Alias(n, o.name)(exprId = o.exprId) }, routed),
          filtered)
    }
  }

  /** Routes each probe row to its leg index — a binary search of the
    * row's equi prefix against the boundary list (internal representation,
    * compared with Spark's own row ordering — the exact dual of the legs'
    * gtKey/ltKey predicates, prefix convention included: leg index =
    * count of boundaries <= key, so a probe equal to a boundary goes
    * ABOVE it like the legs' half-open ranges) — then ONE partitioner
    * shuffle of the probe side alone. Returns the routed frame's analyzed
    * plan, partition i = leg i. Key columns arrive as ATTRIBUTES of the
    * probe plan (an arbitrary SQL join side may repeat names across
    * relations, so name lookup is unsafe there). Output attributes are
    * FRESH (a LogicalRDD over the routed rows) and align POSITIONALLY
    * with `probe.output`.
    */
  private def routeProbePlan(
      probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      keyAttrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      bounds: Vector[Seq[Any]])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, RowOrdering, UnsafeProjection}
    val out = probe.output
    val prefixTypes = keyAttrs.map(_.dataType)
    // manifest JSON round-trips WIDEN numeric key literals (Int/Short/Byte
    // -> Long, Float -> Double): narrow them back to the schema type
    // before the catalyst conversion, or the routing ordering's typed
    // getters would ClassCastException on a reopened Int-keyed snapshot
    def coerce(v: Any, dt: org.apache.spark.sql.types.DataType): Any = (v, dt) match {
      case (null, _) => null
      case (n: java.lang.Number, org.apache.spark.sql.types.IntegerType) => Int.box(n.intValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.ShortType) => Short.box(n.shortValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.ByteType) => Byte.box(n.byteValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.LongType) => Long.box(n.longValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.FloatType) => Float.box(n.floatValue())
      case (n: java.lang.Number, org.apache.spark.sql.types.DoubleType) => Double.box(n.doubleValue())
      case _ => v
    }
    val convs = prefixTypes.map(t =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(t))
    val boundRows: Array[InternalRow] = bounds.map(b =>
      new GenericInternalRow(b.zip(prefixTypes.zip(convs)).map {
        case (v, (dt, f)) => f(coerce(v, dt)) }
        .toArray[Any]): InternalRow).toArray
    val keyExprs = keyAttrs.map { a =>
      val i = out.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"routeProbePlan: key attribute $a not in probe output")
      BoundReference(i, a.dataType, nullable = true)
    }
    val nLegs = boundRows.length + 1
    val probeDf = org.apache.spark.sql.graft.Shim.ofRows(spark, probe)
    val routed = probeDf.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(keyExprs)
      val ord = RowOrdering.createNaturalAscendingOrdering(prefixTypes)
      it.map { r =>
        val k = proj(r)
        var lo = 0; var hi = boundRows.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ord.compare(boundRows(mid), k) <= 0) lo = mid + 1 else hi = mid
        }
        (lo, r.copy())
      }
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = nLegs
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }).map(_._2)
    org.apache.spark.sql.graft.Shim
      .fromInternalRows(spark, routed, probeDf.schema).queryExecution.analyzed
  }

  /** EQUI PROBE join: join an ARBITRARY DataFrame of probe rows against
    * this snapshot on its leading key column(s) — [[coRangeJoin]] for a
    * non-snapshot left side, the general "enrich facts against a
    * snapshot dimension" shape. Probes are routed onto the snapshot's
    * leg boundaries ([[routeProbeLegs]] — ONE partitioner shuffle of the
    * probes alone; the snapshot never moves and the SQL plan stays
    * exchange-free) and each leg runs the equi streaming merge, so a
    * key-PREFIX join (fewer probe key columns than the snapshot's key
    * arity) emits every matching group row, spillable like the
    * snapshot-to-snapshot join.
    *
    * `probeKeyCols` map positionally onto this snapshot's leading key
    * columns. Join types: `inner`, `left_outer` (probe columns then the
    * snapshot's non-equi-key, non-version columns — names must not
    * collide), `left_semi` / `left_anti` (probe columns alone — EXISTS /
    * NOT EXISTS against the snapshot). Duplicate probe rows each match
    * independently; null probe keys follow SQL equality (inner/semi
    * drop, outer null-extends, anti keeps). Falls back to the stock
    * shuffled join when the layout cannot guarantee disjoint ranges.
    * `pruneFiles = false` skips BOTH extra probe-side passes — the
    * [min,max] file-prune aggregate AND the ≥256-probe bloom prefilter
    * (they share the unsoundness on unpersisted nondeterministic probe
    * frames, so one opt-out covers both; see [[routeProbeLegs]]).
    */
  def probeJoin(probes: DataFrame, probeKeyCols: Seq[String],
                joinType: String = "inner", rowsPerLeg: Long = -1L,
                pruneFiles: Boolean = true): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{JoinType, LeftAnti, LeftOuter, LeftSemi, Inner => CInner}
    val jt = JoinType(joinType)
    require(jt == CInner || jt == LeftOuter || jt == LeftSemi || jt == LeftAnti,
      s"probeJoin: unsupported join type '$joinType' " +
        "(inner, left_outer, left_semi, left_anti)")
    val el = probeKeyCols.length
    require(el >= 1 && el <= key.cols.length,
      s"probeJoin: ${el} probe key column(s) vs key arity ${key.cols.length}")
    val ps = probes.schema
    val rs = store.emptyTyped(manifest).schema
    probeKeyCols.foreach(c => require(ps.fieldNames.contains(c),
      s"probeJoin: probe column $c missing"))
    require(probeKeyCols.map(ps(_).dataType) ==
      key.cols.take(el).map(rs(_).dataType),
      "probeJoin: key column types must match positionally")
    val rightInOutput = jt == CInner || jt == LeftOuter
    // keep key columns BEYOND the equi prefix (a prefix join's match
    // detail), drop the equi keys (equal to the probe's) + version stamp
    val rightVals = rs.fieldNames.toSeq.filterNot(c =>
      key.cols.take(el).contains(c) || c == "version")
    if (rightInOutput) {
      val clash = rightVals.toSet intersect ps.fieldNames.toSet
      require(clash.isEmpty,
        s"probeJoin: snapshot column(s) ${clash.mkString(",")} collide " +
          "with probe columns — rename before joining")
    }

    def stockJoin(): DataFrame = {
      val l = probes.alias("__al")
      val r = df.alias("__ar")
      val cond = probeKeyCols.zip(key.cols.take(el))
        .map { case (a, b) => col(s"__al.$a") === col(s"__ar.$b") }
        .reduce(_ && _)
      val j = l.join(r, cond, joinType)
      if (rightInOutput)
        j.select(ps.fieldNames.toSeq.map(c => col(s"__al.$c")) ++
          rightVals.map(c => col(s"__ar.$c")): _*)
      else j.select(ps.fieldNames.toSeq.map(c => col(s"__al.$c")): _*)
    }

    /** The zero-possible-matches answer, no snapshot scan: inner/semi →
      * empty, left_outer → every probe null-extended, anti → every probe.
      */
    def noMatch(p: DataFrame): DataFrame = jt match {
      case LeftAnti => p
      case LeftOuter => p.select(col("*") +: rightVals.map(c =>
        lit(null).cast(rs(c).dataType).as(c)): _*)
      case _ =>
        val base = p.limit(0)
        if (rightInOutput) base.select(col("*") +: rightVals.map(c =>
          lit(null).cast(rs(c).dataType).as(c)): _*)
        else base
    }

    val probe = probes.queryExecution.analyzed
    routeProbeLegs(probe, probeKeyCols.map(planAttr(probe, _, "probeJoin")),
        rowsPerLeg, pruneFiles) match {
      case ProbeRoute.Unzippable => stockJoin()
      case ProbeRoute.NoProbes => noMatch(probes.limit(0))
      case ProbeRoute.AllPruned => noMatch(probes)
      case ProbeRoute.Routed(lPlan, rPlan) =>
        def attrOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                   n: String) = planAttr(p, n, "probeJoin")
        val node = graft.plans.ZipPartitionsJoin(lPlan, rPlan,
          probeKeyCols.map(attrOf(lPlan, _)),
          key.cols.take(el).map(attrOf(rPlan, _)), jt)
        val lByName = sideByName(node.output, lPlan)
        val rByName = sideByName(node.output, rPlan)
        val out = org.apache.spark.sql.graft.Shim.ofRows(spark, node)
        if (rightInOutput)
          out.select(ps.fieldNames.toSeq.map(c =>
            org.apache.spark.sql.graft.Shim.col(lByName(c))) ++
            rightVals.map(c =>
              org.apache.spark.sql.graft.Shim.col(rByName(c))): _*)
        else out.select(ps.fieldNames.toSeq.map(c =>
          org.apache.spark.sql.graft.Shim.col(lByName(c))): _*)
    }
  }

  /** AS-OF PROBE join: enrich an ARBITRARY DataFrame of probe rows with
    * this snapshot's latest row at-or-before each probe's ts within the
    * probe's equi-key group — [[asOfJoin]] for a non-snapshot left side.
    * The probe side is ROUTED onto this snapshot's leg boundaries (one
    * binary search per probe row against the broadcast boundary list,
    * then a partitioner shuffle of the PROBES ALONE) and each leg runs
    * the same one-candidate ordered merge. At 100 TB this is the shape
    * that matters: the snapshot — the big side — never moves; the only
    * exchange in the whole plan is the (typically tiny) probe side, the
    * join analogue of [[getAll]]'s route-the-batch-to-the-data stance.
    *
    * `probeKeyCols` map positionally onto this snapshot's leading key
    * columns (the equi prefix); `probeTsCol` is the probe instant. The
    * snapshot's ts defaults to its next key column (`rightTsCol` for any
    * other). Semantics — strictness, native-unit tolerance, inner /
    * left_outer, deterministic tie-break by the snapshot's remaining key
    * — are exactly [[asOfJoin]]'s. Output: every probe column, then
    * `asof_ts`, then the snapshot's value columns. Duplicate probe rows
    * are fine (each is matched independently). Falls back to the
    * shuffled join + window pick when the layout cannot guarantee
    * disjoint ranges. `pruneFiles = false` skips BOTH extra probe-side
    * passes — the [min,max] file-prune aggregate AND the ≥256-probe
    * bloom prefilter (see [[routeProbeLegs]]).
    */
  def asOfProbe(probes: DataFrame, probeKeyCols: Seq[String], probeTsCol: String,
                rightTsCol: String = null, joinType: String = "inner",
                strict: Boolean = false, tolerance: Long = -1L,
                rowsPerLeg: Long = -1L, pruneFiles: Boolean = true): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"asOfProbe: unsupported join type '$joinType' (inner, left_outer)")
    val leftOuter = joinType == "left_outer"
    val el = probeKeyCols.length
    require(el >= 1 && el <= key.cols.length,
      s"asOfProbe: ${el} probe key column(s) vs key arity ${key.cols.length}")
    val rTsName = Option(rightTsCol).getOrElse {
      require(el < key.cols.length,
        "asOfProbe: no key column beyond the equi prefix — pass rightTsCol")
      key.cols(el)
    }
    require(!key.cols.take(el).contains(rTsName),
      "asOfProbe: the ts column cannot be part of the equi prefix")
    val ps = probes.schema
    val rs = store.emptyTyped(manifest).schema
    (probeKeyCols :+ probeTsCol).foreach(c => require(ps.fieldNames.contains(c),
      s"asOfProbe: probe column $c missing"))
    require(!probeKeyCols.contains(probeTsCol),
      "asOfProbe: the probe ts column cannot be part of the equi key")
    require(probeKeyCols.map(ps(_).dataType) ==
      key.cols.take(el).map(rs(_).dataType),
      "asOfProbe: equi-key column types must match positionally")
    val tsType = ps(probeTsCol).dataType
    require(tsType == rs(rTsName).dataType,
      s"asOfProbe: ts types must match ($tsType vs ${rs(rTsName).dataType})")
    require(tolerance < 0 || graft.plans.AsOfZipJoin.toleranceSupported(tsType),
      s"asOfProbe: tolerance unsupported for ts type $tsType")
    val rightVals = rs.fieldNames.toSeq.filterNot(c =>
      key.cols.take(el).contains(c) || c == "version" || c == rTsName)
    val clash = (rightVals :+ "asof_ts").toSet intersect ps.fieldNames.toSet
    require(clash.isEmpty,
      s"asOfProbe: output column(s) ${clash.mkString(",")} collide " +
        "with probe columns — rename before joining")
    val rRestNames = key.cols.drop(el).filterNot(_ == rTsName)

    def tsUnits(c: Column): Column = tsUnitsCol(tsType, c)

    /** Stock fallback: probes get a per-row id, shuffled join on the equi
      * prefix + ts bound, one window picks the latest match per probe.
      */
    def stockProbe(): DataFrame = {
      val l = probes.withColumn("__pid", monotonically_increasing_id())
        .alias("__al")
      val r = df.alias("__ar")
      val equiCond = probeKeyCols.zip(key.cols.take(el))
        .map { case (a, b) => col(s"__al.$a") === col(s"__ar.$b") }
        .reduce(_ && _)
      val lT = col(s"__al.$probeTsCol"); val rT = col(s"__ar.$rTsName")
      val tsCond0 = if (strict) rT < lT else rT <= lT
      val tsCond = if (tolerance >= 0)
        tsCond0 && (tsUnits(lT) - tsUnits(rT) <= tolerance)
      else tsCond0
      val j = l.join(r, equiCond && tsCond, if (leftOuter) "left" else "inner")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__al.__pid"))
        .orderBy((rT.desc_nulls_last +:
          rRestNames.map(c => col(s"__ar.$c").desc_nulls_last)): _*)
      j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(ps.fieldNames.toSeq.map(c => col(s"__al.$c")) ++
          (rT.as("asof_ts") +: rightVals.map(c => col(s"__ar.$c").as(c))): _*)
    }

    /** Zero-possible-matches answer, no snapshot scan: inner → empty,
      * left_outer → every probe with null asof_ts + value columns.
      */
    def noMatch(p: DataFrame): DataFrame = {
      val base = if (leftOuter) p else p.limit(0)
      base.select(col("*") +: (lit(null).cast(tsType).as("asof_ts") +:
        rightVals.map(c => lit(null).cast(rs(c).dataType).as(c))): _*)
    }

    val probe = probes.queryExecution.analyzed
    routeProbeLegs(probe, probeKeyCols.map(planAttr(probe, _, "asOfProbe")),
        rowsPerLeg, pruneFiles) match {
      case ProbeRoute.Unzippable => stockProbe()
      // an empty probe batch (idle stream) pays no snapshot scan: "cost
      // follows the stream's rate"
      case ProbeRoute.NoProbes => noMatch(probes.limit(0))
      case ProbeRoute.AllPruned => noMatch(probes)
      case ProbeRoute.Routed(lPlan, rPlan) =>
        def attrOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                   n: String) = planAttr(p, n, "asOfProbe")
        val node = graft.plans.AsOfZipJoin(lPlan, rPlan,
          probeKeyCols.map(attrOf(lPlan, _)),
          key.cols.take(el).map(attrOf(rPlan, _)),
          attrOf(lPlan, probeTsCol), attrOf(rPlan, rTsName),
          Nil, rRestNames.map(attrOf(rPlan, _)),
          leftOuter, strict, tolerance)
        val lByName = sideByName(node.output, lPlan)
        val rByName = sideByName(node.output, rPlan)
        org.apache.spark.sql.graft.Shim.ofRows(spark, node).select(
          ps.fieldNames.toSeq.map(c =>
            org.apache.spark.sql.graft.Shim.col(lByName(c))) ++
          (org.apache.spark.sql.graft.Shim.col(rByName(rTsName)).as("asof_ts") +:
            rightVals.map(c =>
              org.apache.spark.sql.graft.Shim.col(rByName(c)).as(c))): _*)
    }
  }

  /** U3 `copy` — cheap snapshot clone sharing every data file
    * (reference `QueryableIndex.scala:540-559`): zero data copy, new id.
    */
  def copyTo(newId: String): Either[GraftError, SnapshotManifest] = {
    if (store.exists(newId)) Left(GraftError.IndexAlreadyExists(newId))
    else {
      // resolve before committing: the clone's checkpoint must live under
      // ITS id (the original's could be vacuumed away), so a lazy ref is
      // materialized and re-checkpointed rather than propagated
      val m = manifest.copy(id = newId, version = 0L,
        snapshotId = UUID.randomUUID().toString,
        files = files, filesRef = None, disjointHint = None)
      Right(store.commit(m, -1L))
    }
  }

  /** U1 `merge` — union two indexes with disjoint key ranges; asserts
    * combined size fits maxNItems (reference `QueryableIndex.scala:561-584`).
    * Because files are immutable and ranges disjoint, this is a pure
    * manifest concat — zero bytes moved, the scale-friendly analogue of the
    * reference's root-block merge.
    */
  def merge(other: KVIndex, newId: String): Either[GraftError, SnapshotManifest] = {
    val total = count + other.count
    if (!manifest.hasEnough(other.count))
      return Left(GraftError.MergeTooLarge(total, manifest.maxNItems))
    if (store.exists(newId)) return Left(GraftError.IndexAlreadyExists(newId))
    val (af, bf) = (files, other.files)
    val a = manifest
    val disjoint = af.isEmpty || bf.isEmpty ||
      KeyOrd.compare(af.map(_.max).max(KeyOrd), bf.map(_.min).min(KeyOrd)) < 0 ||
      KeyOrd.compare(bf.map(_.max).max(KeyOrd), af.map(_.min).min(KeyOrd)) < 0
    require(disjoint, "merge requires disjoint key ranges")
    val m = SnapshotManifest(newId, 0L, UUID.randomUUID().toString,
      a.keyCols, a.valueCols, total, a.maxNItems, a.lastChangeVersion,
      (af ++ bf).sortBy(_.min)(KeyOrd), a.colTypes)
    Right(store.commit(m, -1L))
  }

  /** U2 `split` — split at the median into two independent indexes
    * (reference `QueryableIndex.scala:586-679`). The median is located via
    * manifest cumulative row counts (the B-Tree descent on stats): only ONE
    * file is read to find the exact split key, then files are assigned
    * whole to a side and only the straddling file is rewritten — O(1 file)
    * work regardless of index size.
    */
  def split(leftId: String, rightId: String): Either[GraftError, (SnapshotManifest, SnapshotManifest)] = {
    if (count < 2) return Left(GraftError.MergeTooLarge(count, 2))
    val half = count / 2
    val files = this.files
    var cum = 0L
    val idx = files.indexWhere { f => val c = cum; cum += f.rows; half <= c + f.rows && half > c }
    val straddle = files(math.max(idx, 0))
    val before = files.take(math.max(idx, 0))
    val after = files.drop(math.max(idx, 0) + 1)
    val need = (half - before.map(_.rows).sum).toInt
    val one = store.readFiles(Seq(straddle.path), manifest)
    // rank within the ONE straddling file (bounded by maxRowsPerFile, so a
    // single-partition window is fine) and cut at `need` — an exact
    // complement without exceptAll's join/shuffle
    val w = org.apache.spark.sql.expressions.Window.orderBy(key.sortCols(false): _*)
    val ranked = one.withColumn("__rn", row_number().over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val leftPart = ranked.filter(col("__rn") <= need).drop("__rn")
    val rightPart = ranked.filter(col("__rn") > need).drop("__rn")
    val (_, leftNew) =
      if (need > 0) store.writeData(leftId, leftPart, key, 1)
      else ("", Seq.empty[FileEntry])
    val (_, rightNew) = store.writeData(rightId, rightPart, key, 1)
    ranked.unpersist()
    def mk(id: String, fs: Seq[FileEntry]) = SnapshotManifest(id, 0L,
      UUID.randomUUID().toString, manifest.keyCols, manifest.valueCols,
      fs.map(_.rows).sum, manifest.maxNItems, manifest.lastChangeVersion,
      fs.sortBy(_.min)(KeyOrd), manifest.colTypes)
    val lm = mk(leftId, before ++ leftNew)
    val rm = mk(rightId, rightNew ++ after)
    Right((store.commit(lm, -1L), store.commit(rm, -1L)))
  }

  /** Snapshot diff — the COW dividend: data files shared by both manifests
    * are byte-identical (files are immutable and referenced, never copied),
    * so they are skipped entirely and the diff's cost is proportional to
    * the CHANGED data, not the table size. Keys are classified as
    * `added` / `removed` / `changed` between this snapshot and `newer`
    * (two versions of the same logical index, any temporal distance apart).
    *
    * The write-version stamp is excluded from the value comparison: COW
    * rewrites whole files, so a payload-unchanged row in a rewritten file
    * re-appears on both sides with only a new stamp — those rows cancel
    * here, which is what makes the output "what actually changed".
    */
  def diff(newer: KVIndex): DataFrame = {
    val kcols = key.cols
    val vals = manifest.valueCols.filterNot(_ == "version")
    val oldPaths = files.map(_.path).toSet
    val newPaths = newer.files.map(_.path).toSet

    def classify(joined: DataFrame): DataFrame = {
      val valueChanged = vals.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
        .reduceOption(_ || _).getOrElse(lit(false))
      joined.withColumn("change",
          when(col("__old").isNull, lit("added"))
            .when(col("__new").isNull, lit("removed"))
            .when(valueChanged, lit("changed")))
        .filter(col("change").isNotNull)
        .drop("__old", "__new")
    }

    // stock shuffled diff: the fallback for overlapping layouts (and the
    // trivially-empty all-shared case, where it reads zero bytes anyway)
    def stock(): DataFrame = {
      def side(m: SnapshotManifest, sideFiles: Seq[FileEntry], keep: Set[String],
               tag: String): DataFrame = {
        val fs = sideFiles.filterNot(f => keep.contains(f.path))
        val base =
          if (fs.isEmpty) store.emptyTyped(m) // typed empty, no scan
          else store.readFiles(fs.map(_.path), m)
        base.select(kcols.map(col) ++ vals.map(c => col(c).as(s"${tag}_$c")) :+
          lit(true).as(s"__$tag"): _*)
      }
      classify(side(manifest, files, newPaths, "old")
        .join(side(newer.manifest, newer.files, oldPaths, "new"), kcols, "full_outer"))
    }

    // the zip-join diff: legs are cut over the NON-SHARED file subsets
    // only (COW-shared files are byte-identical and cancel), joined by
    // the exchange-free full-outer merge with coalesced keys — the diff
    // reads and shuffles NOTHING beyond the changed ranges, and an
    // aggregate on the key above a bypass-free diff plans no exchange
    import org.apache.spark.sql.catalyst.plans.FullOuter
    coRangeLegPlans(newer, joinType = FullOuter,
        lKeep = f => !newPaths.contains(f.path),
        rKeep = f => !oldPaths.contains(f.path)) match {
      case Some((zipOpt, loOpt, roOpt))
          if zipOpt.nonEmpty || loOpt.nonEmpty || roOpt.nonEmpty =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
        import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
        val ls = store.emptyTyped(manifest).schema
        val rs = newer.store.emptyTyped(newer.manifest).schema
        val boolT = org.apache.spark.sql.types.BooleanType
        // per-side tagging BELOW the join (keys pass through untouched,
        // so the leg alignment and the key attrs survive)
        def tag(p: LogicalPlan, t: String): LogicalPlan = {
          val byName = p.output.map(a => a.name -> a).toMap
          Project(kcols.map(byName) ++
            vals.map(c => Alias(byName(c), s"${t}_$c")()) :+
            Alias(Literal(true), s"__$t")(), p)
        }
        def nullsOf(schema: org.apache.spark.sql.types.StructType, t: String) =
          vals.map(c => Alias(Literal(null, schema(c).dataType), s"${t}_$c")()) :+
            Alias(Literal(null, boolT), s"__$t")()
        val zip = zipOpt.map { case (lp, rp, lKeys, rKeys) =>
          graft.plans.ZipPartitionsJoin(tag(lp, "old"), tag(rp, "new"),
            lKeys, rKeys, FullOuter, lKeys, rKeys)
        }
        val removedOnly = loOpt.map { lp => // ranges only the OLD side covers
          val s = tag(lp, "old")
          Project(s.output ++ nullsOf(rs, "new"), s)
        }
        val addedOnly = roOpt.map { rp => // ranges only the NEW side covers
          val s = tag(rp, "new")
          Project(s.output.take(kcols.size) ++ nullsOf(ls, "old") ++
            s.output.drop(kcols.size), s)
        }
        val branches: Seq[LogicalPlan] = Seq(zip, removedOnly, addedOnly).flatten
        classify(org.apache.spark.sql.graft.Shim.ofRows(spark, branches match {
          case Seq(only) => only
          case many => Union(many)
        }))
      case _ => stock()
    }
  }
}

/** Manifest-derived cardinality signal for a leading `m`-prefix grouping
  * ([[KVIndex.prefixGroupSignal]]). `groupsLB` is a LOWER bound on the
  * number of distinct prefix groups in the covering files; it is near-exact
  * when `wideFrac` is small (most files span a single prefix group, so
  * groups span whole files and every group shows up at a file bound) and
  * uninformative when most files are "wide" (a file whose truncated
  * min/max prefixes differ hides an unknown number of interior groups).
  * `groupsUB` (m == 1, integral/date leading column only) is a true UPPER
  * bound: Σ over files of min(rows, head-span + 1) — a file's distinct
  * heads cannot exceed the integer span of its bounds, and double-counting
  * straddled groups only raises the bound. Safe to act on in the direction
  * "few groups": if even the maximal possible count is small, it is small.
  */
private[graft] final case class PrefixGroupSignal(
    groupsLB: Long, rows: Long, nFiles: Int, wideFrac: Double,
    groupsUB: Option[Long])

/** Result of [[KVIndex.probeLegPlans]] — three-way so callers can tell a
  * layout that cannot zip (fall back to the stock shuffled join) from
  * probe bounds that pruned every file (the join outcome is already
  * determined: no snapshot row can match, answer without any snapshot
  * scan). Collapsing both into `None` made every out-of-range probe
  * batch — e.g. a stream of strictly-newer keys against an old snapshot
  * — pay a full stock-join pass over the entire snapshot for a provably
  * match-free result.
  */
private[graft] sealed trait ProbeLegs
private[graft] object ProbeLegs {
  /** layout cannot guarantee disjoint leg ranges — stock join */
  case object Unzippable extends ProbeLegs
  /** probe [min,max] bounds pruned every file — zero possible matches */
  case object AllPruned extends ProbeLegs
  final case class Legs(bounds: Vector[Seq[Any]],
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    extends ProbeLegs
}

/** Result of [[KVIndex.routeProbeLegs]]. Each caller maps it onto its own
  * answer: the zero-match shape for `NoProbes`/`AllPruned` (which differs
  * by join type), the stock join for `Unzippable`.
  */
private[graft] sealed trait ProbeRoute
private[graft] object ProbeRoute {
  /** the bounds pass counted zero probe rows */
  case object NoProbes extends ProbeRoute
  /** layout cannot guarantee disjoint leg ranges — stock join */
  case object Unzippable extends ProbeRoute
  /** the probe and pushed bounds pruned every file — zero possible matches */
  case object AllPruned extends ProbeRoute
  /** `probe`: the routed probes, partition i = leg i, under the probe
    * plan's own exprIds; `legs`: the snapshot's leg-union plan
    */
  final case class Routed(probe: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      legs: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    extends ProbeRoute
}

object KVIndex {
  /** True when re-computing `df` costs no more than re-reading it: a bare
    * leaf (in-memory batch, file scan) under only projections/filters.
    * The write path's multi-pass pinning skips these — persisting a
    * MemoryStream micro-batch or a plain parquet scan trades a free
    * recompute for serialize-to-storage cost on every small write batch.
    */
  private[core] def isTrivialPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def ok(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case p: Project => ok(p.child)
      case f: Filter => ok(f.child)
      case _ => false
    }
    ok(df.queryExecution.optimizedPlan)
  }

  /** Build the first snapshot of a new index from a bulk DataFrame —
    * SURVEY §7's `KVSnapshot.fromBatch`. Stamps every tuple with the insert
    * version (reference `Index.scala:281-320` stamps `insertVersion`).
    *
    * `validateKeys` (default ON) enforces the engine's key-unique contract
    * at the OTHER entry point writes can't guard: W1 rejects duplicate keys
    * per batch (`DUPLICATED_KEYS`), but a bulk bootstrap used to accept
    * them silently — and every read/join primitive (point get, nextKey,
    * the zip join's group buffer sizing claim) assumes uniqueness. The
    * probe is the W1 dup probe's shape — ONE key-only aggregate
    * (map-side-combined count over the key columns; values never shuffle)
    * before any file is written, typed `DuplicatedKeys` on failure with
    * the index NOT created. Pass `validateKeys = false` for trusted
    * pre-deduplicated inputs to skip the pass.
    */
  def bootstrap(store: SnapshotStore, id: String, df: DataFrame, keyCols: Seq[String],
                maxNItems: Long = -1L,
                txVersion: String = UUID.randomUUID().toString,
                maxRowsPerFile: Long = 1L << 19,
                recordHistory: Boolean = false,
                validateKeys: Boolean = true): Either[GraftError, KVIndex] = {
    val valueColNames = df.columns.filterNot(c => keyCols.contains(c) || c == "version").toSeq
    // record per-column DDL types so an empty snapshot still reads typed
    val colTypes = (keyCols ++ valueColNames).map(c => df.schema(c).dataType.sql)
    if (validateKeys) {
      // BEFORE createIndex: a rejected bootstrap must leave no index record
      val dupS = df.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1)
        .select(concat_ws("/", keyCols.map(c => col(c).cast("string")): _*).as("key"))
        .limit(5).collect().map(_.getString(0))
      if (dupS.nonEmpty) return Left(GraftError.DuplicatedKeys(dupS.toSeq))
    }
    store.createIndex(id, keyCols, valueColNames, maxNItems, colTypes) match {
      case Left(e) => Left(e)
      case Right(m0) =>
        val valueCols = m0.valueCols
        val key = KeySpec(keyCols)
        // the stamp is a string in every snapshot schema
        val stamped =
          if (df.columns.contains("version")) df.withColumn("version", col("version").cast("string"))
          else df.withColumn("version", lit(txVersion))
        // writeData reads the input twice (range sampling + write): pin a
        // compute-heavy input once, unless the caller already did or the
        // plan is trivially recomputable (re-scanning beats serializing)
        val pin = stamped.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
          !isTrivialPlan(stamped)
        if (pin) stamped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // size the file count from optimizer stats (scan bytes) instead of
        // a dedicated count() pass — targets ~32 MB of input per file,
        // i.e. maxRowsPerFile at the default for ~64-byte rows. Plans with
        // NO real estimate (LogicalRDD / streaming micro-batches report the
        // unknown-stats sentinel, ~8 EB) would cap out the partition count
        // and the range partitioner would then write ONE FILE PER ROW —
        // those pay one O(input) count instead (free off the pin, or a
        // cheap rescan for the trivial plans the pin skips).
        val statsBytes = BigDecimal(
          stamped.queryExecution.optimizedPlan.stats.sizeInBytes)
        val nPartsEst =
          if (statsBytes < BigDecimal(Long.MaxValue) / 4) {
            val targetBytes = BigDecimal(64L) * maxRowsPerFile
            (statsBytes / targetBytes).setScale(0, BigDecimal.RoundingMode.CEILING)
              .min(100000).max(1).toInt
          } else Int.MaxValue // unknown-stats sentinel: always verify
        // optimizer size estimates COMPOUND through joins/windows and can
        // overshoot by orders of magnitude — observed: a 1M-row windowed
        // plan estimated large enough to write 100,000 ten-row files
        // (740 s of file creation, every later scan a 100k-file open).
        // Stats may size SMALL bootstraps for free, but above a modest
        // file count one exact count() (cheap off the pin) bounds the
        // layout by the REAL row cardinality.
        val nParts =
          if (nPartsEst <= 256) nPartsEst
          else math.max(1,
            math.ceil(stamped.count().toDouble / maxRowsPerFile).toInt)
        val files =
          try store.writeData(id, stamped, key, nParts)._2
          finally { if (pin) stamped.unpersist() }
        val m1 = m0.copy(version = 1L, snapshotId = UUID.randomUUID().toString,
          numElements = files.map(_.rows).sum, lastChangeVersion = txVersion,
          files = files.sortBy(_.min)(KeyOrd))
        Right(new KVIndex(store, store.commit(m1, 0L, recordHistory), maxRowsPerFile))
    }
  }

  /** Open LATEST. Big-manifest snapshots (filelist checkpoint) open LAZY:
    * no file entry is materialized until an operation needs it, and
    * point/range reads materialize only their covering entries — a 3M-file
    * snapshot point-get plans over a handful of driver-side objects.
    */
  def open(store: SnapshotStore, id: String): Either[GraftError, KVIndex] =
    store.loadLatestLazy(id).map(new KVIndex(store, _))

  /** Multi-writer convenience: execute `cmds` against LATEST, and when the
    * commit CAS is lost to a concurrent writer (`ContextAlreadyUsed` — the
    * reference's single-writer `used` flag, `Index.scala:1012,1032-1035`),
    * re-open the NEW latest and re-validate + re-apply, up to
    * `maxAttempts` times. Losing writers therefore serialize behind the
    * winner instead of hand-rolling the reopen loop. Only the CAS loss is
    * transient and retried; validation failures (duplicate keys, missing
    * keys, stale row versions — possibly caused by the winning writer's
    * batch) surface immediately, because re-running them would return the
    * same error against the same state.
    */
  def executeWithRetry(store: SnapshotStore, id: String, cmds: Seq[Command],
                       maxAttempts: Int = 5,
                       recordHistory: Boolean = false,
                       maxRowsPerFile: Long = 1L << 19,
                       txVersion: String = UUID.randomUUID().toString): BatchResult =
    // one txVersion across attempts: the committed version carries the
    // SAME lastChangeVersion whichever attempt lands, so callers (e.g. the
    // streaming sink's replay check) can dedupe on it
    executeWithRetry(store, id, maxAttempts)(m => Some(new KVIndex(store, m, maxRowsPerFile)
      .execute(cmds, txVersion, recordHistory = recordHistory))).get

  /** The retry loop itself, for any commit `body` makes against the
    * re-opened LATEST manifest; a None body means "nothing to commit at
    * this version" and ends the loop. A missing index is a failed result.
    */
  def executeWithRetry(store: SnapshotStore, id: String, maxAttempts: Int)
                      (body: SnapshotManifest => Option[BatchResult]): Option[BatchResult] = {
    require(maxAttempts >= 1, "executeWithRetry: maxAttempts must be >= 1")
    var last: Option[BatchResult] = None
    var attempt = 0
    while (attempt < maxAttempts) {
      store.loadLatestLazy(id) match {
        case Left(e) => return Some(BatchResult(success = false, Some(e), None))
        case Right(m) =>
          last = body(m)
          val casLoss = last.exists(_.error.exists(_.isInstanceOf[GraftError.ContextAlreadyUsed]))
          if (!casLoss) return last
      }
      attempt += 1
    }
    last
  }

  def openAt(store: SnapshotStore, id: String, t: Long): Either[GraftError, KVIndex] =
    store.findIndexAt(id, t).map(m => new KVIndex(store, m))
      .toRight(GraftError.IndexNotFound(s"$id@$t"))
}
