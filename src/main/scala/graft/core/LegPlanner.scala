package graft.core

import org.apache.spark.sql.DataFrame

/** The one place that cuts manifest files into LEGS — contiguous runs of
  * adjacent files, each read as one task — for every ordered read,
  * top-k, co-range/as-of join and probe join. The flat-layout analogue of
  * the reference's findPath descent (`Index.scala:85-99`, [[covering]])
  * and in-order leaf walk (`Index.scala:583-664`, [[cut]] + [[stitch]]).
  *
  * Everything but [[stitch]] is plain arithmetic over manifest
  * [[FileEntry]] lists (sorted by min, pairwise disjoint wherever legs are
  * cut) and never touches data.
  */
private[graft] object LegPlanner {

  /** Covering-file test for INCLUSIVE bound tuples: each file's min/max is
    * truncated to the bound's length before the compare, so a composite
    * key whose leading components equal the bound stays covered (the
    * prefix convention ranks a longer tuple above its prefix). A plain
    * serializable function: checkpointed manifests ship it into the
    * file-list scan ([[SnapshotStore.resolveFilesWhere]]).
    */
  def covering(lo: Option[Seq[Any]], hi: Option[Seq[Any]]): FileEntry => Boolean =
    f => lo.forall(l => KeyOrd.compare(f.max.take(l.size), l) >= 0) &&
      hi.forall(h => KeyOrd.compare(f.min.take(h.size), h) <= 0)

  /** Files that may hold keys starting with `p`. */
  def prefix(p: Seq[Any]): FileEntry => Boolean = covering(Some(p), Some(p))

  /** Files that may hold a key starting with one of `keys` (tuples of one
    * length, a full key or a leading prefix): a binary search over the
    * sorted batch for the first tuple at or above the file's truncated
    * min, kept when it is at or below the truncated max. A plain
    * serializable function, like [[covering]].
    */
  def anyOf(keys: Seq[Seq[Any]]): FileEntry => Boolean = {
    val sorted = keys.sorted(KeyOrd).toVector
    val len = sorted.headOption.fold(0)(_.length)
    f => {
      val fmin = f.min.take(len)
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (KeyOrd.compare(sorted(mid), fmin) < 0) lo = mid + 1 else hi = mid
      }
      lo < sorted.length && KeyOrd.compare(sorted(lo), f.max.take(len)) <= 0
    }
  }

  /** Files lying STRICTLY inside the bounds: no row of theirs can fail an
    * inclusive or strict predicate on either bound.
    */
  def inside(lo: Option[Seq[Any]], hi: Option[Seq[Any]]): FileEntry => Boolean =
    f => lo.forall(l => KeyOrd.compare(f.min.take(l.size), l) > 0) &&
      hi.forall(h => KeyOrd.compare(f.max.take(h.size), h) < 0)

  /** The shortest prefix of `files` whose `counts` reach `n` (all of them
    * when they never do; none when `n <= 0`).
    */
  def prefix(files: Seq[FileEntry], n: Long,
             counts: FileEntry => Long = _.rows): Seq[FileEntry] = {
    var acc = 0L
    files.takeWhile { f => val need = acc < n; acc += counts(f); need }
  }

  /** Caps the PLAN LEAVES (legs) any stitched union or co-range join
    * materializes: beyond the cap, legs hold more rows instead of the
    * plan holding more children. The greedy [[cut]] only guarantees that
    * two ADJACENT legs together exceed the target, so a stitch has at
    * most 2·cap−1 legs and a merged co-range join, whose two sides each
    * contribute up to 2·cap−2 boundaries, at most 4·cap−3. Per-task MEMORY
    * stays bounded at any leg size — stitch legs sort within partitions
    * and the zip join merges through spillable local sorts — so what
    * grows is task duration, the right trade against a 100k-child union
    * Catalyst cannot plan (rule application and codegen are per-node).
    * Override with `spark.graft.maxPlanLegs` (e.g. up on a wide cluster
    * whose scheduler wants more concurrent tasks).
    */
  def maxPlanLegs: Int = {
    val raw = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.maxPlanLegs", "4096")
    val parsed =
      try raw.trim.toInt
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"spark.graft.maxPlanLegs must be an integer, got '$raw'") }
    math.max(1, parsed)
  }

  /** Per-leg row target: `perLeg`, floor-bounded so `rows` never cut into
    * more than [[maxPlanLegs]] legs' worth of targets, and at least 1.
    */
  def legTarget(rows: Long, perLeg: Long): Long = {
    val cap = maxPlanLegs.toLong
    math.max(1L, math.max(perLeg, (rows + cap - 1) / cap))
  }

  /** The same target for every leg. */
  def fixed(target: Long): (Int, Long) => Long = (_, _) => target

  /** A ramp: leg i targets `first`·4^i rows, clamped to `cap`. */
  def ramp(first: Long, cap: Long): (Int, Long) => Long = (i, _) => {
    val shift = 2L * i
    if (shift >= java.lang.Long.numberOfLeadingZeros(first)) cap
    else math.min(cap, first << shift)
  }

  /** Greedy cut of `files` (in scan order) into legs of adjacent files.
    * `target(i, done)` is leg i's row target, given the rows of the legs
    * before it; a leg closes before the next file would push it past its
    * target. A single file larger than the target is a leg of its own —
    * the floor, as everywhere in the manifest machinery.
    */
  def cut(files: Seq[FileEntry], target: (Int, Long) => Long): Seq[Seq[FileEntry]] = {
    val out = Seq.newBuilder[Seq[FileEntry]]
    var cur = Vector.empty[FileEntry]; var rows = 0L
    var legs = 0; var done = 0L; var t = target(0, 0L)
    files.foreach { f =>
      if (cur.nonEmpty && rows + f.rows > t) {
        out += cur; legs += 1; done += rows
        cur = Vector.empty; rows = 0L; t = target(legs, done)
      }
      cur :+= f; rows += f.rows
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  /** Join/probe boundaries: the first file of every leg but the first,
    * its min truncated to `kl` key components — a prefix boundary never
    * splits a join/equi group (the prefix convention routes the whole
    * group above it).
    */
  def boundaries(files: Seq[FileEntry], kl: Int, target: Long): Seq[Seq[Any]] =
    cut(files, fixed(target)).drop(1).map(_.head.min.take(kl))

  /** Half-open key ranges [b(i-1), b(i)) cut at `bounds` (sorted and
    * KeyOrd-deduped: Seq#distinct would miss binary keys' value
    * equality), the first unbounded below and the last above, so every
    * key lands in exactly one range; each comes with the `files` that
    * intersect it.
    */
  def ranges(bounds: Seq[Seq[Any]], files: Seq[FileEntry])
      : Seq[(Option[Seq[Any]], Option[Seq[Any]], Seq[FileEntry])] = {
    val bs = bounds.sorted(KeyOrd).foldLeft(Vector.empty[Seq[Any]]) { (acc, b) =>
      if (acc.nonEmpty && KeyOrd.compare(acc.last, b) == 0) acc else acc :+ b
    }
    val cover = sweep(files)
    (None +: bs.map(Option(_))).zip(bs.map(Option(_)) :+ None).map {
      case (lo, hi) => (lo, hi, cover(lo, hi))
    }
  }

  /** Covering files per range by a MONOTONIC SWEEP, not a filter per
    * range: `files` are manifest-ordered with disjoint ranges and the
    * ranges' lower bounds never decrease, so planning work is
    * O(files + ranges + Σ|covering|) where a filter per range would stall
    * planning at manifest scale.
    */
  private def sweep(files: Seq[FileEntry])
      : (Option[Seq[Any]], Option[Seq[Any]]) => Seq[FileEntry] = {
    val arr = files.toIndexedSeq
    var i = 0
    (lo, hi) => {
      // files wholly below this range can never cover a later one
      lo.foreach { l =>
        while (i < arr.length && KeyOrd.compare(arr(i).max, l) < 0) i += 1
      }
      var j = i
      val b = Seq.newBuilder[FileEntry]
      while (j < arr.length && hi.forall(h => KeyOrd.compare(arr(j).min, h) < 0)) {
        b += arr(j); j += 1
      }
      b.result()
    }
  }

  /** Union of one single-partition, locally-sorted scan per leg (legs in
    * scan order). Multiple parquet splits of one leg land in a single
    * coalesced partition in no contractual order, so the per-leg sort is
    * load-bearing; it never shuffles. Each leg rides the union-fusion
    * breaker: Spark 4's UnionExec would otherwise fuse the single-partition
    * legs into ONE serial task, losing the one-task-per-leg parallelism.
    */
  def stitch(ix: KVIndex, legs: Seq[Seq[FileEntry]], reverse: Boolean): DataFrame =
    legs.map { leg =>
      graft.plans.OrderedPlans.unfused(
        ix.store.readFiles(leg.map(_.path), ix.manifest)
          .coalesce(1)
          .sortWithinPartitions(ix.key.sortCols(reverse): _*))
    }.reduce(_ unionByName _)
}
