package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FileEntry, KeyOrd, LegPlanner}

/** The leg planner on seeded random manifests — key arity 1-3, pure
  * arithmetic, no SparkSession: legs, boundaries, ranges, the
  * covering test and the row-count prefix.
  */
class LegPlannerSpec extends AnyFunSuite {

  private val Dom = 0 until 4

  /** Every key tuple of the small domain, sorted. */
  private def keys(arity: Int): Seq[Seq[Any]] =
    (1 to arity).foldLeft(Seq(Seq.empty[Any]))((acc, _) =>
      for (k <- acc; v <- Dom) yield k :+ v)

  /** A manifest-ordered, pairwise-disjoint file list over the domain. */
  private def files(rnd: scala.util.Random, arity: Int): Seq[FileEntry] = {
    val ks = keys(arity).filter(_ => rnd.nextInt(3) > 0)
    val out = Seq.newBuilder[FileEntry]
    var rest = ks
    var i = 0
    while (rest.nonEmpty) {
      val (f, r) = rest.splitAt(1 + rnd.nextInt(4))
      out += FileEntry(s"f$i", if (rnd.nextInt(8) == 0) 20L + rnd.nextInt(40)
        else 1L + rnd.nextInt(10), f.head, f.last)
      rest = r; i += 1
    }
    out.result()
  }

  private def bound(rnd: scala.util.Random, arity: Int): Option[Seq[Any]] =
    if (rnd.nextInt(4) == 0) None
    else Some(Seq.fill(1 + rnd.nextInt(arity))(Dom(rnd.nextInt(Dom.size))))

  private def cmp(a: Seq[Any], b: Seq[Any]) = KeyOrd.compare(a, b)

  private def trials(f: (scala.util.Random, Int, Seq[FileEntry]) => Unit): Unit = {
    val rnd = new scala.util.Random(71)
    for (_ <- 1 to 300) {
      val arity = 1 + rnd.nextInt(3)
      f(rnd, arity, files(rnd, arity))
    }
  }

  test("legs concatenate back to the input and close only past their target") {
    trials { (rnd, _, fs) =>
      val first = 1L + rnd.nextInt(20)
      val total = fs.map(_.rows).sum
      val targets = Seq[(Int, Long) => Long](
        LegPlanner.fixed(first),
        LegPlanner.ramp(first, first * 8),
        (_, done) => math.max(1L, done))
      targets.foreach { target =>
        val legs = LegPlanner.cut(fs, target)
        assert(legs.flatten == fs)
        assert(legs.forall(_.nonEmpty))
        var done = 0L
        legs.zipWithIndex.foreach { case (leg, i) =>
          val t = target(i, done)
          val rows = leg.map(_.rows).sum
          if (leg.size >= 2) assert(rows <= t, s"leg $i: $rows rows > target $t")
          // greedy: the next leg's first file would have pushed this one past
          if (i + 1 < legs.size) assert(rows + legs(i + 1).head.rows > t)
          done += rows
        }
        assert(done == total)
      }
    }
  }

  test("ramp targets grow 4x per leg and clamp without overflow") {
    val r = LegPlanner.ramp(3L, 100L)
    assert((0 to 5).map(r(_, 0L)) == Seq(3L, 12L, 48L, 100L, 100L, 100L))
    val wide = LegPlanner.ramp(1L << 40, Long.MaxValue)
    assert((0 to 40).map(wide(_, 0L)).forall(_ > 0))
    assert(wide(40, 0L) == Long.MaxValue)
  }

  test("ranges cover (-inf, +inf) disjointly; the sweep returns exactly the intersecting files") {
    trials { (rnd, arity, fs) =>
      val kl = 1 + rnd.nextInt(arity)
      val target = 1L + rnd.nextInt(15)
      val bs = LegPlanner.boundaries(fs, kl, target)
      assert(bs.forall(_.size <= kl))
      // a second side's boundaries interleave, as for a co-range join
      val extra = Seq.fill(rnd.nextInt(4))(bound(rnd, arity).getOrElse(Seq(0)))
      val rs = LegPlanner.ranges(bs ++ extra, fs)
      assert(rs.head._1.isEmpty && rs.last._2.isEmpty)
      rs.zip(rs.tail).foreach { case (a, b) => assert(a._2.isDefined && a._2 == b._1) }
      val cuts = rs.tail.map(_._1.get)
      assert(cuts.zip(cuts.drop(1)).forall { case (a, b) => cmp(a, b) < 0 })
      // every key lands in exactly one range
      keys(arity).foreach { k =>
        val hits = rs.count { case (lo, hi, _) =>
          lo.forall(cmp(k, _) >= 0) && hi.forall(cmp(k, _) < 0) }
        assert(hits == 1, s"key $k in $hits ranges")
      }
      rs.foreach { case (lo, hi, got) =>
        val want = fs.filter(f => lo.forall(cmp(f.max, _) >= 0) && hi.forall(cmp(f.min, _) < 0))
        assert(got.map(_.path) == want.map(_.path))
      }
    }
  }

  test("boundaries are the heads of the cut's legs, truncated to kl") {
    trials { (rnd, arity, fs) =>
      val kl = 1 + rnd.nextInt(arity)
      val target = 1L + rnd.nextInt(15)
      assert(LegPlanner.boundaries(fs, kl, target) ==
        LegPlanner.cut(fs, LegPlanner.fixed(target)).drop(1).map(_.head.min.take(kl)))
    }
  }

  test("covering equals the truncated compare, is sound, and reduces to the head form") {
    trials { (rnd, arity, fs) =>
      val (lo, hi) = (bound(rnd, arity), bound(rnd, arity))
      val cover = LegPlanner.covering(lo, hi)
      val inside = LegPlanner.inside(lo, hi)
      fs.foreach { f =>
        assert(cover(f) == (lo.forall(l => cmp(f.max.take(l.size), l) >= 0) &&
          hi.forall(h => cmp(f.min.take(h.size), h) <= 0)))
        val held = keys(arity).filter(k => cmp(f.min, k) <= 0 && cmp(k, f.max) <= 0)
        val matching = held.filter(k => lo.forall(l => cmp(k.take(l.size), l) >= 0) &&
          hi.forall(h => cmp(k.take(h.size), h) <= 0))
        if (matching.nonEmpty) assert(cover(f), s"$f holds $matching")
        if (inside(f)) assert(held.forall(k =>
          lo.forall(l => cmp(k.take(l.size), l) > 0) &&
            hi.forall(h => cmp(k.take(h.size), h) < 0)))
        // length-1 bounds: the leading-component form every read site used
        val (l1, h1) = (lo.map(_.take(1)), hi.map(_.take(1)))
        assert(LegPlanner.covering(l1, h1)(f) ==
          (l1.forall(l => cmp(Seq(f.max.head), l) >= 0) &&
            h1.forall(h => cmp(Seq(f.min.head), h) <= 0)))
        lo.foreach(p => assert(LegPlanner.prefix(p)(f) == LegPlanner.covering(lo, lo)(f)))
      }
    }
  }

  test("prefix is the shortest prefix whose counted rows reach n") {
    trials { (rnd, _, fs) =>
      val total = fs.map(_.rows).sum
      val n = rnd.nextInt(total.toInt + 10).toLong - 2
      val counts: FileEntry => Long =
        if (rnd.nextBoolean()) _.rows else f => if (f.path.hashCode % 3 == 0) 0L else f.rows
      val p = LegPlanner.prefix(fs, n, counts)
      assert(fs.take(p.size) == p)
      val counted = p.map(counts).sum
      if (n <= 0) assert(p.isEmpty)
      else if (fs.map(counts).sum < n) assert(p == fs)
      else {
        assert(counted >= n)
        assert(p.init.map(counts).sum < n, "not minimal")
      }
    }
  }

  test("a plan-leg cap c bounds a stitch to 2c-1 legs, not c+1") {
    trials { (rnd, _, fs) =>
      val c = 1 + rnd.nextInt(10)
      val total = fs.map(_.rows).sum
      val legs = LegPlanner.cut(fs, LegPlanner.fixed(math.max(1L, (total + c - 1) / c)))
      assert(legs.size <= 2 * c - 1, s"${legs.size} legs at cap $c")
    }
    // the bound is reached: any two adjacent legs only have to EXCEED the
    // target together — five 3-row files at cap 3 (target 5) cut into 5
    val five = (0 until 5).map(i => FileEntry(s"f$i", 3L, Seq(2 * i), Seq(2 * i + 1)))
    assert(LegPlanner.cut(five, LegPlanner.fixed(5L)).size == 5)
    // legTarget floors the per-leg target at the cap's share and at 1
    assert(LegPlanner.legTarget(0L, 0L) == 1L)
    val cap = LegPlanner.maxPlanLegs.toLong
    assert(LegPlanner.legTarget(cap * 7, 3L) == math.max(3L, 7L))
  }
}
