package graft

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{FileEntry, KeyOrd, KeyRange, LegPlanner}

/** The key-range fold on seeded random conjunctions over 1-3 key columns
  * of int, long, string and timestamp, plus one non-key column — no
  * SparkSession: Catalyst evaluates each conjunction over every key of a
  * small domain (nulls included), and the fold's readers must agree.
  */
class KeyRangeSpec extends AnyFunSuite {

  private val Types: Seq[DataType] = Seq(IntegerType, LongType, StringType, TimestampType)
  private val Dom = 0 until 5
  private val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Domain index -> value; indices outside the domain make bounds that
    * cut nothing or everything.
    */
  private def value(dt: DataType, i: Int): Any = dt match {
    case IntegerType => i
    case LongType => i * 1000L
    case StringType => s"k$i"
    case TimestampType => new java.sql.Timestamp(T0 + i * 3600000L)
  }

  /** One conjunct in both forms: Catalyst over `attrs`, V2 by name. */
  private def conjunct(rnd: scala.util.Random, attrs: Seq[AttributeReference])
      : (Expression, sources.Filter) = {
    val key = rnd.nextInt(attrs.size + 1) < attrs.size
    val a = if (key) attrs(rnd.nextInt(attrs.size - 1)) else attrs.last
    def v() = if (rnd.nextInt(12) == 0) null else value(a.dataType, rnd.nextInt(7) - 1)
    def lit(x: Any) = Literal.create(x, a.dataType)
    rnd.nextInt(9) match {
      case 0 => (IsNotNull(a), sources.IsNotNull(a.name))
      case 1 =>
        val vs = Seq.fill(1 + rnd.nextInt(3))(v())
        (In(a, vs.map(lit)), sources.In(a.name, vs.toArray))
      case 2 => val x = v(); (EqualNullSafe(a, lit(x)), sources.EqualNullSafe(a.name, x))
      case op =>
        val x = v()
        val flip = rnd.nextBoolean()
        val (l, r) = if (flip) (lit(x), a) else (a, lit(x))
        // the V2 form always puts the column first: a flipped comparison
        // reads as its mirror
        op match {
          case 3 => (EqualTo(l, r), sources.EqualTo(a.name, x))
          case 4 => (LessThan(l, r),
            if (flip) sources.GreaterThan(a.name, x) else sources.LessThan(a.name, x))
          case 5 => (LessThanOrEqual(l, r),
            if (flip) sources.GreaterThanOrEqual(a.name, x) else sources.LessThanOrEqual(a.name, x))
          case 6 => (GreaterThan(l, r),
            if (flip) sources.LessThan(a.name, x) else sources.GreaterThan(a.name, x))
          case _ => (GreaterThanOrEqual(l, r),
            if (flip) sources.LessThanOrEqual(a.name, x) else sources.GreaterThanOrEqual(a.name, x))
        }
    }
  }

  private final class Case(val attrs: Seq[AttributeReference], val conj: Seq[Expression],
                           val filters: Seq[sources.Filter], val rows: Seq[Seq[Any]]) {
    val keyAttrs: Seq[AttributeReference] = attrs.init
    val range: KeyRange[Expression] = KeyRange.of(conj, keyAttrs.size) {
      case a: AttributeReference => Some(keyAttrs.indexWhere(_.exprId == a.exprId)).filter(_ >= 0)
      case _ => None
    }
    private val bound = BindReferences.bindReference(conj.reduce(And(_, _)), attrs)
    private val toCatalyst = attrs.map(a => CatalystTypeConverters.createToCatalystConverter(a.dataType))
    /** SQL semantics: a NULL condition keeps no row. */
    def holds(row: Seq[Any]): Boolean =
      bound.eval(InternalRow.fromSeq(row.zip(toCatalyst).map { case (x, c) => c(x) })) == true
  }

  private def trials(f: Case => Unit): Unit = {
    val rnd = new scala.util.Random(97)
    for (_ <- 1 to 400) {
      val arity = 1 + rnd.nextInt(3)
      val attrs = (0 until arity).map(i =>
        AttributeReference(s"k$i", Types(rnd.nextInt(Types.size)))()) :+
        AttributeReference("v", IntegerType)()
      val cs = Seq.fill(1 + rnd.nextInt(4))(conjunct(rnd, attrs))
      val keys = attrs.init.foldLeft(Seq(Seq.empty[Any])) { (acc, a) =>
        for (k <- acc; i <- -1 +: Dom) yield k :+ (if (i < 0) null else value(a.dataType, i))
      }
      val rows = keys.map(_ :+ rnd.nextInt(5))
      f(new Case(attrs, cs.map(_._1), cs.map(_._2), rows))
    }
  }

  private def within(x: Any, lo: Option[KeyRange.Bound], hi: Option[KeyRange.Bound]): Boolean =
    lo.forall { case (l, inc) => val c = KeyOrd.compare(Seq(x), Seq(l)); c > 0 || (inc && c == 0) } &&
      hi.forall { case (h, inc) => val c = KeyOrd.compare(Seq(x), Seq(h)); c < 0 || (inc && c == 0) }

  test("every key satisfying the conjunction lies inside the prune tuple and the lead bounds") {
    var satisfied = 0
    trials { c =>
      val (lo, hi) = c.range.pruneTuple
      val covering = LegPlanner.covering(lo, hi)
      c.rows.filter(c.holds).foreach { row =>
        satisfied += 1
        val k = row.init
        assert(covering(FileEntry("f", 1L, k, k)), s"${c.conj} drops $k by $lo..$hi")
        assert(within(k.head, c.range.lo(0), c.range.hi(0)), s"${c.conj} lead bounds drop $k")
        val (l0, h0) = c.range.lead
        assert(l0.forall(l => KeyOrd.compare(Seq(k.head), Seq(l)) >= 0) &&
          h0.forall(h => KeyOrd.compare(Seq(k.head), Seq(h)) <= 0))
      }
    }
    assert(satisfied > 1000, s"too few satisfying keys to mean anything: $satisfied")
  }

  test("with no residual the bounds, and the order interval when there is one, decide membership exactly") {
    var exact = 0; var intervals = 0
    trials { c =>
      if (c.range.residual.isEmpty) {
        exact += 1
        c.rows.foreach { row =>
          val k = row.init
          val inBox = k.indices.forall(i =>
            (!c.range.notNull(i) || k(i) != null) &&
              (k(i) == null || within(k(i), c.range.lo(i), c.range.hi(i))))
          assert(c.holds(row) == inBox, s"${c.conj} on $k: box says $inBox")
        }
        c.range.interval.foreach { iv =>
          intervals += 1
          // the interval is exact over keys non-null where constrained:
          // null-bearing files are scanned, never counted from bounds
          c.rows.filter(_.take(iv.m).forall(_ != null)).foreach { row =>
            assert(c.holds(row) == (iv.aboveLo(row.init) && iv.belowHi(row.init)),
              s"${c.conj} on ${row.init}: interval $iv")
          }
        }
      } else assert(c.range.interval.isEmpty)
    }
    assert(exact > 40 && intervals > 20, s"exact $exact, intervals $intervals")
  }

  test("the Catalyst and V2-filter forms of one conjunction give equal bounds") {
    trials { c =>
      val v2 = KeyRange.ofFilters(c.filters, c.keyAttrs.map(_.name))
      def same(a: Option[KeyRange.Bound], b: Option[KeyRange.Bound]) = (a, b) match {
        case (Some((x, i)), Some((y, j))) => KeyOrd.compare(Seq(x), Seq(y)) == 0 && i == j
        case _ => a.isEmpty && b.isEmpty
      }
      c.keyAttrs.indices.foreach { i =>
        assert(same(c.range.lo(i), v2.lo(i)) && same(c.range.hi(i), v2.hi(i)),
          s"${c.conj} vs ${c.filters}: column $i")
        assert(c.range.notNull(i) == v2.notNull(i))
      }
      assert(c.range.residual.size == v2.residual.size)
    }
  }
}
