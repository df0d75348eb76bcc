package graft.core

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, BinaryComparison, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.sources

/** A conjunction folded into one interval per key column: `lo`/`hi` as
  * (value, inclusive), `notNull` (some conjunct rejects a null there) and
  * the `residual` conjuncts the bounds do not decide exactly. The one
  * step from a SQL condition to the key bounds [[LegPlanner]] consumes —
  * the catalog scan's prune, DELETE, the view prune and every ordered,
  * top-k, prefix-cluster and count rewrite read it.
  *
  * Exact conjuncts: `=`, `<`, `<=`, `>`, `>=` of a key column against a
  * non-null literal (either side), and `IS NOT NULL`. `IN` (and `<=>`)
  * bound the column by their [min, max] hull and also stay residual. A
  * null literal never bounds. Values are in external form, normalized by
  * [[KeyOrd.normLiteral]].
  */
final case class KeyRange[C](lo: IndexedSeq[Option[KeyRange.Bound]],
                             hi: IndexedSeq[Option[KeyRange.Bound]],
                             notNull: IndexedSeq[Boolean],
                             residual: Seq[C]) {
  import KeyRange.Bound

  /** Whether any conjunct bounds key column `i` on either side. */
  def bounded(i: Int): Boolean = lo(i).isDefined || hi(i).isDefined

  /** The leading column's bound values, inclusivity dropped — an
    * inclusive over-approximation.
    */
  def lead: (Option[Any], Option[Any]) = (lo(0).map(_._1), hi(0).map(_._1))

  /** INCLUSIVE prune tuples for [[LegPlanner.covering]]: each side's
    * values over the CONSECUTIVE bounded columns from the lead (a bound
    * on k2 without one on k1 prunes nothing). Conjunctive bounds on a
    * key prefix imply the lexicographic ones, so no matching key lies
    * outside them.
    */
  def pruneTuple: (Option[Seq[Any]], Option[Seq[Any]]) = {
    def tuple(bs: IndexedSeq[Option[Bound]]) =
      Some(bs.takeWhile(_.isDefined).map(_.get._1)).filter(_.nonEmpty)
    (tuple(lo), tuple(hi))
  }

  /** The exact order interval of the key ordering, when there is one: no
    * residual, the constrained columns form a leading prefix of length
    * m ≥ 1, and every one of them but the last is pinned to a point.
    */
  def interval: Option[KeyRange.Interval] = {
    val m = notNull.takeWhile(identity).size
    if (residual.nonEmpty || m == 0 || notNull.drop(m).contains(true)) return None
    val points = (0 until m - 1).map { p =>
      (lo(p), hi(p)) match {
        case (Some((l, true)), Some((h, true))) if KeyOrd.compare(Seq(l), Seq(h)) == 0 => l
        case _ => return None
      }
    }
    // an absent bound on the last column is the points alone, inclusive:
    // every longer key prefix-equal to them lies inside
    def tuple(b: Option[Bound]) = b match {
      case Some((v, inc)) => Some((points :+ v, inc))
      case None => if (m == 1) None else Some((points, true))
    }
    Some(KeyRange.Interval(m, tuple(lo(m - 1)), tuple(hi(m - 1))))
  }

  /** Column `i`'s bounds as Catalyst predicates over `attr`. */
  def predicates(i: Int, attr: Expression): Seq[Expression] = {
    def lit(v: Any) = Literal.create(v, attr.dataType)
    lo(i).map { case (v, inc) =>
      if (inc) GreaterThanOrEqual(attr, lit(v)) else GreaterThan(attr, lit(v)) }.toSeq ++
      hi(i).map { case (v, inc) =>
        if (inc) LessThanOrEqual(attr, lit(v)) else LessThan(attr, lit(v)) }.toSeq
  }
}

object KeyRange {
  /** (value, inclusive). */
  type Bound = (Any, Boolean)

  /** An order interval over key tuples: `lo`/`hi` compare at the
    * truncated-tuple grain, ties at the cut honouring inclusivity (a
    * longer key prefix-equal to a bound shares the bound's last value).
    */
  final case class Interval(m: Int, lo: Option[(Seq[Any], Boolean)],
                            hi: Option[(Seq[Any], Boolean)]) {
    def aboveLo(k: Seq[Any]): Boolean = lo.forall { case (vs, inc) =>
      val c = KeyOrd.compare(k.take(vs.length), vs); c > 0 || (inc && c == 0) }
    def belowHi(k: Seq[Any]): Boolean = hi.forall { case (vs, inc) =>
      val c = KeyOrd.compare(k.take(vs.length), vs); c < 0 || (inc && c == 0) }
  }

  /** The tighter of two bounds on one side (`lower`: the higher value);
    * on equal values the exclusive bound is the tighter one.
    */
  def intersect(a: Option[Bound], b: Option[Bound], lower: Boolean): Option[Bound] =
    (a, b) match {
      case (Some((av, ai)), Some((bv, bi))) =>
        val c = KeyOrd.compare(Seq(av), Seq(bv))
        if (c == 0) Some((av, ai && bi))
        else if ((c > 0) == lower) a else b
      case _ => a.orElse(b)
    }

  /** The conjuncts of `e`: its `And` tree, flattened. */
  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** Folds Catalyst conjuncts (`And` trees are split) over `n` key
    * columns; `pos` maps an expression to the key column it is.
    */
  def of(conds: Seq[Expression], n: Int)(pos: Expression => Option[Int]): KeyRange[Expression] = {
    object Key { def unapply(e: Expression): Option[Int] = pos(e) }
    def value(l: Literal): Any =
      KeyOrd.normLiteral(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    object Lit {
      def unapply(e: Expression): Option[Any] = e match {
        case l: Literal if l.value != null => Some(value(l))
        case _ => None
      }
    }
    fold(n, conds.flatMap(conjuncts)) {
      case IsNotNull(Key(p)) => Some(Atom(p, None, None, exact = true))
      case b: BinaryComparison => (b.left, b.right) match {
        case (Key(p), Lit(v)) => compare(p, b.symbol, v)
        case (Lit(v), Key(p)) => compare(p, Flipped(b.symbol), v)
        case _ => None
      }
      case In(Key(p), list) if list.nonEmpty &&
          list.forall { case Lit(_) => true; case _ => false } =>
        hull(p, list.map { case Lit(v) => v })
      case s @ InSet(Key(p), hset) if hset.nonEmpty && !hset.contains(null) =>
        hull(p, hset.toSeq.map(v =>
          KeyOrd.normLiteral(CatalystTypeConverters.convertToScala(v, s.child.dataType))))
      case _ => None
    }
  }

  /** Folds V2 source filters (`And` trees are split, `AlwaysTrue` drops)
    * over the key columns named `keyCols`.
    */
  def ofFilters(filters: Seq[sources.Filter], keyCols: Seq[String]): KeyRange[sources.Filter] = {
    object Key { def unapply(c: String): Option[Int] = Some(keyCols.indexOf(c)).filter(_ >= 0) }
    def split(f: sources.Filter): Seq[sources.Filter] = f match {
      case sources.And(a, b) => split(a) ++ split(b)
      case sources.AlwaysTrue() => Nil
      case other => Seq(other)
    }
    def cmp(p: Int, op: String, v: Any) =
      if (v == null) None else compare(p, op, KeyOrd.normLiteral(v))
    fold(keyCols.size, filters.flatMap(split)) {
      case sources.IsNotNull(Key(p)) => Some(Atom(p, None, None, exact = true))
      case sources.EqualTo(Key(p), v) => cmp(p, "=", v)
      case sources.EqualNullSafe(Key(p), v) => cmp(p, "<=>", v)
      case sources.GreaterThan(Key(p), v) => cmp(p, ">", v)
      case sources.GreaterThanOrEqual(Key(p), v) => cmp(p, ">=", v)
      case sources.LessThan(Key(p), v) => cmp(p, "<", v)
      case sources.LessThanOrEqual(Key(p), v) => cmp(p, "<=", v)
      case sources.In(Key(p), vs) if vs.nonEmpty && !vs.contains(null) =>
        hull(p, vs.toSeq.map(KeyOrd.normLiteral))
      case _ => None
    }
  }

  /** What one conjunct says about key column `pos`; `exact` when the
    * bounds (and the null rejection every such conjunct implies) are the
    * whole of it.
    */
  private final case class Atom(pos: Int, lo: Option[Bound], hi: Option[Bound], exact: Boolean)

  private val Flipped =
    Map("=" -> "=", "<=>" -> "<=>", ">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=")

  /** `key op v` for a non-null `v`; `<=>` bounds like `=` but stays
    * residual.
    */
  private def compare(p: Int, op: String, v: Any): Option[Atom] = op match {
    case "=" => Some(Atom(p, Some((v, true)), Some((v, true)), exact = true))
    case "<=>" => Some(Atom(p, Some((v, true)), Some((v, true)), exact = false))
    case ">" => Some(Atom(p, Some((v, false)), None, exact = true))
    case ">=" => Some(Atom(p, Some((v, true)), None, exact = true))
    case "<" => Some(Atom(p, None, Some((v, false)), exact = true))
    case "<=" => Some(Atom(p, None, Some((v, true)), exact = true))
    case _ => None
  }

  private def hull(p: Int, vs: Seq[Any]): Option[Atom] = {
    val ord = KeyOrd.on[Any](Seq(_))
    Some(Atom(p, Some((vs.min(ord), true)), Some((vs.max(ord), true)), exact = false))
  }

  private def fold[C](n: Int, conjuncts: Seq[C])(atom: C => Option[Atom]): KeyRange[C] = {
    val lo = Array.fill[Option[Bound]](n)(None)
    val hi = Array.fill[Option[Bound]](n)(None)
    val notNull = Array.fill(n)(false)
    val residual = Seq.newBuilder[C]
    conjuncts.foreach { c =>
      atom(c) match {
        case Some(a) =>
          lo(a.pos) = intersect(lo(a.pos), a.lo, lower = true)
          hi(a.pos) = intersect(hi(a.pos), a.hi, lower = false)
          notNull(a.pos) = true
          if (!a.exact) residual += c
        case None => residual += c
      }
    }
    KeyRange(lo.toIndexedSeq, hi.toIndexedSeq, notNull.toIndexedSeq, residual.result())
  }
}
