package kvbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded closed-form data. The index is keyed `(tenant INT, seq BIGINT)`;
  * the base snapshot holds the even seqs `0, 2, .., 2*(seqs-1)` of every
  * tenant (odd seqs are free for fresh inserts). A row written by write
  * generation `gen` carries values that are a pure function of
  * `(seed, tenant, seq, gen)`, so every read can be checked against a
  * formula instead of a second copy of the data. Generation 0 is the
  * bootstrap; each later commit writes its own generation number.
  */
final class Gen(seed: Long, val tenants: Int, val seqs: Int) {
  require(tenants > 0 && seqs > 0)
  private val mix: Long = Math.floorMod(seed * 2654435761L + 97L, 1000003L)
  private val P = 2147483647L

  val rows: Long = tenants.toLong * seqs

  def v(t: Int, seq: Long, gen: Long): Long =
    Math.floorMod(t * 1000003L + seq * 7919L + gen * 104729L + mix, P)
  def amount(t: Int, seq: Long, gen: Long): Long = v(t, seq, gen) % 1000L
  def payload(t: Int, seq: Long, gen: Long): String = {
    val x = v(t, seq, gen)
    s"r$x-${Math.floorMod(x * 31L, 99991L)}-${Math.floorMod(x * 7L + gen, 9973L)}"
  }
  def tx(gen: Long): String = s"kvb-$gen"

  /** The same formulas as Spark columns, for generating large frames. */
  private def vCol(t: Column, seq: Column, gen: Column): Column =
    pmod(t.cast(LongType) * 1000003L + seq * 7919L + gen * 104729L + lit(mix), lit(P))
  def frame(t: Column, seq: Column, gen: Column): Seq[Column] = {
    val x = vCol(t, seq, gen)
    Seq(t.cast(IntegerType).as("tenant"), seq.cast(LongType).as("seq"),
      (x % 1000L).as("amount"),
      concat(lit("r"), x.cast(StringType), lit("-"),
        pmod(x * 31L, lit(99991L)).cast(StringType), lit("-"),
        pmod(x * 7L + gen, lit(9973L)).cast(StringType)).as("payload"),
      gen.cast(LongType).as("gen"))
  }

  /** The base snapshot: row `id` is tenant `id / seqs`, seq `2 * (id % seqs)`. */
  def base(spark: SparkSession): DataFrame = {
    val id = col("id")
    spark.range(rows).select(frame(id.divide(seqs).cast(LongType),
      pmod(id, lit(seqs.toLong)) * 2L, lit(0L)): _*)
  }

  val schema: StructType = StructType(Seq(
    StructField("tenant", IntegerType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("amount", LongType), StructField("payload", StringType),
    StructField("gen", LongType)))

  def row(t: Int, seq: Long, gen: Long): Row =
    Row(t, seq, amount(t, seq, gen), payload(t, seq, gen), gen)

  /** Local frame of explicit rows (small batches). */
  def rowsFrame(spark: SparkSession, keys: Seq[(Int, Long)], gen: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      keys.map { case (t, s) => row(t, s, gen) }: _*), schema)

  /** Sum of base `amount` per tenant, computed from the formula. */
  def baseTenantSums(): Array[Long] = Array.tabulate(tenants) { t =>
    var s = 0L; var j = 0
    while (j < seqs) { s += amount(t, 2L * j, 0L); j += 1 }
    s
  }
}

/** The expected content of one snapshot version: the closed-form base
  * plus every write since, as an override map (key -> generation, or
  * None for a removed key). Immutable, so each committed version keeps
  * its own model for time-travel checks.
  */
final class Model private (val g: Gen,
                           val over: scala.collection.immutable.TreeMap[(Int, Long), Option[Long]],
                           val tenantSum: Vector[Long], val tenantCnt: Vector[Long]) {
  import Model.K

  def isBase(k: K): Boolean = k._1 >= 0 && k._1 < g.tenants && k._2 >= 0 &&
    k._2 < 2L * g.seqs && (k._2 & 1L) == 0L
  def gen(k: K): Option[Long] = over.get(k) match {
    case Some(x) => x
    case None => if (isBase(k)) Some(0L) else None
  }
  def totalCount: Long = tenantCnt.sum
  def totalSum: Long = tenantSum.sum

  /** Apply one committed batch: key -> new generation, or None = removed. */
  def write(ws: Iterable[(K, Option[Long])]): Model = {
    val sum = tenantSum.toArray; val cnt = tenantCnt.toArray
    var o = over
    ws.foreach { case (k, ng) =>
      gen(k).foreach { og => sum(k._1) -= g.amount(k._1, k._2, og); cnt(k._1) -= 1 }
      ng.foreach { n => sum(k._1) += g.amount(k._1, k._2, n); cnt(k._1) += 1 }
      o = o.updated(k, ng)
    }
    new Model(g, o, sum.toVector, cnt.toVector)
  }

  private def baseAsc(lo: K, hi: K): Iterator[K] =
    Iterator.range(math.max(lo._1, 0), math.min(hi._1, g.tenants - 1) + 1).flatMap { t =>
      val from = if (t == lo._1) math.max(0L, lo._2 + (lo._2 & 1L)) else 0L
      val to = if (t == hi._1) math.min(hi._2, 2L * g.seqs - 2) else 2L * g.seqs - 2
      Iterator.iterate(from)(_ + 2L).takeWhile(_ <= to).map(s => (t, s))
    }
  private def baseDesc(lo: K, hi: K): Iterator[K] =
    Iterator.range(math.min(hi._1, g.tenants - 1), math.max(lo._1, 0) - 1, -1).flatMap { t =>
      val top = if (t == hi._1) math.min(hi._2 - (hi._2 & 1L), 2L * g.seqs - 2) else 2L * g.seqs - 2
      val bottom = if (t == lo._1) math.max(lo._2, 0L) else 0L
      Iterator.iterate(top)(_ - 2L).takeWhile(s => s >= bottom && s >= 0).map(s => (t, s))
    }

  /** Live keys with their generation in [lo, hi], ascending or descending. */
  def keys(lo: K, hi: K, desc: Boolean = false): Iterator[(K, Long)] = {
    val ord = implicitly[Ordering[K]]
    if (ord.gt(lo, hi)) return Iterator.empty
    val b = (if (desc) baseDesc(lo, hi) else baseAsc(lo, hi)).buffered
    val ov = over.range(lo, hi) ++ over.get(hi).map(hi -> _)
    val o = (if (desc) ov.toSeq.reverseIterator else ov.iterator).buffered
    val cmp: (K, K) => Int = if (desc) (x, y) => ord.compare(y, x) else ord.compare
    new Iterator[(K, Option[Long])] {
      def hasNext: Boolean = b.hasNext || o.hasNext
      def next(): (K, Option[Long]) =
        if (!o.hasNext) { val k = b.next(); (k, Some(0L)) }
        else if (!b.hasNext) o.next()
        else {
          val c = cmp(b.head, o.head._1)
          if (c < 0) { val k = b.next(); (k, Some(0L)) }
          else { if (c == 0) b.next(); o.next() }
        }
    }.collect { case (k, Some(gn)) => (k, gn) }
  }

  def count(lo: K, hi: K): Long = {
    val ord = implicitly[Ordering[K]]
    if (ord.gt(lo, hi)) return 0L
    var n = 0L
    var t = math.max(lo._1, 0)
    while (t <= math.min(hi._1, g.tenants - 1)) {
      val from = if (t == lo._1) math.max(0L, lo._2 + (lo._2 & 1L)) else 0L
      val to = if (t == hi._1) math.min(hi._2, 2L * g.seqs - 2) else 2L * g.seqs - 2
      if (to >= from) n += (to - from) / 2 + 1
      t += 1
    }
    (over.range(lo, hi) ++ over.get(hi).map(hi -> _)).foreach { case (k, ng) =>
      n += (if (ng.isDefined) 1 else 0) - (if (isBase(k)) 1 else 0)
    }
    n
  }
}

object Model {
  type K = (Int, Long)
  val Min: K = (Int.MinValue, Long.MinValue)
  val Max: K = (Int.MaxValue, Long.MaxValue)
  def base(g: Gen): Model = new Model(g, scala.collection.immutable.TreeMap.empty,
    g.baseTenantSums().toVector, Vector.fill(g.tenants)(g.seqs.toLong))
}
