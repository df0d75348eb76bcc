package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.StructType

/** The write path's keyed pass over a whole command batch
  * ([[KVIndex.execute]]), on Spark or on the driver, with one kernel.
  *
  * Validation: every command's key and `expectedVersion` columns, tagged
  * with the command index ([[tags]]), and the touched rows' (key, version)
  * for those keys group by key, and a fold over each key's tags in command
  * order ([[foldKey]]) replays the batch on that key alone. A key's state
  * before command i depends only on the earlier commands that touch the
  * same key, so the per-key replays give exactly what a command-at-a-time
  * fold over the whole touched range gives: the first failing command is
  * the least command any key fails at, and each command's row-count delta
  * is the sum of its per-key deltas. The replays fold into one bounded
  * [[BatchFold.Summary]].
  *
  * [[run]] groups in ONE Spark aggregate and folds each partition into a
  * summary; only those reach the driver, so the pass costs a fixed number
  * of jobs whatever the command count. [[OnDriver]] groups rows the driver
  * already holds (a batch and touched files below
  * [[LocalScan.BudgetBytes]]) and runs no job. Both compare keys as Spark
  * groups them (NaN and -0.0 folded), and both report error keys in key
  * order, so the two tiers give the same result.
  *
  * Keys with a null component never match another row, as in the SQL
  * joins the write path is specified by: they group per command, so an
  * insert of a null key never clashes and an update or remove of one is
  * reported missing.
  */
private[core] object BatchFold {
  // error kinds, in the reference's report order within one command:
  // intra-batch duplicate (Index.scala:285-288), existing key on a plain
  // insert (Leaf.scala:41-43), missing key (Leaf.scala:58-60), stale
  // expected version (Leaf.scala:62-72)
  private final val Dup = 0
  private final val Clash = 1
  private final val Missing = 2
  private final val Stale = 3
  private final val MaxKeys = 5

  private final val Insert = 0
  private final val Upsert = 1
  private final val Update = 2
  private final val Remove = 3

  /** Per-command row-count deltas, and the least failing command with its
    * least [[MaxKeys]] keys (in key order) per error kind — mergeable
    * across partitions in any order.
    */
  final class Summary(n: Int) extends Serializable {
    val deltas = new Array[Long](n)
    var errCmd: Int = Int.MaxValue
    val errKeys: Array[Vector[(Seq[Any], String)]] = Array.fill(4)(Vector.empty)

    def fail(cmd: Int, kind: Int, key: Seq[Any], ks: String, times: Int): Unit = {
      if (cmd < errCmd) { errCmd = cmd; errKeys.indices.foreach(errKeys(_) = Vector.empty) }
      if (cmd == errCmd)
        errKeys(kind) = (errKeys(kind) ++ Vector.fill(math.min(times, MaxKeys))(key -> ks))
          .sortBy(_._1)(KeyOrd).take(MaxKeys)
    }

    def merge(o: Summary): Summary = {
      deltas.indices.foreach(c => deltas(c) += o.deltas(c))
      for (k <- errKeys.indices; (key, ks) <- o.errKeys(k)) fail(o.errCmd, k, key, ks, 1)
      this
    }

    def outcome: Either[GraftError, Seq[Long]] = {
      val Array(dup, clash, missing, stale) = errKeys.map(_.map(_._2))
      if (errCmd == Int.MaxValue) Right(deltas.toSeq)
      else if (dup.nonEmpty) Left(GraftError.DuplicatedKeys(dup))
      else if (clash.nonEmpty) Left(GraftError.KeyAlreadyExists(clash))
      else if (missing.nonEmpty) Left(GraftError.KeyNotFound(missing))
      else Left(GraftError.VersionChanged(stale))
    }
  }

  /** One row of a key's replay: its command (-1 for a held row), the
    * expected version (a held row's version) and the key as a string.
    */
  final case class Tag(cmd: Int, ev: String, ks: String)

  private val summaryEncoder: Encoder[Summary] = Encoders.javaSerialization[Summary]

  private def kindOf(c: Command): Int = c match {
    case Command.Insert(_, upsert) => if (upsert) Upsert else Insert
    case _: Command.Update => Update
    case _: Command.Remove => Remove
  }

  private def noString: Column = lit(null).cast("string")

  /** Grouping column that keeps null-component keys apart per command. */
  private def nullGroup(key: KeySpec): Column =
    when(key.cols.map(c => col(c).isNull).reduce(_ || _), col("_cmd"))

  /** The batch's validation rows, one frame per command: its key columns,
    * then the command index `_cmd`, the expected version `_ev` (null for
    * inserts and for rows without an `expectedVersion` column) and the key
    * as a string `_ks`. Only key and `expectedVersion` columns are read.
    */
  def tags(cmds: Seq[Command], key: KeySpec): Seq[DataFrame] = {
    val keyStr = concat_ws("/", key.cols.map(c => col(c).cast("string")): _*)
    cmds.zipWithIndex.map { case (c, i) =>
      val ev =
        if (kindOf(c) >= Update && c.rows.columns.contains("expectedVersion"))
          col("expectedVersion").cast("string")
        else noString
      c.rows.select(key.cols.map(col) :+ lit(i).as("_cmd") :+ ev.as("_ev") :+ keyStr.as("_ks"): _*)
    }
  }

  /** Each writing command's rows as key and value columns plus `_cmd` —
    * the only read of value columns, so it runs after validation passed.
    * None when every command is a remove.
    */
  def written(cmds: Seq[Command], key: KeySpec, valueCols: Seq[String]): Option[DataFrame] =
    cmds.zipWithIndex.collect { case (c, i) if kindOf(c) != Remove =>
      c.rows.select((key.cols ++ valueCols).map(col) :+ lit(i).as("_cmd"): _*)
    }.reduceOption(_ unionByName _)

  /** Validate the batch on Spark: `tagged` ([[tags]], as one frame)
    * against `cur` (the touched rows). The reference-ordered error of its
    * first failing command, else each command's row-count delta. Only the
    * touched rows whose key the batch names join the fold (a semi-join,
    * broadcast for batch-sized inputs), so one small aggregate and one
    * collect of the summaries follow.
    */
  def run(cmds: Seq[Command], tagged: DataFrame, cur: DataFrame, key: KeySpec,
          tx: String): Either[GraftError, Seq[Long]] = {
    val n = cmds.size
    val kinds = cmds.map(kindOf).toArray
    val nk = key.cols.size
    val kcols = key.cols.map(col)
    val held = cur.join(tagged.select(kcols: _*), key.cols, "left_semi")
      .select(kcols :+ lit(-1).as("_cmd") :+ col("version").as("_ev") :+ noString.as("_ks"): _*)
    val parts = tagged.unionByName(held)
      .groupBy(kcols :+ nullGroup(key).as("_g"): _*)
      .agg(collect_list(struct("_cmd", "_ev", "_ks")).as("_ops"))
      .select(kcols :+ col("_ops"): _*)
      .mapPartitions { it =>
        val s = new Summary(n)
        it.foreach(r => foldKey(r.toSeq.take(nk),
          r.getSeq[Row](nk).map(t => Tag(t.getInt(0), t.getString(1), t.getString(2))), kinds, tx, s))
        Iterator(s)
      }(summaryEncoder)
      .collect()
    parts.foldLeft(new Summary(n))(_ merge _).outcome
  }

  /** Replay the batch on one key: `tags` are its rows in batch order, held
    * rows carrying command -1; `key` is its (normalized) value, which
    * orders the reported keys.
    */
  private def foldKey(key: Seq[Any], tags: Seq[Tag], kinds: Array[Int], tx: String,
                      s: Summary): Unit = {
    val ops = tags.sortBy(_.cmd)
    var versions: List[String] = Nil
    var i = 0
    while (i < ops.length && ops(i).cmd < 0) { versions ::= ops(i).ev; i += 1 }
    while (i < ops.length) {
      val cmd = ops(i).cmd
      var j = i + 1
      while (j < ops.length && ops(j).cmd == cmd) j += 1
      val rows = j - i
      val k = ops(i).ks
      val held = versions.length
      // (expected, held) version pairs that differ — the stale probe's join
      def stalePairs: Int = (i until j).iterator.map(r => ops(r).ev)
        .filter(_ != null).map(ev => versions.count(v => v != null && v != ev)).sum
      var failed = false
      def fail(kind: Int, times: Int): Unit =
        if (times > 0) { s.fail(cmd, kind, key, k, times); failed = true }
      kinds(cmd) match {
        case Insert | Upsert =>
          if (rows > 1) fail(Dup, 1)
          if (kinds(cmd) == Insert && held > 0) fail(Clash, rows)
        case Update =>
          if (rows > 1) fail(Dup, 1)
          if (held == 0) fail(Missing, rows) else fail(Stale, stalePairs)
        case Remove =>
          if (held == 0) fail(Missing, rows) else fail(Stale, stalePairs)
      }
      if (failed) return
      if (kinds(cmd) == Remove) { s.deltas(cmd) -= held; versions = Nil }
      else { s.deltas(cmd) += 1 - held; versions = tx :: Nil }
      i = j
    }
  }

  /** The touched range after a validated batch: `cur` rows whose key no
    * command names (an anti-join, broadcast for batch-sized inputs, so the
    * touched range is not shuffled before the write), plus each key's last
    * writer among the batch rows — the stamped rows of the command that
    * writes the key last, or nothing when that is a remove. Value columns
    * are first evaluated here. With a `schema` (the manifest's) every
    * column is cast to its type ([[castTo]]).
    */
  def lastWriters(cmds: Seq[Command], cur: DataFrame, key: KeySpec,
                  valueCols: Seq[String], tx: String,
                  schema: Option[StructType]): DataFrame = {
    val kcols = key.cols.map(col)
    val written = cmds.zipWithIndex.map {
      case (Command.Remove(rows), i) =>
        rows.select(kcols ++ valueCols.map(c => lit(null).cast(cur.schema(c).dataType).as(c)) ++
          Seq(lit(null).cast("string").as("version"), lit(i).as("_cmd"), lit(true).as("_del")): _*)
      case (c, i) =>
        c.rows.select(kcols ++ valueCols.map(col) ++
          Seq(lit(tx).as("version"), lit(i).as("_cmd"), lit(false).as("_del")): _*)
    }
    val kept = cur.join(cmds.map(_.rows.select(kcols: _*)).reduce(_ unionByName _),
      key.cols, "left_anti")
    val next = kept.unionByName(written.reduce(_ unionByName _)
      .withColumn("_last", max("_cmd").over(Window.partitionBy(kcols :+ nullGroup(key): _*)))
      .filter(col("_cmd") === col("_last") && !col("_del"))
      .drop("_cmd", "_del", "_last"))
    schema.fold(next)(castTo(next, _))
  }

  /** `next` cast column by column to `schema` (the manifest's): the union
    * with batch rows widens, and the files must hold the manifest's types.
    * Under ANSI mode an out-of-range narrowing fails the write instead of
    * storing a wrapped value — on the driver too, where the cast is
    * evaluated while the plan folds to a local relation.
    */
  private def castTo(next: DataFrame, schema: StructType): DataFrame =
    next.select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** [[run]] and [[lastWriters]] over rows the driver holds, with the same
    * kernel: `tagged` is [[tags]]' rows as one relation and `cur` the
    * touched rows, both with the key columns first and of the same types.
    * Keys group in a hash map of their normalized [[UnsafeRow]]s (NaN and
    * -0.0 folded, as Spark's grouping and join keys are); a key with a null
    * component groups per command.
    */
  final class OnDriver(cmds: Seq[Command], tagged: LocalRelation, val cur: LocalRelation,
                       key: KeySpec, tx: String) {
    private val nk = key.cols.size
    private val keySchema = StructType(cur.schema.take(nk))
    private val normKey = UnsafeProjection.create(keySchema.fields.toSeq.zipWithIndex.map {
      case (f, i) => Shim.normalizeFloats(BoundReference(i, f.dataType, nullable = true))
    })
    private def str(r: InternalRow, i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString

    // every named key's tags in batch order; a null-component key's group
    // also carries its command
    private val groups = new java.util.LinkedHashMap[(UnsafeRow, Int), ArrayBuffer[Tag]]()
    tagged.data.foreach { r =>
      val k = normKey(r).copy()
      val cmd = r.getInt(nk)
      groups.computeIfAbsent((k, if (k.anyNull) cmd else -1), _ => ArrayBuffer.empty[Tag]) +=
        Tag(cmd, str(r, nk + 1), str(r, nk + 2))
    }

    /** The reference-ordered error of the first failing command, else each
      * command's row-count delta — [[run]]'s answer.
      */
    lazy val outcome: Either[GraftError, Seq[Long]] = {
      val version = cur.output.indexWhere(_.name == "version")
      cur.data.foreach { r =>
        val k = normKey(r)
        if (!k.anyNull) Option(groups.get((k, -1))).foreach(_ += Tag(-1, str(r, version), null))
      }
      val kinds = cmds.map(kindOf).toArray
      val toScala = CatalystTypeConverters.createToScalaConverter(keySchema)
      val s = new Summary(cmds.size)
      groups.forEach((g, ts) =>
        foldKey(toScala(g._1).asInstanceOf[Row].toSeq, ts.toSeq, kinds, tx, s))
      s.outcome
    }

    /** [[lastWriters]] over `written` ([[BatchFold.written]]'s rows): the
      * touched rows whose key no command names, plus each writing
      * command's rows for the keys it writes last, stamped with the batch
      * version and cast to `schema`. The frame folds to one local relation.
      */
    def next(spark: SparkSession, written: Option[LocalRelation], valueCols: Seq[String],
             schema: StructType): DataFrame = {
      // each named key's last command, a remove included
      val last = new java.util.HashMap[UnsafeRow, Integer]()
      groups.forEach((g, ts) => if (g._2 < 0) last.put(g._1, ts.map(_.cmd).max))
      val kept = Shim.ofRows(spark, cur.copy(data = cur.data.filter { r =>
        val k = normKey(r)
        k.anyNull || !last.containsKey(k)
      }))
      val next = written.fold(kept) { w =>
        val cmdAt = w.output.size - 1
        val wrote = w.copy(data = w.data.filter { r =>
          val k = normKey(r)
          k.anyNull || last.get(k) == r.getInt(cmdAt)
        })
        kept.unionByName(Shim.ofRows(spark, wrote)
          .select((key.cols ++ valueCols).map(col) :+ lit(tx).as("version"): _*))
      }
      castTo(next, schema)
    }
  }
}
