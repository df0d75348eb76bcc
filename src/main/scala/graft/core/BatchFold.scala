package graft.core

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The write path's keyed pass over a whole command batch
  * ([[KVIndex.execute]]): a fixed number of Spark jobs, whatever the
  * number of commands.
  *
  * Validation ([[run]]): every command's key and `expectedVersion`
  * columns, tagged with the command index, and the touched rows' (key,
  * version) for those keys group by key in ONE aggregate, and a fold over
  * each key's tags in command order replays the batch on that key alone.
  * A key's state before command i depends only on the earlier commands
  * that touch the same key, so the per-key replays give exactly what a
  * command-at-a-time fold over the whole touched range gives: the first
  * failing command is the least command any key fails at, and each
  * command's row-count delta is the sum of its per-key deltas. Each
  * partition folds into one bounded [[BatchFold.Summary]]; only those
  * reach the driver.
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

  /** Per-command row-count deltas, and the least failing command with at
    * most [[MaxKeys]] keys per error kind — mergeable across partitions.
    */
  final class Summary(n: Int) extends Serializable {
    val deltas = new Array[Long](n)
    var errCmd: Int = Int.MaxValue
    val errKeys: Array[Vector[String]] = Array.fill(4)(Vector.empty)

    def fail(cmd: Int, kind: Int, key: String, times: Int): Unit = {
      if (cmd < errCmd) { errCmd = cmd; errKeys.indices.foreach(errKeys(_) = Vector.empty) }
      if (cmd == errCmd)
        errKeys(kind) = (errKeys(kind) ++ Vector.fill(math.min(times, MaxKeys))(key)).take(MaxKeys)
    }

    def merge(o: Summary): Summary = {
      deltas.indices.foreach(c => deltas(c) += o.deltas(c))
      for (k <- errKeys.indices; key <- o.errKeys(k)) fail(o.errCmd, k, key, 1)
      this
    }

    def error: Option[GraftError] = {
      val Array(dup, clash, missing, stale) = errKeys
      if (errCmd == Int.MaxValue) None
      else if (dup.nonEmpty) Some(GraftError.DuplicatedKeys(dup))
      else if (clash.nonEmpty) Some(GraftError.KeyAlreadyExists(clash))
      else if (missing.nonEmpty) Some(GraftError.KeyNotFound(missing))
      else Some(GraftError.VersionChanged(stale))
    }
  }

  private val summaryEncoder: Encoder[Summary] = Encoders.javaSerialization[Summary]

  private def kindOf(c: Command): Int = c match {
    case Command.Insert(_, upsert) => if (upsert) Upsert else Insert
    case _: Command.Update => Update
    case _: Command.Remove => Remove
  }

  /** Grouping column that keeps null-component keys apart per command. */
  private def nullGroup(key: KeySpec): Column =
    when(key.cols.map(c => col(c).isNull).reduce(_ || _), col("_cmd"))

  /** Validate the batch against `cur` (the touched rows): the
    * reference-ordered error of its first failing command, else each
    * command's row-count delta. Only the touched rows whose key the batch
    * names join the fold (a semi-join, broadcast for batch-sized inputs),
    * so one small aggregate and one collect of the summaries follow.
    */
  def run(cmds: Seq[Command], cur: DataFrame, key: KeySpec,
          tx: String): Either[GraftError, Seq[Long]] = {
    val n = cmds.size
    val kinds = cmds.map(kindOf).toArray
    val kcols = key.cols.map(col)
    val keyStr = concat_ws("/", key.cols.map(c => col(c).cast("string")): _*)
    val noString = lit(null).cast("string")
    val tags = cmds.zipWithIndex.map { case (c, i) =>
      val ev =
        if (kinds(i) >= Update && c.rows.columns.contains("expectedVersion"))
          col("expectedVersion").cast("string")
        else noString
      c.rows.select(kcols :+ lit(i).as("_cmd") :+ ev.as("_ev") :+ keyStr.as("_ks"): _*)
    }
    val tagged = tags.reduce(_ unionByName _)
    val held = cur.join(tagged.select(kcols: _*), key.cols, "left_semi")
      .select(kcols :+ lit(-1).as("_cmd") :+ col("version").as("_ev") :+ noString.as("_ks"): _*)
    val parts = tagged.unionByName(held)
      .groupBy(kcols :+ nullGroup(key).as("_g"): _*)
      .agg(collect_list(struct("_cmd", "_ev", "_ks")).as("_ops"))
      .select("_ops")
      .mapPartitions { it =>
        val s = new Summary(n)
        it.foreach(r => foldKey(r.getSeq[Row](0), kinds, tx, s))
        Iterator(s)
      }(summaryEncoder)
      .collect()
    val s = parts.foldLeft(new Summary(n))(_ merge _)
    s.error.toLeft(s.deltas.toSeq)
  }

  /** Replay the batch on one key: `tags` are its (command, expected or
    * held version, key string) rows, held rows carrying command -1.
    */
  private def foldKey(tags: Seq[Row], kinds: Array[Int], tx: String, s: Summary): Unit = {
    val ops = tags.sortBy(_.getInt(0))
    var versions: List[String] = Nil
    var i = 0
    while (i < ops.length && ops(i).getInt(0) < 0) { versions ::= ops(i).getString(1); i += 1 }
    while (i < ops.length) {
      val cmd = ops(i).getInt(0)
      var j = i + 1
      while (j < ops.length && ops(j).getInt(0) == cmd) j += 1
      val rows = j - i
      val k = ops(i).getString(2)
      val held = versions.length
      // (expected, held) version pairs that differ — the stale probe's join
      def stalePairs: Int = (i until j).iterator.map(r => ops(r).getString(1))
        .filter(_ != null).map(ev => versions.count(v => v != null && v != ev)).sum
      var failed = false
      def fail(kind: Int, times: Int): Unit =
        if (times > 0) { s.fail(cmd, kind, k, times); failed = true }
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
    * column is cast to its type: the union with batch rows widens, and the
    * files must hold the manifest's types. Under ANSI mode an out-of-range
    * narrowing fails the write instead of storing a wrapped value.
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
    schema.fold(next)(s => next.select(s.map(f => col(f.name).cast(f.dataType).as(f.name)): _*))
  }
}
