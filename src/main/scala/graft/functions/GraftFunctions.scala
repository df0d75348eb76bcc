package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the engine's kernels: register once, then every kernel
  * is callable from `spark.sql` — e.g.
  * `SELECT cosine_sim(a.embedding, b.embedding) FROM ...`.
  *
  * Two ways to get the functions:
  *  - [[register]] on a live session (temp functions);
  *  - [[GraftExtensions]] via `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (the `SparkSessionExtensions` injection point, so a cluster config
  *    can enable them without code).
  *
  * Catalyst rules and planner strategies are not part of either: they
  * install themselves through [[graft.sources.GraftRules]].
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => kernels.CosineSim(es(0), es(1))),
    "dot_f" -> (es => kernels.DotF(es(0), es(1))),
    "simhash64" -> (es => kernels.SimHash64(es(0))),
    "minhash_sig" -> (es => kernels.MinHashSig(es(0), intArg(es(1), "k"))),
    "lsh_band_keys" -> (es => kernels.BandKeys(es(0),
      intArg(es(1), "bands"), intArg(es(2), "rowsPerBand"))),
    "sig_match_rate" -> (es => kernels.SigMatchRate(es(0), es(1))),
    "minhash_text_sig" -> (es => kernels.MinHashTextSig(es(0),
      intArg(es(1), "ngram"), intArg(es(2), "k"))),
    "shingle_hashes" -> (es => kernels.ShingleHashes(es(0), intArg(es(1), "ngram"))),
    "jaccard_sorted" -> (es => kernels.JaccardSorted(es(0), es(1))),
    "doc_fingerprint" -> (es => kernels.RollingMinHash(es(0),
      if (es.length > 1) intArg(es(1), "window") else 16))
  )

  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // bounded top-k aggregate (UDAF path — Aggregator-backed)
    spark.udf.register("top_k_10", org.apache.spark.sql.functions.udaf(
      new graft.operators.TopKAgg(10),
      org.apache.spark.sql.Encoders.product[graft.operators.Scored]))
  }
}

/** `SparkSessionExtensions` hook: injects every kernel as a session
  * function and graft's SQL parser. The rules and strategies are
  * installed by [[graft.sources.GraftRules.install]] on first use, by
  * every session alike.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.kernels", name), builder))
    }
    // the MATERIALIZED VIEW statement heads Spark's grammar lacks
    // (CREATE/REFRESH MATERIALIZED VIEW → MaterializedAgg/MaterializedJoin);
    // every other statement passes to the stock parser verbatim
    e.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
  }
}
