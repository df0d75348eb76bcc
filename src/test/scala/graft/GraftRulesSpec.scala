package graft

import org.apache.spark.sql.SparkSession

import graft.core._
import graft.sources.GraftRules

/** One installation path for graft's Catalyst rules and strategies: a
  * session reached first through a library read and one reached first
  * through a catalog query end with identical lists, each entry once, in
  * the order [[GraftRules]] fixes (prefix-cluster after count-range).
  */
class GraftRulesSpec extends SparkSuite {

  private lazy val root = {
    val st = new FsSnapshotStore(tmpDir("graft-rules") + "/store", spark)
    KVIndex.bootstrap(st, "t", spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      Seq("k")).fold(e => sys.error(e.message), identity)
    st.root
  }

  private def libraryRead(s: SparkSession): Unit = {
    val ix = KVIndex.open(new FsSnapshotStore(root, s), "t")
      .fold(e => sys.error(e.message), identity)
    assert(ix.inOrdered().count() == 100L)
  }

  private def catalogQuery(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.rulescat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.rulescat.root", root)
    assert(s.sql("SELECT k FROM rulescat.t WHERE k >= 90 ORDER BY k").count() == 10L)
  }

  private def lists(s: SparkSession) =
    (s.experimental.extraStrategies, s.experimental.extraOptimizations)

  test("library-first and catalog-first sessions install identical rule lists") {
    root
    val libFirst = spark.newSession()
    val catFirst = spark.newSession()
    assert(lists(libFirst) == ((Nil, Nil)))
    libraryRead(libFirst)
    assert(lists(libFirst) == ((GraftRules.strategies, GraftRules.optimizations)))
    catalogQuery(libFirst)
    catalogQuery(catFirst)
    libraryRead(catFirst)
    assert(lists(libFirst) == lists(catFirst))
    assert(lists(catFirst) == ((GraftRules.strategies, GraftRules.optimizations)))
    val (strategies, optimizations) = lists(catFirst)
    assert(strategies.distinct == strategies && optimizations.distinct == optimizations)
    val names = optimizations.map(_.ruleName.split('.').last.stripSuffix("$"))
    assert(names.indexOf("GraftCountRange") < names.indexOf("GraftPrefixCluster"))
    // installing again changes nothing
    GraftRules.install(catFirst)
    assert(lists(catFirst) == ((strategies, optimizations)))
  }
}
