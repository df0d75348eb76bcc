package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge table — the link-analysis quality weight used by
  * crawl-corpus pipelines (seed selection / quality priors for
  * pretraining data a la CommonCrawl centrality lists).
  *
  * QUANTIZED-EXACT formulation: ranks live in integer nano-units and
  * every step is integer arithmetic —
  * {{{
  *   r0(v)   = 1e9 div N
  *   r_i+1(v) = ((1000 - damp) * r0) div 1000
  *            + (damp * (Σ_{u→v} (r_i(u) div deg(u)) + dangling_i div N)) div 1000
  *   dangling_i = Σ_{deg(u) = 0} r_i(u)
  * }}}
  * Integer sums are order-independent, so the result is bit-identical
  * across partitionings, cluster sizes, and engines — a float PageRank's
  * last-ulp summation wobble can flip near-tied ranks, this one cannot,
  * and a fixed iteration count unrolls to plain relational algebra that
  * any SQL engine replays exactly (the `graph_pagerank` oracle does).
  *
  * Plan shape per iteration: one join of the rank table onto the edge
  * list (shuffle on node id both sides), one map-side-combined sum per
  * destination, one left join back to the node table; `localCheckpoint`
  * truncates the lineage so the plan stays one iteration deep ([[
  * graft.text.Bpe.train]]'s lesson). The per-iteration dangling mass is
  * ONE scalar collected to the driver (bounded like BPE's 1-row argmax).
  * At 100 TB: pre-partition/bucket the edge table by `src` so the
  * iterated join reuses one side's layout; iterations are log-free
  * (fixed count), state is one long per node.
  */
object PageRank {

  /** Run `iters` rounds over `edges` (srcCol, dstCol; duplicates are
    * collapsed). Returns (node, rank_nano). `dampMilli` is the damping
    * factor in milli-units (850 = the standard 0.85).
    */
  def pagerank(edges: DataFrame, iters: Int = 5,
               srcCol: String = "src", dstCol: String = "dst",
               dampMilli: Int = 850): DataFrame = {
    require(iters >= 0 && dampMilli >= 0 && dampMilli <= 1000)
    // pre-partition BOTH persisted tables by their join key: the cached
    // layout (hashpartitioning(src) / hashpartitioning(node)) is what the
    // per-iteration join and the rank rebuild require, so no iteration
    // re-shuffles either side — the only exchange left per round is the
    // unavoidable contribution aggregation by destination.
    // repartition BEFORE distinct: hashpartitioning(src) satisfies the
    // dedup aggregate's ClusteredDistribution(src, dst) (equal (src, dst)
    // rows share src), so the dedup reuses the repartition exchange — the
    // distinct-then-repartition order paid a second full shuffle of the
    // edge table for the same layout. sortWithinPartitions(src): the
    // cached sort order is exactly what the per-iteration sort-merge join
    // requires, so no iteration re-sorts the (large) edge side.
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(col("src"))
      .distinct()
      .sortWithinPartitions("src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      // the union-distinct's exchange already leaves the node table
      // hashpartitioned on `node` — the former trailing repartition(node)
      // re-shuffled an identically-partitioned table; sortWithinPartitions
      // caches the sort order the per-iteration rank-rebuild SMJ needs
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .join(deg, Seq("node"), "left")
        .na.fill(0L, Seq("deg"))
        .sortWithinPartitions("node")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = nodes.count()
        require(n > 0, "pagerank: empty graph")
        val base = 1000000000L / n
        val teleport = ((1000L - dampMilli) * base) / 1000L
        // the per-iteration dangling mass stays IN the plan as a 1-row
        // aggregate cross-joined (broadcast) onto the rank rebuild — the
        // former per-iteration head() collect cost one extra driver
        // action and a full pass over the rank table per round. Integer
        // arithmetic is unchanged: coalesce(sum, 0) div n is the same
        // truncating long division the driver did (ranks are >= 0).
        // Every round's checkpoint is EAGER: the next round's `dang`
        // broadcast must never be the job that first materializes the
        // previous checkpoint — a lazy chain lets a broadcast-exchange
        // thread and the DAG scheduler deadlock inside
        // RDDCheckpointData.checkpointRDD. The last eager round also runs
        // while e/nodes are still persisted — the finally-unpersist below
        // would otherwise strip their caches before the caller's first
        // action.
        var ranks = nodes.select(col("node"), col("deg"), lit(base).as("r"))
          .localCheckpoint()
        for (i <- 1 to iters) {
          val dang = ranks.filter(col("deg") === 0L)
            .agg(expr(s"(coalesce(sum(r), 0L) div ${n}L)").as("__dang"))
          val contribs = ranks.filter(col("deg") > 0L)
            .join(e, col("node") === col("src"))
            .select(col("dst").as("node"), expr("r div deg").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
          ranks = nodes
            .join(contribs, Seq("node"), "left")
            .na.fill(0L, Seq("contrib"))
            .crossJoin(dang)
            .select(col("node"), col("deg"),
              (lit(teleport) +
                expr(s"($dampMilli * (contrib + __dang)) div 1000"))
                .cast("long").as("r"))
            .localCheckpoint()
        }
        ranks.select(col("node"), col("r").as("rank_nano"))
      } finally nodes.unpersist()
    } finally e.unpersist()
  }
}
