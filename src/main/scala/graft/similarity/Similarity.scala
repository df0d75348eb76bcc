package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{functions => gf}

/** Approximate-nearest-neighbor search over an `Array[Float]` embedding
  * column.
  *
  *  - [[bruteForceTopK]] is the exact baseline: one codegen'd cosine per row
  *    + distributed top-k (`TakeOrderedAndProject`) — no shuffle of vectors,
  *    only of the k survivors per partition.
  *  - [[ivfTopK]] is the scale path: k-means-lite (deterministic seeded
  *    centroid sample, one refinement pass), assign every vector to its
  *    nearest centroid at index build; queries probe only `nProbe` cells.
  *    At 100 TB this turns a full scan into reading ~nProbe/nCells of the
  *    data, with partition pruning if the index is written partitioned by
  *    cell id.
  */
object Similarity {

  /** Exact top-k cosine neighbors of one query vector. */
  def bruteForceTopK(df: DataFrame, query: Array[Float], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), gf.cosine_sim(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact cosine range search: every vector within cosine >= `threshold`
    * of the query — top-k's sibling when the RADIUS, not the count, is the
    * contract ("find all near-duplicates of this one"). Same scan-once,
    * no-vector-shuffle plan as [[bruteForceTopK]]; only survivors leave
    * the scan. The comparison is made on the 4-dp-rounded cosine so the
    * survivor set is reproducible across engines (raw last-ulp dot-product
    * differences cannot flip a boundary row).
    */
  def rangeSearch(df: DataFrame, query: Array[Float], threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), round(gf.cosine_sim(col(vecCol), q), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Differential-test ORACLE ONLY — window-rank formulation of batch
    * top-k. It shuffles EVERY scored row (corpus × queries) to sort each
    * query's partition, which is a scale-killer at 100 TB; the shipped
    * path is [[bruteForceTopKBatchAgg]], whose bounded aggregate sends at
    * most k rows per query per map task. Kept package-private so library
    * callers cannot reach the unbounded shuffle by accident; specs use it
    * to cross-check the Aggregator row for row.
    */
  private[graft] def windowTopKBatchOracle(corpus: DataFrame, queries: DataFrame, k: Int,
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col(qIdCol), col(idCol),
        gf.cosine_sim(col(vecCol), col(qVecCol)).as("cosine"))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact top-k for MANY query vectors at once (the batch shape a training
    * pipeline actually runs): broadcast the queries, one pass over the
    * corpus, per-query top-k through the bounded
    * [[graft.operators.TopKAgg]] aggregate — partial aggregation sends at
    * most k rows per query per map task across the shuffle. The scale path.
    */
  def bruteForceTopKBatchAgg(corpus: DataFrame, queries: DataFrame, k: Int,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame = {
    val scored = corpus.join(broadcast(queries))
      .select(col(qIdCol), col(idCol),
        gf.cosine_sim(col(vecCol), col(qVecCol)).as("cosine"))
    graft.operators.TopKAgg.topKPerGroup(scored, qIdCol, idCol, "cosine", k)
  }

  /** Build an IVF index: pick `nCells` deterministic seed centroids, one
    * Lloyd refinement pass, then tag every row with its nearest cell.
    * Result caches/persists as the "index"; write it partitioned by
    * `cell` for partition-pruned probes.
    */
  def ivfBuild(df: DataFrame, nCells: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Seq[Array[Float]]) = {
    // deterministic sample: smallest xxhash64(id) — reproducible, one pass
    val seeds = df.select(col(idCol), col(vecCol))
      .withColumn("h", xxhash64(col(idCol)))
      .orderBy("h").limit(nCells)
      .collect().map(_.getSeq[Float](1).toArray)
    // one refinement pass: assign to nearest seed, then element-wise mean
    // per cell via the bounded vector-sum Aggregator — ONE dim-length
    // buffer per (map task, cell) crosses the shuffle (the posexplode
    // formulation shuffled dim×N rows), and only nCells×dim floats reach
    // the driver, never whole member vectors
    val assigned0 = assign(df, seeds, idCol, vecCol)
    val comps = assigned0.groupBy(col("cell"))
      .agg(graft.operators.VecMeanAgg.vecMean(col(vecCol)).as("m"))
      .collect()
    val refined = comps.sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray).toSeq
    (assign(df, refined, idCol, vecCol), refined)
  }

  /** Persist an IVF index partitioned by cell: probes read only the
    * probed cells' files (partition pruning — at scale this is the whole
    * point of IVF: nProbe/nCells of the bytes).
    */
  def ivfWrite(indexed: DataFrame, path: String): Unit =
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a stored IVF index — the cell filter prunes parquet
    * partitions before any IO.
    */
  def ivfTopKFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                       centroids: Seq[Array[Float]], query: Array[Float],
                       k: Int, nProbe: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopK(spark.read.parquet(path), centroids, query, k, nProbe, idCol, vecCol)

  private def assign(df: DataFrame, centroids: Seq[Array[Float]],
                     idCol: String, vecCol: String): DataFrame =
    df.withColumn("cell", org.apache.spark.sql.graft.Shim.col(
      NearestCell(org.apache.spark.sql.graft.Shim.expr(col(vecCol)), centroids)))

  // ------------------------------------------------------------------
  // IVF-PQ — the composed at-scale ANN shape (FAISS's IVFPQ): IVF cells
  // prune WHICH rows are scanned (nProbe/nCells of the data, partition-
  // pruned when stored by cell), PQ residual codes shrink WHAT is
  // scanned (bytes per row). Residual encoding (vector − its cell
  // centroid) is what makes the shared codebook tight: residuals live
  // in a small ball around zero regardless of which cell a vector
  // landed in.
  // ------------------------------------------------------------------

  /** Build: IVF-assign, subtract each row's cell centroid, train ONE PQ
    * codebook on the residuals, encode. Returns (codes (id, cell,
    * codes), centroids, pqModel) — persist/write `codes` partitioned by
    * cell for pruned probes (the [[ivfWrite]] layout).
    */
  def ivfPqBuild(df: DataFrame, nCells: Int, m: Int, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Seq[Array[Float]], PqModel) = {
    val (indexed, centroids) = ivfBuild(df, nCells, idCol, vecCol)
    val residuals = withResidual(indexed, centroids, vecCol)
    val model = pqTrain(residuals.select(col(idCol), col("__res").as(vecCol)),
      m, k, idCol, vecCol)
    val codes = residuals
      .withColumn("codes", gfPqEncode(col("__res"), model))
      .select(col(idCol), col("cell"), col("codes"))
    (codes, centroids, model)
  }

  /** residual = vector − its cell's centroid (broadcast-joined, one
    * zip_with projection — no shuffle of vectors)
    */
  private def withResidual(indexed: DataFrame, centroids: Seq[Array[Float]],
                           vecCol: String): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "__cent")
    indexed.join(broadcast(cents), Seq("cell"))
      .withColumn("__res", zip_with(col(vecCol), col("__cent"), (a, b) => a - b))
      .drop("__cent")
  }

  /** Probe: rank cells by query-centroid cosine, scan only the probed
    * cells' CODES, ADC against a PER-CELL distance table built from the
    * query's residual to that cell (m × k doubles × nProbe on the
    * driver), exact top-k overall. With cell-partitioned storage the
    * probed-cell filter prunes partitions before IO, and each scanned
    * row costs m lookups over a 16-byte code.
    */
  def ivfPqTopK(codes: DataFrame, centroids: Seq[Array[Float]], model: PqModel,
                query: Array[Float], k: Int, nProbe: Int,
                idCol: String = "vec_id"): DataFrame = {
    val probed = rankCells(centroids, query, nProbe)
    val tables = probed.map { cell =>
      val c = centroids(cell)
      val qRes = query.indices.map(i => query(i) - c(i)).toArray
      cell -> adcTable(model, qRes)
    }
    val shim = org.apache.spark.sql.graft.Shim
    val dist = tables.foldRight(lit(Double.MaxValue)) { case ((cell, table), els) =>
      when(col("cell") === cell,
        shim.col(PqAdc(shim.expr(col("codes")), table))).otherwise(els)
    }
    codes.filter(col("cell").isin(probed: _*))
      .select(col(idCol), dist.as("dist2"))
      .orderBy(col("dist2").asc, col(idCol).asc)
      .limit(k)
  }

  /** Binary (sign-bit) quantization: one bit per dimension (`v > 0`),
    * packed 32 bits per long word — a 128× footprint cut at dim 64 vs
    * float32, the cheapest ANN representation there is. 32-bit packing
    * (not 64) keeps every word a small positive BIGINT, so signatures
    * and Hamming distances are EXACT integers any engine reproduces —
    * the `sim_binary` oracle hash-verifies the entire top-k including
    * distances, no recall-contract hedge needed for determinism.
    * A pure codegen'd projection, no shuffle.
    */
  def quantizeBinary(df: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val dim = df.select(col(vecCol)).head().getSeq[Float](0).length
    val words = (dim + 31) / 32
    val sigWords = (0 until words).map { w =>
      (0 until math.min(32, dim - 32 * w)).foldLeft(lit(0L)) { (acc, j) =>
        acc + when(element_at(col(vecCol), 32 * w + j + 1) > 0f, lit(1L << j))
          .otherwise(lit(0L))
      }
    }
    df.select(col(idCol), array(sigWords: _*).as("sig"))
  }

  /** Exact Hamming top-k over binary signatures: per row, `words`
    * xor+popcount ops (codegen'd `bit_count`), then distributed top-k —
    * the scan touches only the 128×-compressed signatures. The standard
    * two-stage ANN shape pairs this shortlist with an exact rerank
    * ([[pqTopKRerank]]'s recipe) when cosine precision matters.
    */
  def hammingTopK(sigs: DataFrame, querySig: Array[Long], k: Int,
                  idCol: String = "vec_id"): DataFrame = {
    val dist = querySig.indices.map { w =>
      bit_count(element_at(col("sig"), w + 1).bitwiseXOR(lit(querySig(w))))
    }.reduce(_ + _)
    sigs.select(col(idCol), dist.cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col(idCol).asc)
      .limit(k)
  }

  /** Ranked single-query dense shortlist for hybrid retrieval: top-k by
    * 4-dp-ROUNDED cosine (the [[rangeSearch]] stance — last-ulp dot-
    * product wobble cannot flip a rank across engines/partitionings),
    * ties by ascending id, emitted as (q_id, rank, id) — the shape
    * [[graft.text.TextAnalysis.rrfFuse]] consumes. The rank window runs
    * over the ALREADY-limited k rows (TakeOrderedAndProject first), never
    * the corpus.
    */
  def rankedTopK(df: DataFrame, query: Array[Float], k: Int, qId: Long = 0L,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    df.select(col(idCol), round(gf.cosine_sim(col(vecCol), q), 4).as("c"))
      .orderBy(col("c").desc, col(idCol).asc)
      .limit(k)
      .withColumn("q_id", lit(qId))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("c").desc, col(idCol).asc)).cast("long"))
      .select(col("q_id"), col("rank"), col(idCol))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× footprint cut before ANN indexing: each vector is scaled
    * by its own max-abs so codes are `floor(v / maxabs * 127 + 0.5)` in
    * [-127, 127]; zero vectors quantize to zeros. All arithmetic is DOUBLE
    * with explicit floor(x+0.5) rounding, so any engine reproduces the
    * identical codes bit-for-bit (library round() tie-breaking varies;
    * this does not). A pure projection — no shuffle, codegen'd.
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val vd = transform(col(vecCol), v => v.cast("double"))
    val ma = array_max(transform(col(vecCol), v => abs(v.cast("double"))))
    df.withColumn("__ma", ma)
      .withColumn("q",
        when(col("__ma") === 0.0, transform(vd, _ => lit(0L)))
          .otherwise(transform(vd,
            v => floor(v / col("__ma") * 127.0 + 0.5).cast("long"))))
      .withColumn("scale", col("__ma") / 127.0)
      .drop("__ma")
  }

  /** Random SIGN projection (Achlioptas's database-friendly
    * Johnson–Lindenstrauss transform): each of `outDim` output
    * coordinates is `Σᵢ qᵢ·s(i,j)` with `s(i,j) ∈ {+1,−1}` drawn from a
    * DETERMINISTIC Knuth multiplicative hash of `(i, j)` — no stored
    * projection matrix, any engine can regenerate it. Inputs are
    * half-up-rounded to exact milli-integers first, so the projected
    * coordinates are exact BIGINTs that hash-match an independent SQL
    * engine bit for bit; pairwise dot products / distances in the
    * projected space approximate the originals at the usual JL rate
    * (the 1/√outDim rescale is a constant the caller can apply — kept
    * OUT of the output to stay integer-exact).
    *
    * The 100-TB use: shrink dim-D embeddings to outDim≪D once, build
    * the ANN / dedup structures on the small vectors — a pure per-row
    * projection with NO shuffle, no UDF, no broadcast state; cost is
    * inDim×outDim multiply-adds per row inside one higher-order
    * expression whose SIZE is constant in both dims (the r12 compiled-
    * kernel lesson does not bite: `transform`/`aggregate` loop at
    * runtime, the tree does not grow with the model).
    */
  def signProject(df: DataFrame, outDim: Int, inDim: Int,
                  vecCol: String = "embedding",
                  outCol: String = "proj_milli"): DataFrame = {
    require(outDim >= 1 && inDim >= 1)
    // packing bound: the hash input is i*4096 + j, so outDim > 4096 makes
    // sign(i, j+4096) == sign(i+1, j) — shifted-copy output columns, the
    // exact correlated-columns failure the fmix note below guards against;
    // and i*4096+j must stay inside fmix32's 32-bit domain (2^20 * 4096 =
    // 2^32). Both are far beyond any sane JL shape (outDim ≪ inDim ≤ 2^20).
    require(outDim <= 4096,
      s"signProject outDim=$outDim exceeds the 4096 packing stride — " +
        "output columns would repeat (sign(i, j+4096) == sign(i+1, j))")
    require(inDim <= (1 << 20),
      s"signProject inDim=$inDim exceeds 2^20 — i*4096+j would leave " +
        "fmix32's 32-bit domain and alias sign bits")
    // the sign needs REAL avalanche: any single multiply mod 2^32 is
    // affine, so bit b of it depends on x mod 2^(b+1) only — columns come
    // out correlated (measured: perfect anti-correlation pairs). This is
    // murmur3's fmix32 written in engine-portable ops — each 32×32
    // multiply via the hi/lo split (stays < 2^63), shifts as integer div,
    // xor as ^ (DuckDB spells it xor(); values are identical).
    val sign = s"case when (${Similarity.fmix32("i * 4096 + j",
      (a, b) => s"(($a) ^ ($b))", "div")}) % 2 = 0 then 1L else -1L end"
    df.withColumn(outCol, expr(
      s"transform(sequence(0, ${outDim - 1}), j -> " +
        s"aggregate(sequence(0, ${inDim - 1}), 0L, (acc, i) -> " +
        s"acc + cast(floor(cast(element_at($vecCol, i + 1) as double) " +
        s"* 1000 + 0.5) as long) * ($sign)))"))
  }

  /** Diversity-aware re-ranking of per-query shortlists by greedy
    * maximal marginal relevance ([[MmrSelect]]). The shortlist must be
    * BOUNDED per query (the output of [[knnJoin]]/[[bruteForceTopKBatchAgg]]
    * — typically ≤ a few hundred rows); the greedy itself is one
    * expression evaluated per query group after a single group-by-query
    * shuffle of shortlist-sized data, so query count scales out and
    * nothing corpus-sized moves. `relCol` is the caller's relevance in
    * exact integer nano-units; vectors are milli-quantized inside (the
    * [[signProject]] rounding), pairwise similarity is portable
    * nano-cosine over those exact integers.
    *
    * Ids need not be unique within a query's shortlist: once an id is
    * picked, every other copy of it is retired by VALUE, so the output
    * never repeats an id (the SQL oracle's NOT EXISTS contract) and a
    * query whose shortlist holds fewer than k DISTINCT ids returns that
    * many picks.
    *
    * @return (qIdCol, rank 1..k, idCol, mmr_pico) in pick order.
    */
  def mmrRerank(shortlist: DataFrame, k: Int, lambdaMilli: Int,
                qIdCol: String = "q_id", idCol: String = "vec_id",
                vecCol: String = "embedding",
                relCol: String = "rel_nano"): DataFrame = {
    val vm = expr(s"transform($vecCol, x -> " +
      "cast(floor(cast(x as double) * 1000 + 0.5) as long))")
    val grouped = shortlist
      .select(col(qIdCol), struct(col(idCol).cast("long").as("id"),
        col(relCol).cast("long").as("rel_nano"), vm.as("vm")).as("__it"))
      .groupBy(col(qIdCol))
      // sort_array makes the collected order deterministic; the greedy
      // itself is order-insensitive (exact argmax, id tie-break)
      .agg(sort_array(collect_list(col("__it"))).as("__items"))
    grouped
      .withColumn("__picks", org.apache.spark.sql.graft.Shim.col(
        MmrSelect(org.apache.spark.sql.graft.Shim.expr(col("__items")), k, lambdaMilli)))
      .select(col(qIdCol), posexplode(col("__picks")).as(Seq("__p", "__s")))
      .select(col(qIdCol), (col("__p") + 1).cast("long").as("rank"),
        col("__s.id").as(idCol), col("__s.mmr_pico").as("mmr_pico"))
  }

  /** murmur3 fmix32 over a non-negative 32-bit value, emitted as SQL text
    * using only `*`, `%`, integer division, and xor — portable across
    * engines (pass each engine's xor spelling and integer-div keyword).
    * Every intermediate stays below 2^63.
    */
  private[graft] def fmix32(x: String, xor: (String, String) => String,
                            idiv: String): String = {
    def mul32(y: String, m: Long): String =
      s"((((($y) $idiv 65536) * $m) % 65536) * 65536 + " +
        s"((($y) % 65536) * $m) % 4294967296) % 4294967296"
    val h1 = xor(x, s"($x) $idiv 65536")
    val h2 = mul32(h1, 2246822507L)
    val h3 = xor(h2, s"($h2) $idiv 8192")
    val h4 = mul32(h3, 3266489909L)
    xor(h4, s"($h4) $idiv 65536")
  }

  /** Query→cell ranking shared by the single and batch probes: the best
    * `nProbe` cells by query-centroid cosine. Delegates to
    * [[CellRank.topCells]] — the SAME kernel the compiled [[ProbeCells]]
    * expression evaluates — so the driver-ranked and expression-ranked
    * paths cannot drift on ties or arithmetic order.
    */
  private def rankCells(centroids: Seq[Array[Float]], query: Array[Float],
                        nProbe: Int): Seq[Int] =
    CellRank.topCells(centroids, query, nProbe).toSeq

  /** Probe an IVF index: rank cells by query-centroid cosine, scan only the
    * best `nProbe` cells, exact cosine inside them.
    */
  def ivfTopK(indexed: DataFrame, centroids: Seq[Array[Float]],
              query: Array[Float], k: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val ranked = rankCells(centroids, query, nProbe)
    val q = array(query.map(v => lit(v)): _*)
    indexed.filter(col("cell").isin(ranked: _*))
      .select(col(idCol), gf.cosine_sim(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Probe an IVF index with MANY queries at once — the batch shape a
    * training pipeline actually runs (N lookups per stage, not one).
    * The probed cells are UNIONED across queries and the index is scanned
    * ONCE: a cell probed by m queries is still read once, its rows
    * replicated to those m queries by a broadcast join against the tiny
    * (cell, q_id) probe map — never a rescan. Per-query top-k goes through
    * the bounded [[graft.operators.TopKAgg]] aggregate, so at most k rows
    * per query per map task cross the shuffle (same scale path as
    * [[bruteForceTopKBatchAgg]]).
    *
    * `queries` is the SMALL side (same contract as the broadcast in the
    * brute-force batch): its rows are collected to rank cells per query on
    * the driver — nQueries × nCells cosine ops. The contract is ENFORCED:
    * more than `maxQueries` rows raise [[BatchTooLargeException]] instead
    * of silently OOMing the driver; split a bigger batch or raise the bound
    * knowingly (it rejects: there is no distributed path to fall back to).
    */
  final class BatchTooLargeException(n: Int)
    extends IllegalArgumentException(
      s"ivfTopKBatch query batch exceeds maxQueries=$n rows; " +
        "split the batch or raise maxQueries explicitly")

  def ivfTopKBatch(indexed: DataFrame, centroids: Seq[Array[Float]],
                   queries: DataFrame, k: Int, nProbe: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "q_id", qVecCol: String = "q_vec",
                   maxQueries: Int = 65536): DataFrame = {
    val spark = indexed.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(qIdCol).cast("long"), col(qVecCol))
      .limit(maxQueries + 1).collect()
    if (qRows.length > maxQueries) throw new BatchTooLargeException(maxQueries)
    val probes: Seq[(Int, Long)] = qRows.toSeq.flatMap { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Float](1).toArray
        rankCells(centroids, qv, nProbe).map(cell => (cell, qid))
      }
    val unionCells = probes.map(_._1).distinct
    val probeDf = probes.toDF("cell", qIdCol)
    val scored = indexed.filter(col("cell").isin(unionCells: _*)) // one scan
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries.select(col(qIdCol).cast("long").as(qIdCol), col(qVecCol))),
        Seq(qIdCol))
      .select(col(qIdCol), col(idCol),
        gf.cosine_sim(col(vecCol), col(qVecCol)).as("cosine"))
    graft.operators.TopKAgg.topKPerGroup(scored, qIdCol, idCol, "cosine", k)
  }

  /** Batch probe against a cell-partitioned stored index: the unioned
    * cell filter prunes parquet partitions before any IO, so the batch
    * reads only the cells SOME query probes — at scale, ~|union of
    * probed cells|/nCells of the index bytes, once, for the whole batch.
    */
  def ivfTopKBatchFromStore(spark: org.apache.spark.sql.SparkSession, path: String,
                            centroids: Seq[Array[Float]], queries: DataFrame,
                            k: Int, nProbe: Int,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            qIdCol: String = "q_id", qVecCol: String = "q_vec"): DataFrame =
    ivfTopKBatch(spark.read.parquet(path), centroids, queries, k, nProbe,
      idCol, vecCol, qIdCol, qVecCol)

  /** Distributed k-NN JOIN: EVERY row of `queries` — a full table, never
    * collected to the driver or broadcast — finds its k nearest corpus
    * rows by cosine. This is the shape hard-negative mining and
    * retrieval-augmented dataset builds actually run (each of 10⁹
    * training examples needs its neighbors), where [[ivfTopKBatch]]'s
    * driver-ranked probe map cannot apply: the query side is as big as
    * the corpus.
    *
    * Plan, all table-scale steps distributed:
    *  1. per-QUERY-row cell ranking is a single codegen'd expression over
    *     the centroid literals (nCells × dim floats — a few KB in the
    *     plan, the same bounded-driver stance as IVF centroids): score
    *     every centroid, `array_sort` the (score, cell) structs, take the
    *     top `nProbe`, `explode`. Zero shuffle, zero driver trips.
    *  2. candidate generation is an equi-join on `cell` — each query
    *     meets only the corpus rows in its probed cells (~nProbe/nCells
    *     of the corpus), never all-pairs. A corpus row lives in exactly
    *     one cell, so no candidate pair is generated twice.
    *  3. per-query top-k via the bounded [[graft.operators.TopKAgg]]:
    *     at most k rows per query per map task cross the final shuffle.
    *
    * At 100 TB: size nCells ~ sqrt(N) so the cell join has real key
    * cardinality (16 cells here is for the tiny test corpus; 1e9 vectors
    * want ~30k cells), persist `indexed` written `partitionBy("cell")`
    * (see [[ivfWrite]]), and let AQE split any hot cell. `excludeSelf`
    * drops the trivial self-match when `queries` IS the corpus (the
    * hard-negative shape).
    */
  def knnJoin(indexed: DataFrame, centroids: Seq[Array[Float]],
              queries: DataFrame, k: Int, nProbe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              qIdCol: String = "q_id", qVecCol: String = "q_vec",
              excludeSelf: Boolean = false): DataFrame = {
    require(nProbe >= 1 && nProbe <= centroids.size,
      s"nProbe must be in [1, ${centroids.size}]")
    // one compiled loop per query row ranks all cells in rankCells' total
    // order (score desc, ties toward the LOWER cell id) — see ProbeCells
    val probed = queries.withColumn("cell",
      explode(org.apache.spark.sql.graft.Shim.col(ProbeCells(
        org.apache.spark.sql.graft.Shim.expr(col(qVecCol)), centroids, nProbe))))
    val cand = probed.join(indexed.select(col("cell"), col(idCol), col(vecCol)),
      Seq("cell"))
    val scored0 = cand.select(col(qIdCol), col(idCol),
      gf.cosine_sim(col(vecCol), col(qVecCol)).as("cosine"))
    val scored =
      if (excludeSelf) scored0.filter(col(qIdCol) =!= col(idCol)) else scored0
    graft.operators.TopKAgg.topKPerGroup(scored, qIdCol, idCol, "cosine", k)
  }

  // ------------------------------------------------------------------
  // Product quantization (Jégou et al. 2011) — the memory-scale path for
  // ANN: each vector compresses to `m` small codes (one per subspace), a
  // 32×+ footprint cut at dim=64/m=8/k=16, so a 100 TB embedding corpus
  // probes from ~3 TB of codes. Distances are ASYMMETRIC (ADC): the query
  // stays full-precision, each row's distance is m table lookups.
  // ------------------------------------------------------------------

  /** Trained PQ codebooks: `codebooks(sub)(cell)` is the centroid of cell
    * `cell` in subspace `sub` (each of length `subDim`). Bounded driver
    * state: m × k × subDim floats (= dim × k), same stance as IVF
    * centroids.
    */
  final case class PqModel(codebooks: Seq[Seq[Array[Float]]], subDim: Int) {
    def m: Int = codebooks.size
    def k: Int = codebooks.head.size
  }

  /** Train PQ codebooks on `df` (at 100 TB: on a sample — codebooks
    * converge like any k-means): deterministic seeds (the `k` rows with
    * smallest `xxhash64(id)` seed EVERY subspace, the [[ivfBuild]]
    * recipe), then one Lloyd refinement pass per subspace — all
    * subspaces refined in ONE distributed job: encode under the seed
    * codebooks, explode to (sub, cell, subvector), element-wise mean via
    * the bounded [[graft.operators.VecMeanAgg]] (one subDim-length buffer
    * per (map task, sub, cell) crosses the shuffle). Only m × k × subDim
    * floats reach the driver. Cells left empty keep their seed centroid.
    */
  def pqTrain(df: DataFrame, m: Int, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && k >= 1 && k <= 256, "pqTrain: need 1 <= k <= 256")
    val head = df.select(col(vecCol)).head().getSeq[Float](0)
    val dim = head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val seedRows = df.select(col(idCol), col(vecCol))
      .withColumn("h", xxhash64(col(idCol)))
      .orderBy("h").limit(k)
      .collect().map(_.getSeq[Float](1).toArray)
    val seeds: Seq[Seq[Array[Float]]] = (0 until m).map { sub =>
      seedRows.toSeq.map(v => java.util.Arrays.copyOfRange(v, sub * subDim, (sub + 1) * subDim))
    }
    val seedModel = PqModel(seeds, subDim)
    // one job: seed-encode, explode to (sub, cell, subvec), mean per cell
    val subSlices = transform(sequence(lit(0), lit(m - 1)),
      i => slice(col(vecCol), i * subDim + 1, lit(subDim)))
    val comps = df
      .withColumn("codes", gfPqEncode(col(vecCol), seedModel))
      .select(posexplode(subSlices).as(Seq("sub", "sv")), col("codes"))
      .select(col("sub"), element_at(col("codes"), col("sub") + 1).as("cell"), col("sv"))
      .groupBy(col("sub"), col("cell"))
      .agg(graft.operators.VecMeanAgg.vecMean(col("sv")).as("c"))
      .collect()
    val refined = Array.tabulate(m, k)((sub, cell) => seeds(sub)(cell))
    comps.foreach { r =>
      refined(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
    }
    PqModel(refined.map(_.toSeq).toSeq, subDim)
  }

  private def gfPqEncode(vec: Column, model: PqModel): Column =
    org.apache.spark.sql.graft.Shim.col(
      PqEncode(org.apache.spark.sql.graft.Shim.expr(vec), model))

  /** Encode vectors to PQ codes — a pure codegen-friendly projection, no
    * shuffle: per subspace, the L2-nearest codebook cell (double
    * arithmetic in a fixed order, lowest cell id on ties — codes are
    * engine- and partitioning-reproducible).
    */
  def pqEncode(df: DataFrame, model: PqModel,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol), gfPqEncode(col(vecCol), model).as("codes"))

  /** ADC top-k over a PQ-encoded table: build the query's m × k distance
    * table on the driver (squared L2 to every cell centroid), then score
    * every row with m array lookups — a scan-thin projection over the
    * CODES (32×+ fewer bytes than the vectors) followed by distributed
    * top-k; no shuffle of vectors, ever.
    */
  def pqTopK(codes: DataFrame, model: PqModel, query: Array[Float], k: Int,
             idCol: String = "vec_id"): DataFrame = {
    val table = adcTable(model, query)
    codes.select(col(idCol),
        org.apache.spark.sql.graft.Shim.col(PqAdc(
          org.apache.spark.sql.graft.Shim.expr(col("codes")), table)).as("dist2"))
      .orderBy(col("dist2").asc, col(idCol).asc)
      .limit(k)
  }

  /** ADC shortlist + exact re-rank: take the `k * rerank` best rows by ADC
    * distance, join ONLY those ids back to the full-precision vectors
    * (broadcast — the shortlist is k·rerank rows), exact cosine, top-k.
    * The standard recall repair: the index scan still reads only codes;
    * full vectors are fetched for a bounded candidate set.
    */
  def pqTopKRerank(codes: DataFrame, full: DataFrame, model: PqModel,
                   query: Array[Float], k: Int, rerank: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val shortlist = pqTopK(codes, model, query, k * rerank, idCol).select(idCol)
    val q = array(query.map(v => lit(v)): _*)
    full.join(broadcast(shortlist), Seq(idCol))
      .select(col(idCol), gf.cosine_sim(col(vecCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Query → per-(sub, cell) squared-L2 lookup table (driver; m × k
    * doubles — bounded like [[rankCells]]'s work).
    */
  private def adcTable(model: PqModel, query: Array[Float]): Array[Array[Double]] = {
    require(query.length == model.m * model.subDim,
      s"pq query dim ${query.length} != ${model.m}*${model.subDim}")
    Array.tabulate(model.m, model.k) { (sub, cell) =>
      val c = model.codebooks(sub)(cell)
      var d = 0.0
      var i = 0
      while (i < model.subDim) {
        val diff = query(sub * model.subDim + i).toDouble - c(i).toDouble
        d += diff * diff
        i += 1
      }
      d
    }
  }

  /** Exact squared-L2 top-k — the truth companion for PQ's recall
    * contract (PQ approximates L2, so its oracle must too). Same
    * scan-once, no-vector-shuffle plan as [[bruteForceTopK]].
    */
  def bruteForceTopKL2(df: DataFrame, query: Array[Float], k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    val qq = query.map(v => v.toDouble * v).sum
    val dist2 = lit(qq) + gf.dot_f(col(vecCol), col(vecCol)) -
      lit(2.0) * gf.dot_f(col(vecCol), q)
    df.select(col(idCol), dist2.as("dist2"))
      .orderBy(col("dist2").asc, col(idCol).asc)
      .limit(k)
  }

  /** Per-label centroid cohesion — the embedding-space cluster health
    * check (is a label's region tight or diffuse?): mean vector per label,
    * then every vector's cosine to its OWN label's centroid, aggregated to
    * per-label count / average / minimum.
    *
    * The per-dimension mean is cast to FLOAT before the cosine: a double
    * sum's last-ulp wobble across summation orders (partitionings, engines)
    * is absorbed by the float rounding, making the centroid — and the
    * downstream cosines — reproducible.
    *
    * Plan shape: centroids come from the bounded vector-sum Aggregator
    * ([[graft.operators.VecMeanAgg]]) — one dim-length buffer per
    * (map task, label) crosses the shuffle, partial aggregation applies —
    * then broadcast back; cosines are one codegen'd projection pass, then
    * the per-label aggregate. (The old posexplode formulation shuffled
    * dim × N rows — 1024× the row count at dim=1024.)
    */
  def labelCohesion(df: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val centroids = df.groupBy(col(labelCol))
      .agg(graft.operators.VecMeanAgg.vecMean(col(vecCol)).as("centroid"))
    df.join(broadcast(centroids), Seq(labelCol))
      .select(col(labelCol),
        gf.cosine_sim(col(vecCol), col("centroid")).as("cos_c"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(round(col("cos_c"), 4)), 4).as("avg_cos"),
        round(min(col("cos_c")), 4).as("min_cos"))
  }
}

/** PQ code assignment: per subspace, the squared-L2-nearest codebook cell
  * (doubles in a fixed scan order; lowest cell wins ties via strict `<`).
  * The codebook rides the plan — m × k × subDim floats, bounded by the
  * training contract like `BpeEncode`'s rank table, never data-sized.
  * Interpreted eval inside a codegen'd stage (one call per row in a
  * projection), same stance as `kernels.ShingleHashes`.
  */
case class PqEncode(child: org.apache.spark.sql.catalyst.expressions.Expression,
                    model: Similarity.PqModel)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val v = in.asInstanceOf[ArrayData].toFloatArray()
    val m = model.m; val k = model.k; val sd = model.subDim
    val codes = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var bestCell = 0
      var bestD = Double.MaxValue
      var cell = 0
      while (cell < k) {
        val c = model.codebooks(sub)(cell)
        var d = 0.0
        var i = 0
        while (i < sd) {
          val diff = v(sub * sd + i).toDouble - c(i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; bestCell = cell }
        cell += 1
      }
      codes(sub) = bestCell
      sub += 1
    }
    new GenericArrayData(codes.map(Int.box(_): Any))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): PqEncode =
    copy(child = c)
}

/** ADC distance: sum of m table lookups (`table(sub)(code)`), the
  * per-row cost that makes PQ probes scan-thin. The table is the QUERY's
  * precomputed cell distances — m × k doubles riding the plan.
  */
case class PqAdc(child: org.apache.spark.sql.catalyst.expressions.Expression,
                 table: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{DataType, DoubleType}

  override def dataType: DataType = DoubleType

  override def nullSafeEval(in: Any): Any = {
    val codes = in.asInstanceOf[ArrayData]
    var d = 0.0
    var sub = 0
    val m = table.length
    while (sub < m) {
      d += table(sub)(codes.getInt(sub))
      sub += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (Double)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): PqAdc =
    copy(child = c)
}

/** THE query→cell ranking arithmetic, defined once: every path that
  * ranks cells — the driver-side batch probe (`rankCells`), the compiled
  * [[ProbeCells]] expression, and [[NearestCell]]'s assign — evaluates
  * these kernels, so the tie contract and the floating-point operation
  * order cannot drift between implementations (they are spec-pinned to
  * agree on tied/duplicate centroids, `CellRankParitySpec`).
  *
  * Cosine is [[graft.functions.expressions.CosineSim]]'s exact recipe:
  * double accumulation in index order over min(len) elements, zero-norm
  * → 0. Two tie rules exist BY CONTRACT: [[topCells]] breaks score ties
  * toward the LOWER cell id (the probe ordering the SQL oracles
  * replicate); [[nearest]] breaks toward the HIGHER id (the assign
  * contract inherited from `array_max` over `(score, cell)` structs,
  * which assignments must not move under).
  */
private[similarity] object CellRank {

  /** Full-vector squared norm, double accumulation in index order — the
    * EXACT sum the 3-accumulator loop below forms for `na`/`nb` when the
    * two vectors have equal length, so hoisting it out of the per-cell
    * sweep is bit-transparent.
    */
  def normSq(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** Per-centroid squared norms for the [[scores]] fast path. */
  def normsOf(centroids: Seq[Array[Float]]): Array[Double] =
    centroids.map(normSq).toArray

  /** `scores(i)` = cosine(query, centroids(i)). A NaN score (a NaN
    * element in the query or a centroid) normalizes to 0 — the zero-norm
    * convention — so every ranking pass below stays total: a strict `>`
    * sweep over a NaN would otherwise never pick it and [[topCells]]
    * would index with −1.
    *
    * `cn` (optional) carries [[normsOf]] the same centroids: equal-length
    * (query, centroid) pairs then run a dot-only inner loop with the
    * query norm hoisted out of the cell sweep — 1 multiply-add per
    * element instead of 3 over PRIMITIVE arrays (this sweep is
    * arithmetic-bound, unlike the row-pair kernels where ArrayData access
    * dominates), bit-identical by the [[normSq]] argument; mismatched
    * lengths fall back to the original loop.
    */
  def scores(centroids: Seq[Array[Float]], q: Array[Float],
             cn: Array[Double] = null): Array[Double] = {
    val nc = centroids.length
    val out = new Array[Double](nc)
    val qn = if (cn == null) 0.0 else normSq(q)
    var cell = 0
    while (cell < nc) {
      val c = centroids(cell)
      val s =
        if (cn != null && c.length == q.length) {
          val na = qn; val nb = cn(cell)
          if (na == 0.0 || nb == 0.0) 0.0
          else {
            var dot = 0.0; var i = 0
            while (i < c.length) { dot += q(i).toDouble * c(i); i += 1 }
            dot / (math.sqrt(na) * math.sqrt(nb))
          }
        } else {
          val n = math.min(q.length, c.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) {
            val x = q(i).toDouble; val y = c(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0
          else dot / (math.sqrt(na) * math.sqrt(nb))
        }
      out(cell) = if (java.lang.Double.isNaN(s)) 0.0 else s
      cell += 1
    }
    out
  }

  /** Argmax cell; score ties keep the HIGHER cell id (`>=` sweep). */
  def nearest(centroids: Seq[Array[Float]], q: Array[Float],
              cn: Array[Double] = null): Int = {
    val s = scores(centroids, q, cn)
    var bestCell = 0
    var bestS = Double.NegativeInfinity
    var cell = 0
    while (cell < s.length) {
      if (s(cell) >= bestS) { bestS = s(cell); bestCell = cell }
      cell += 1
    }
    bestCell
  }

  /** The best `min(nProbe, nCells)` cells, score descending; equal
    * scores keep the LOWER cell id (strict `>` argmax passes).
    */
  def topCells(centroids: Seq[Array[Float]], q: Array[Float],
               nProbe: Int, cn: Array[Double] = null): Array[Int] = {
    val s = scores(centroids, q, cn)
    val nc = s.length
    val picks = math.min(nProbe, nc)
    val out = new Array[Int](picks)
    val taken = new Array[Boolean](nc)
    var p = 0
    while (p < picks) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var c2 = 0
      while (c2 < nc) {
        if (!taken(c2) && s(c2) > bestS) { bestS = s(c2); best = c2 }
        c2 += 1
      }
      // unreachable while scores() keeps every score finite (NaN → 0),
      // but a truncated pick list beats an out-of-bounds crash if that
      // invariant ever slips
      if (best == -1) return java.util.Arrays.copyOf(out, p)
      taken(best) = true
      out(p) = best
      p += 1
    }
    out
  }
}

/** Nearest-centroid assignment over the WHOLE centroid table in one
  * compiled loop — the IVF `assign` kernel. The naive formulation (an
  * `array_max` over nCells `struct(cosine_sim, cell)` subtrees) is
  * correct but its expression tree grows with nCells: past a few dozen
  * cells codegen falls back to interpreted eval and every row allocates
  * nCells literal arrays and structs — a 5× wall-clock hit observed at
  * 1M rows × 64 cells (ScaleProbeSpec). This expression carries the
  * centroids as one plan-riding reference and loops in Java.
  *
  * Bit-parity contract: the cosine is [[graft.functions.expressions.CosineSim]]'s
  * exact arithmetic (double accumulation in index order, zero-norm → 0),
  * and ties pick the HIGHER cell id — `array_max` over `(score, cell)`
  * structs resolved score ties by the second field, and assignments must
  * not move under the rewrite.
  */
case class NearestCell(child: org.apache.spark.sql.catalyst.expressions.Expression,
                       centroids: Seq[Array[Float]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{DataType, IntegerType}

  override def dataType: DataType = IntegerType

  // per-centroid squared norms, hoisted out of the per-row cell sweep
  // (bit-transparent — see CellRank.scores' cn contract)
  @transient private lazy val cNorms: Array[Double] =
    CellRank.normsOf(centroids)

  override def nullSafeEval(in: Any): Any =
    CellRank.nearest(centroids, in.asInstanceOf[ArrayData].toFloatArray(), cNorms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCellExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (Integer)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): NearestCell =
    copy(child = c)
}

/** Top-`nProbe` cells by query-centroid cosine, as one compiled loop —
  * the per-QUERY-row twin of [[NearestCell]] for [[Similarity.knnJoin]].
  * Replaces the struct-sort expression chain whose size grew with
  * nCells (interpreted fallback + per-row literal allocation past a few
  * dozen cells). Evaluates [[CellRank.topCells]] — the SAME kernel
  * `rankCells` calls — so the expression path and the driver-ranked
  * batch probe choose identical cells by construction (score
  * descending, ties toward the LOWER cell id).
  */
case class ProbeCells(child: org.apache.spark.sql.catalyst.expressions.Expression,
                      centroids: Seq[Array[Float]], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // per-centroid squared norms, hoisted out of the per-row cell sweep
  // (bit-transparent — see CellRank.scores' cn contract)
  @transient private lazy val cNorms: Array[Double] =
    CellRank.normsOf(centroids)

  override def nullSafeEval(in: Any): Any =
    new GenericArrayData(
      CellRank.topCells(centroids, in.asInstanceOf[ArrayData].toFloatArray(),
        nProbe, cNorms).map(Int.box(_): Any))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probeCellsExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): ProbeCells =
    copy(child = c)
}

/** Greedy maximal-marginal-relevance selection over ONE query's bounded
  * shortlist (Carbonell & Goldstein 1998): picks `k` items maximizing
  * `λ·relevance − (1−λ)·max-similarity-to-already-picked` — the
  * diversity-aware re-rank used to de-redundify retrieval shortlists
  * and to pick varied training examples.
  *
  * Input: `array<struct<id:long, rel_nano:long, vm:array<long>>>` (one
  * query's shortlist; `vm` = milli-quantized embedding). Output: the
  * picked `struct<id:long, mmr_pico:long>`s in pick order. All
  * arithmetic is engine-portable: pairwise similarity is
  * `floor(1e9·dot/(sqrt(na)·sqrt(nb)) + 0.5)` over EXACT integer
  * dots/norms (sqrt and one divide are IEEE-correctly rounded — the
  * Rocchio recipe), the objective is exact pico-unit integers, ties
  * break toward the lower id. The whole greedy is O(k·n·dim) per query
  * over a BOUNDED n, so the expression runs inside whatever
  * distributed shape groups the shortlists — no driver loop.
  */
case class MmrSelect(child: org.apache.spark.sql.catalyst.expressions.Expression,
                     k: Int, lambdaMilli: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._

  require(k >= 1 && lambdaMilli >= 0 && lambdaMilli <= 1000)

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("mmr_pico", LongType, nullable = false))), containsNull = false)

  /** `floor(1e9·dot/(√na·√nb) + 0.5)`, zero-norm → 0 — written in the
    * exact operation order the SQL oracle uses.
    */
  private def simNano(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0L
    else math.floor(1.0e9 * dot / (math.sqrt(na) * math.sqrt(nb)) + 0.5).toLong
  }

  override def nullSafeEval(in: Any): Any = {
    val arr = in.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val rel = new Array[Long](n)
    val vms = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      ids(i) = row.getLong(0)
      rel(i) = row.getLong(1)
      vms(i) = row.getArray(2).toLongArray()
      i += 1
    }
    val taken = new Array[Boolean](n)
    val maxSim = Array.fill(n)(Long.MinValue) // max sim to picked set; none yet
    val picks = math.min(k, n)
    // duplicate-id retirement can exhaust candidates before `picks`
    // rounds, so collect into a growable buffer and stop when empty
    val out = new scala.collection.mutable.ArrayBuffer[Any](picks)
    var p = 0
    var exhausted = false
    while (p < picks && !exhausted) {
      var best = -1
      var bestScore = Long.MinValue
      var c = 0
      while (c < n) {
        if (!taken(c)) {
          val ms = if (p == 0) 0L else maxSim(c)
          val score = lambdaMilli * rel(c) - (1000L - lambdaMilli) * ms
          if (score > bestScore ||
              (score == bestScore && (best == -1 || ids(c) < ids(best)))) {
            bestScore = score; best = c
          }
        }
        c += 1
      }
      if (best == -1) { exhausted = true } else {
      taken(best) = true
      out += InternalRow(ids(best), bestScore)
      // fold the new pick into every remaining candidate's max-sim; a
      // duplicate COPY of the picked id is retired by value too — one id
      // can appear at most once in the output (the oracle's NOT EXISTS
      // contract), even when the caller's shortlist carries repeats
      var c2 = 0
      while (c2 < n) {
        if (!taken(c2)) {
          if (ids(c2) == ids(best)) taken(c2) = true
          else {
            val s = simNano(vms(c2), vms(best))
            if (s > maxSim(c2) || maxSim(c2) == Long.MinValue) maxSim(c2) = s
          }
        }
        c2 += 1
      }
      p += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mmrSelectExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): MmrSelect =
    copy(child = c)
}
