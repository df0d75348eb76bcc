package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.LocalScan
import graft.functions.{functions => gf}

/** Deduplication operators for a training-data pipeline. Five strategies,
  * all shuffle-minimal by construction:
  *
  *  - exact: one hash-groupBy (map-side partial agg, single shuffle on the
  *    64-bit content hash — never on the text itself).
  *  - MinHash+LSH: shingle → k-min signature → band keys → bucket join.
  *    The self-join is on band keys only, so candidate generation scales
  *    with bucket sizes, not n².
  *  - SimHash: one codegen'd pass to a 64-bit sketch, then band-bucketing
  *    of the sketch for candidates, Hamming verify.
  *  - n-gram Jaccard: candidates from LSH (or any blocking), verified with
  *    exact Jaccard over shingle sets.
  *  - embedding cosine: near-dup on a vector column via bucketed cosine.
  */
object Dedup {

  /** Exact dedup: keep the lowest `idCol` per identical `textCol`.
    * Hash first so the shuffle key is 8 bytes, not document bodies; the
    * groupBy gets a map-side partial min. (A full-text collision check
    * after hashing would re-shuffle the bodies; at 64-bit hashes over
    * even 10^11 docs the collision expectation is ~0.3 pairs — accepted
    * and documented, same trade the reference's block LZ4 checksums make.)
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.withColumn("__h", xxhash64(col(textCol)))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Survivors of exact dedup (the kept rows). */
  def exactSurvivors(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(df, idCol, textCol).select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup of an incoming batch against an EXISTING
    * corpus — the steady-state ingestion shape: the corpus is orders of
    * magnitude larger than the batch and must not be re-shuffled per
    * ingest. A bloom filter over the corpus keys (one distributed
    * aggregate here; streaming callers cache it across batches via
    * [[incrementalSurvivorsWith]] + `BloomJoin.merge` instead of
    * rebuilding) splits the batch: rows failing
    * `might_contain` are PROVABLY new (bloom has no false negatives) and
    * skip the join entirely; only the might-match remainder — the true
    * dups plus ~1% false positives — reaches the exact anti join. Result
    * is exactly `incoming anti-join corpus` on `keyCol`; only the
    * (tiny) might-match slice of the batch ever shuffles against corpus
    * keys.
    */
  def incrementalSurvivors(incoming: DataFrame, corpusKeys: DataFrame,
                           keyCol: String, expectedItems: Long = 1L << 20,
                           numBits: Long = 1L << 24): DataFrame = {
    val bf = graft.operators.BloomJoin.keyFilterBytes(
      corpusKeys.select(keyCol), col(keyCol), expectedItems, numBits)
    incrementalSurvivorsWith(bf, incoming, corpusKeys, keyCol)
  }

  /** [[incrementalSurvivors]] against a PREBUILT corpus filter — the form a
    * steady-state streaming ingest uses: the caller caches the sketch
    * across batches (OR-merging each committed batch's keys via
    * [[graft.operators.BloomJoin.merge]]) so no per-batch corpus scan ever
    * runs to build it. When the might-match slice of the batch is EMPTY —
    * the provably-all-new batch, the statistically dominant case for fresh
    * content at ~1% fp sizing — the exact anti join is skipped entirely and
    * the batch touches ZERO corpus bytes; the emptiness check itself is one
    * O(batch) job. `bf == null` means an empty corpus (everything is new).
    */
  def incrementalSurvivorsWith(bf: Array[Byte], incoming: DataFrame,
                               corpusKeys: DataFrame, keyCol: String): DataFrame = {
    if (bf == null) return incoming // empty corpus: the whole batch is new
    val mc = graft.operators.BloomJoin.mightContain(bf, col(keyCol))
    val mightMatch = incoming.filter(mc)
    if (mightMatch.isEmpty) incoming // provably new: no corpus IO at all
    else incoming.filter(!mc).unionByName(
      mightMatch.join(corpusKeys.select(keyCol), Seq(keyCol), "left_anti"))
  }

  /** NEAR-dup dedup of an incoming batch against an EXISTING corpus — the
    * LSH twin of [[incrementalSurvivorsWith]]: `corpusBands` is the
    * corpus's persisted band-row set (`(band, bucket, id, sig)`, built by
    * [[bandRows]] — e.g. a KV snapshot keyed `(band, bucket, id)`, read
    * manifest-pruned via `KVIndex.getAllPrefix` on the incoming batch's
    * band keys). The incoming batch is banded once, candidate pairs come
    * from (band, bucket) equality — never all-pairs — and are verified by
    * signature match rate at `threshold` (the same estimator
    * [[minhashLsh]] thresholds on, so batch and incremental semantics
    * agree). Survivors are incoming rows with NO corpus near-dup;
    * incoming-vs-incoming near-dups are deliberately NOT removed here
    * (run [[minhashLsh]] within the batch first if wanted).
    *
    * Scale shape: only the batch is banded per call; the corpus side is
    * whatever slice the caller hands in — with a pruned `getAllPrefix`
    * read that is O(touched band files), not O(corpus).
    */
  def incrementalNearDupSurvivors(incoming: DataFrame, corpusBands: DataFrame,
                                  idCol: String = "doc_id", textCol: String = "text",
                                  shingleLen: Int = 3, bands: Int = 16,
                                  rowsPerBand: Int = 4,
                                  threshold: Double = 0.5): DataFrame = {
    // inBanded appears ONCE in the final plan (the verify join); `incoming`
    // appears twice (banding + the anti-join left side) — callers holding a
    // compute-heavy `incoming` should persist it around the call
    val inBanded = bandRows(incoming, idCol, textCol, shingleLen, bands, rowsPerBand)
    val matched = corpusBands
      .select(col("band"), col("bucket"), col("sig").as("corpus_sig"))
      .join(inBanded.select(col("band"), col("bucket"), col("id"), col("sig")),
        Seq("band", "bucket"))
      .filter(gf.sig_match_rate(col("sig"), col("corpus_sig")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    incoming.join(matched, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination — which training docs share at least one
    * word n-gram with an evaluation/benchmark set (the standard
    * train-test-overlap check an LLM data pipeline runs before training).
    * Returns (idCol, n_shared) for contaminated training docs.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus, so its
    * DISTINCT gram set is broadcast — the 100 TB training side is a single
    * projection + explode + broadcast-hash semi-match, never shuffled on
    * grams; `array_distinct` before the explode keeps the row expansion at
    * distinct-grams-per-doc.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", n: Int = 3): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), gf.ws_tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col(idCol), explode(array_distinct(gf.shingles(col("tk"), n))).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
    grams(train)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol).agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    *
    * @param k      signature length (bands * rowsPerBand)
    * @param bands  number of LSH bands; collision prob for similarity s is
    *               1-(1-s^rowsPerBand)^bands.
    * Returns (idA, idB, est_jaccard) with idA < idB; est_jaccard is the
    * signature agreement rate (unbiased Jaccard estimate); `threshold`
    * filters the verified estimate.
    */
  /** MinHash band rows of a corpus slice: `(band, bucket, id, sig)` — one
    * row per (doc, band). This IS the LSH index content: persisted as a
    * KV snapshot keyed `(band, bucket, id)` it becomes a probeable
    * near-dup index (see [[incrementalNearDupSurvivors]] and
    * `EventStreams.streamNearDupIngest`); exploded in place it feeds the
    * batch self-join ([[minhashLsh]]).
    */
  def bandRows(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               shingleLen: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    df.select(col(idCol).as("id"),
        gf.minhash_text_sig(col(textCol), shingleLen, k).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(gf.lsh_bands(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("id"), col("sig"))
  }

  def minhashLsh(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 shingleLen: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                 threshold: Double = 0.5): DataFrame = {
    val banded = bandRows(df, idCol, textCol, shingleLen, bands, rowsPerBand)
      // persist: the self-join would otherwise recompute (and re-codegen)
      // the whole tokenize->shingle->sign subtree for BOTH sides
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = banded.select(col("band"), col("bucket"), col("id").as("idA"), col("sig").as("sigA"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("idB"), col("sig").as("sigB"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        gf.sig_match_rate(col("sigA"), col("sigB")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold) // filter BEFORE the pair dedup
      .distinct()
  }

  /** SimHash near-dup: sketch every doc (one pass), bucket by 16-bit chunks
    * of the sketch (a 64-bit sketch split into 4 chunks guarantees any pair
    * with Hamming distance <= 3 shares a chunk — pigeonhole), verify with
    * exact Hamming distance.
    */
  def simhash(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              maxHamming: Int = 3): DataFrame = {
    val sk = df.select(col(idCol).as("id"),
      gf.simhash64(gf.ws_tokens(col(textCol))).as("sk"))
    val chunks = sk.withColumn("c", explode(array((0 until 4).map(i =>
        struct(lit(i).as("i"),
          shiftright(col("sk"), i * 16).bitwiseAND(lit(0xffffL)).as("v"))): _*)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = chunks.select(col("c"), col("id").as("idA"), col("sk").as("skA"))
    val b = chunks.select(col("c"), col("id").as("idB"), col("sk").as("skB"))
    a.join(b, Seq("c")).filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        gf.hamming64(col("skA"), col("skB")).as("hamming"))
      .filter(col("hamming") <= maxHamming) // cheap verify BEFORE the shuffle
      .distinct()
  }

  /** Exact n-gram Jaccard over LSH candidates: hash-shingle only the
    * candidate pairs' docs (tiny vs corpus) and compute |A∩B| / |A∪B|
    * exactly with a sorted-merge kernel — no shingle strings, no per-pair
    * hash-set allocation (exact modulo 64-bit hash collisions).
    *
    * @param prefilterSlack candidates whose 64-hash MinHash ESTIMATE falls
    *   below `threshold - prefilterSlack` are dropped before the exact
    *   verify join (which otherwise shuffles full shingle arrays for every
    *   band-sharing pair). RECALL BOUND: the estimate's std-dev is
    *   sqrt(j(1-j)/64) <= 0.0625, so slack 0.25 is 4 sigma — under 1 in
    *   3x10^4 true at-threshold pairs lost; pass `Double.MaxValue` for
    *   exact-over-candidates with no prefilter.
    */
  def ngramJaccard(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   prefilterSlack: Double = 0.25): DataFrame = {
    val cands = minhashLsh(df, idCol, textCol, shingleLen,
      threshold = math.max(0.0, threshold - prefilterSlack))
    val sets = df.select(col(idCol).as("id"),
      gf.shingle_hashes(col(textCol), shingleLen).as("sh"))
    cands
      .join(sets.select(col("id").as("idA"), col("sh").as("shA")), Seq("idA"))
      .join(sets.select(col("id").as("idB"), col("sh").as("shB")), Seq("idB"))
      .withColumn("jaccard", gf.jaccard_sorted(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")
  }

  /** Connected components over candidate pairs: every node gets the
    * minimum id reachable through the pair graph. Each distributed
    * iteration does a neighbor-min propagation step AND a pointer-doubling
    * (path-halving) step — `label := label(label)` — so convergence takes
    * O(log2 diameter) iterations, not O(diameter) (the Hash-to-Min /
    * CC-MR family of MapReduce CC algorithms): maxIter=10 covers
    * diameters near 2^10, far beyond adversarial near-dup chains.
    * If the loop still exits hot it THROWS rather than silently returning
    * partially-propagated labels (wrong clusters are worse than no
    * clusters at 100 TB). Pairs within the driver bound
    * ([[LocalScan.collectBelow]]) skip the loop: one bounded take feeds a
    * driver union-find, and a budget of 0 forces the distributed path.
    * Returns (id, cluster); nodes absent from any pair are not returned
    * (they are their own singleton cluster).
    */
  def clusters(pairs: DataFrame, idACol: String = "idA", idBCol: String = "idB",
               maxIter: Int = 10): DataFrame = {
    // near-dup candidate pairs are tiny relative to the corpus: a driver
    // union-find saves the loop's per-iteration job overhead
    val spark = pairs.sparkSession
    // the pair plan is usually an LSH self-join — persist so the bounded
    // take and a distributed fallback don't run it twice
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val small = LocalScan.collectBelow(
      p.select(col(idACol).cast("long"), col(idBCol).cast("long")))
    if (small.isDefined) {
      import spark.implicits._
      val es = small.get.map(r => (r.getLong(0), r.getLong(1)))
      p.unpersist()
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      return parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "label")
    }
    // CRITICAL — lineage truncation. `labels` appears twice per iteration
    // (once in the union, once in the convergence join); persist() caches
    // data but NOT the logical plan, so without truncation the analyzed
    // plan DOUBLES every iteration and the driver wedges re-planning an
    // exponential tree (this wedged round 3's verify and bench). `pin`
    // materializes a DataFrame into a cached RDD and re-enters SQL via
    // createDataFrame, making each iteration's result a plan LEAF — and,
    // unlike localCheckpoint, hands back the RDD so superseded iterations
    // can be unpersisted deterministically (at 100 TB, 10 retained copies
    // of the label table would not be free).
    import org.apache.spark.storage.StorageLevel
    // pin on INTERNAL rows (toRdd + internalCreateDataFrame): `.rdd` would
    // decode every row to an external GenericRow and re-encode it on
    // re-entry — pure serialization overhead on a table that is rebuilt
    // and rescanned 3× per iteration. UnsafeRow buffers are reused by the
    // producing operators, so each row is copied once into the cache.
    def pin(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]) = {
      val r = df.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      (org.apache.spark.sql.graft.Shim.fromInternalRows(spark, r, df.schema), r)
    }
    // edges: a plain persisted DataFrame, NOT a pin — its plan is constant
    // (no per-iteration growth, pin is only needed for the label table),
    // and a pinned leaf carries no partitioning metadata, so every
    // iteration re-shuffled the edge table into the neighbor-min join.
    // Pre-partitioned on dst (the join key) + sorted, the cached layout is
    // the one the per-iteration SMJ needs — the edge side never moves
    // again (the PageRank r20 lesson).
    val edges = p.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(p.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .repartition(col("dst"))
      .distinct()
      .sortWithinPartitions("dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var (labels, labelsRdd) = pin(
      edges.select(col("src").as("id")).distinct().withColumn("label", col("id")))
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // next label = min(own, min over neighbors); carrying the previous
      // label as a column makes the convergence check a scan of the
      // just-pinned cache — one action per iteration, no extra join
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("label")).as("nbr"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      // pointer doubling (path halving): label := min(label, label(label)).
      // Labels are node ids, so the current label table doubles as the
      // pointer table; one extra equi-join per iteration halves the
      // remaining pointer-chain depth — log2(diameter) total iterations
      val (next, nextRdd) = pin(
        stepped.join(
            labels.select(col("id").as("__lid"), col("label").as("__ll")),
            stepped("label") === col("__lid"), "left")
          .select(col("id"), col("prev"),
            least(col("label"), coalesce(col("__ll"), col("label"))).as("label")))
      val changed = next.filter(col("label") =!= col("prev")).count() > 0
      labelsRdd.unpersist(blocking = false)
      labels = next.select("id", "label")
      labelsRdd = nextRdd
      converged = !changed
      i += 1
    }
    edges.unpersist(blocking = false)
    p.unpersist()
    if (!converged) {
      labelsRdd.unpersist(blocking = false)
      throw new IllegalStateException(
        s"Dedup.clusters: label propagation did not converge in $maxIter " +
        "iterations (component diameter near 2^maxIter) — raise maxIter")
    }
    labels
  }

  /** Transitive near-duplicate survivor set: keep each cluster's minimum
    * id plus every unpaired document.
    */
  def nearDupSurvivors(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, threshold = threshold)
    val labeled = clusters(pairs)
    val losers = labeled.filter(col("id") =!= col("label")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup over a vector column: random-hyperplane LSH
    * buckets (sign bits of nPlanes fixed pseudo-random projections) then
    * exact cosine verify inside buckets — same plan shape as [[simhash]],
    * never all-pairs.
    *
    * Multi-probe: one join side also lands in every bucket at Hamming
    * distance 1 in sign space (nPlanes extra rows per vector), so a pair
    * straddling ONE hyperplane is still a candidate — the standard
    * recall fix for sign-LSH, costing a (nPlanes+1)× row expansion of one
    * side instead of more tables.
    */
  def embeddingCosine(df: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", dim: Int = 64,
                      nPlanes: Int = 8, threshold: Double = 0.95,
                      multiProbe: Boolean = true): DataFrame = {
    val planes = RandomPlanes.planes(nPlanes, dim)
    val sigExpr = planes.zipWithIndex.map { case (p, i) =>
      val dot = gf.dot_f(col(vecCol), array(p.map(v => lit(v)): _*))
      when(dot >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))
    val sk = df.select(col(idCol).as("id"), col(vecCol).as("v"), sigExpr.as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sk.select(col("bucket"), col("id").as("idA"), col("v").as("vA"))
    val bBuckets =
      if (!multiProbe) array(col("bucket"))
      else array(col("bucket") +:
        (0 until nPlanes).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val b = sk.select(explode(bBuckets).as("bucket"),
      col("id").as("idB"), col("v").as("vB"))
    a.join(b, Seq("bucket")).filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"),
        gf.cosine_sim(col("vA"), col("vB")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-duplicate
    * REMOVAL by clustering embeddings and pruning within clusters — the
    * step that catches re-phrasings exact/MinHash dedup cannot see.
    * Each vector is assigned to its nearest of `nCells` k-means cells
    * ([[graft.similarity.Similarity.ivfBuild]] — deterministic smallest-
    * hash seeds + one refinement pass), then within every cell any vector
    * whose cosine to a SMALLER-id cell-mate reaches `threshold` is
    * dropped (keep-first, deterministic). Returns the surviving rows of
    * `df` unchanged.
    *
    * Scale path: the pairwise stage is confined to cells — cost is
    * sum over cells of |cell|² rather than corpus², and the cell count is
    * chosen so cells fit comfortably in a task (the paper's cost model);
    * the join key is the cell id, so each cell's pairs build inside one
    * shuffle partition with no cross-cell traffic. The assigned table is
    * persisted for its two sides of the self-join (session-lived, the
    * [[embeddingCosine]] convention). A pathological giant cell is the
    * skew to watch at 100 TB — split such cells by re-clustering or cap
    * with a secondary hash, as the paper does with balanced k-means.
    */
  def semDedup(df: DataFrame, nCells: Int, threshold: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (indexed, _) = graft.similarity.Similarity.ivfBuild(df, nCells, idCol, vecCol)
    val sk = indexed.select(col("cell"), col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sk.select(col("cell"), col("id").as("idA"), col("v").as("vA"))
    val b = sk.select(col("cell"), col("id").as("idB"), col("v").as("vB"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("idA") < col("idB"))
      .filter(gf.cosine_sim(col("vA"), col("vB")) >= threshold)
      .select(col("idB").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Cross-document segment dedup — the CCNet/RefinedWeb boilerplate-removal
    * step: split every document into consecutive `segTokens`-token segments
    * (the pseudo-paragraph unit), count each distinct segment's document
    * frequency across the whole corpus, strip segments appearing in
    * >= `minDf` documents, and reassemble the survivors in original order.
    *
    * Output per doc: `n_segs`, `n_removed`, `cleaned` (surviving segments
    * joined by single spaces; empty string if everything was boilerplate).
    *
    * Plan shape: segments explode once (non-overlapping slices — O(n)
    * total, unlike per-gram shingling); the document-frequency aggregate
    * shuffles SEGMENT HASHES, not bodies, conceptually — here segments are
    * short so they ride directly; and the frequent-segment list (only
    * segments crossing the threshold — tiny in a real corpus, where
    * boilerplate is a small distinct set repeated massively) broadcasts
    * back, so the corpus never self-joins.
    */
  def dedupSegments(df: DataFrame, segTokens: Int = 10, minDf: Int = 2,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(segTokens > 0 && minDf > 1)
    val segs = df
      .select(col(idCol), gf.ws_tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(__tk) / ${segTokens}.0) AS int) - 1), " +
          s"i -> array_join(slice(__tk, i * $segTokens + 1, $segTokens), ' '))"))
        .as(Seq("pos", "seg")))
    val frequent = segs.groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("seg"), lit(true).as("__dup"))
    segs.join(broadcast(frequent), Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("__dup"), 1)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("__dup").isNull,
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("cleaned"))
  }

  /** Exact duplicated-SUBSTRING spans — the suffix-array dedup step of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), re-expressed as relational algebra: find every
    * maximal run of tokens that some `gramTokens`-token window shares with
    * >= `minDf` documents, and report it as a per-document span. Doc-level
    * and segment-level dedup can't see these (a long doc quoting one
    * paragraph of another is unique at both granularities); span detection
    * is what actually removes the quoted bytes.
    *
    * Method: slide a `gramTokens` window over every document (one gram per
    * token position), count each gram's document frequency corpus-wide,
    * keep positions whose gram clears `minDf`, and merge
    * overlapping-or-adjacent surviving windows into maximal spans. Because
    * every window has the SAME width, interval merge degenerates to
    * gaps-and-islands over the sorted positions: a new span starts exactly
    * where `pos - lag(pos) > gramTokens` — a pure window-function pass, no
    * per-row interval fold.
    *
    * Output: one row per span — `(doc_id, span_start, span_end,
    * span_tokens)`, token indices 0-based, end exclusive.
    *
    * Plan shape, in 100-TB order: the gram strings are hashed to 64 bits
    * IMMEDIATELY after the window explode, so both shuffles move
    * `(hash | doc_id, pos)` tuples — 8-byte keys, never text. The
    * document-frequency aggregate gets a map-side partial; the
    * surviving-position probe is a hash semi-join on the 8-byte key set
    * (NOT broadcast — at corpus scale the duplicated-gram set is
    * unbounded); the island merge partitions by doc, and only DUPLICATED
    * positions reach it (a tiny fraction of the corpus in the non-spam
    * case). The exploded gram table is persisted spill-safe because it
    * feeds both the frequency count and the probe side — an unpersisted
    * plan would tokenize+shingle the corpus twice. The persisted table is
    * MEMOIZED per (session, input plan, params): repeated calls on the
    * same documents — the span query and its apply step, or a bench loop
    * re-running either — share ONE pinned copy instead of accumulating
    * fresh ones. Entries live until [[releaseGramCache]] (or session
    * end / block-manager eviction); a long-lived driver running repeated
    * passes over CHANGING corpora should call it between passes. 64-bit
    * hashing accepts the same ~n²/2⁶⁵ collision expectation as [[exact]];
    * a collision can only join two spans that were already duplicated.
    */
  def substringSpans(df: DataFrame, gramTokens: Int = 8, minDf: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(gramTokens > 0 && minDf > 1)
    val plan = df.queryExecution.analyzed
    val key = (System.identityHashCode(df.sparkSession),
      plan.semanticHash(), gramTokens, idCol, textCol)
    val grams = gramCache.get(key).flatMap(_.collectFirst {
      case (p, g) if p.sameResult(plan) => g
    }).getOrElse {
      val built = df
        .select(col(idCol), gf.ws_tokens(col(textCol)).as("__tk"))
        .filter(size(col("__tk")) >= gramTokens)
        .select(col(idCol), posexplode(expr(
          s"transform(sequence(0, size(__tk) - $gramTokens), " +
            s"i -> array_join(slice(__tk, i + 1, $gramTokens), ' '))"))
          .as(Seq("pos", "gram")))
        .select(col(idCol), col("pos"), xxhash64(col("gram")).as("__h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      gramCache.updateWith(key) {
        case Some(entries) => Some((plan, built) :: entries)
        case None          => Some(List((plan, built)))
      }
      built
    }
    val dup = grams.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__h"))
    val perDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    grams.join(dup, Seq("__h"), "left_semi")
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(perDoc) <= gramTokens, 0)
          .otherwise(1))
      .withColumn("__grp", sum(col("__brk")).over(perDoc))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + gramTokens).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Memo of [[substringSpans]]'s persisted gram tables, keyed by
    * (session identity, input-plan semanticHash, gramTokens, id/text cols)
    * with `sameResult` confirming each hit — hash buckets hold a list so
    * distinct same-hash plans never collide.
    */
  private[graft] val gramCache = scala.collection.concurrent.TrieMap
    .empty[(Int, Int, Int, String, String),
      List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]]

  /** Unpersist every memoized gram table (entries bound to an
    * already-stopped session are dropped silently).
    */
  def releaseGramCache(): Unit = {
    gramCache.values.flatten
      .foreach { case (_, g) => scala.util.Try(g.unpersist(blocking = false)) }
    gramCache.clear()
  }

  /** Apply [[substringSpans]] output: rebuild every document with the
    * tokens inside its duplicated spans removed (the Lee-et-al. "drop the
    * repeated bytes" step — docs survive, quotes don't). `spans` is any
    * frame shaped like [[substringSpans]]'s output for the same id column.
    *
    * Output per doc: `n_tokens` (original), `n_removed`, `cleaned`
    * (surviving tokens joined by single spaces — whitespace-normalized
    * like every token-level op here).
    *
    * Plan shape: spans collapse to one bounded array per doc (spans are
    * disjoint, so ≤ tokens/window of them per doc), join back to the
    * corpus on the id — one shuffle each side, then a single
    * codegen-friendly HOF pass filters tokens by span membership. No
    * range join, no explode of the corpus tokens.
    */
  def removeSpans(df: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol), gf.ws_tokens(col(textCol)).as("__tk"),
        coalesce(col("__spans"), array()).as("__sp"))
      .select(col(idCol), col("__tk"),
        expr("filter(__tk, (x, i) -> NOT exists(__sp, s -> i >= s.s AND i < s.e))")
          .as("__keep"))
      .select(col(idCol),
        size(col("__tk")).as("n_tokens"),
        (size(col("__tk")) - size(col("__keep"))).as("n_removed"),
        array_join(col("__keep"), " ").as("cleaned"))
  }
}

/** Deterministic pseudo-random hyperplanes (splitmix64 stream) — fixed seed
  * so bucket assignment is reproducible across runs/partitions.
  */
object RandomPlanes {
  def planes(n: Int, dim: Int): Seq[Array[Float]] = {
    var s = 0x9e3779b97f4a7c15L
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until n).map { _ =>
      Array.fill(dim)((next().toDouble / Long.MaxValue).toFloat)
    }
  }
}
