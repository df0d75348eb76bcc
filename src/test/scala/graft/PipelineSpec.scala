package graft

import org.apache.spark.sql.functions._
import graft.core.LocalScan
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.text.TextAnalysis

/** Training-data pipeline operators: planted duplicates / near-duplicates /
  * near vectors must be found; clean data must not produce false positives
  * at the tested thresholds.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "data", "spark", "table", "row")
  private def doc(n: Int = 60): String =
    (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")

  // 40 distinct docs + 1 exact dup + 1 near dup (one word changed)
  private lazy val base = (0 until 40).map(i => (i.toLong, doc()))
  private lazy val docsDf = {
    val exactDup = (100L, base(3)._2)
    val nearDup = (101L, base(7)._2.replaceFirst("\\w+", "changedword"))
    (base :+ exactDup :+ nearDup).toDF("doc_id", "text")
  }

  test("exact dedup: keeps min id per identical text, survivor set correct") {
    val kept = Dedup.exact(docsDf).collect()
    assert(kept.length == 41) // 42 docs, one exact pair collapsed
    val copies = kept.find(_.getLong(1) == 2)
    assert(copies.exists(_.getLong(0) == 3L)) // min(3, 100)
    val survivors = Dedup.exactSurvivors(docsDf).select("doc_id").as[Long].collect()
    assert(survivors.length == 41 && !survivors.contains(100L))
  }

  test("minhash LSH: finds the exact and near duplicate, not random pairs") {
    val pairs = Dedup.minhashLsh(docsDf, threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 100L)), "exact dup must be found")
    assert(pairs.contains((7L, 101L)), "near dup must be found")
  }

  test("ngram jaccard verify: exact dup scores 1.0, near dup high, others filtered") {
    val verified = Dedup.ngramJaccard(docsDf, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val m = verified.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m.get((3L, 100L)).contains(1.0))
    assert(m.get((7L, 101L)).exists(_ > 0.8))
  }

  test("simhash: exact dup at hamming 0; near dup within threshold") {
    val res = Dedup.simhash(docsDf, maxHamming = 10)
      .as[(Long, Long, Int)].collect()
    val m = res.map { case (a, b, h) => (a, b) -> h }.toMap
    assert(m.get((3L, 100L)).contains(0))
    assert(m.get((7L, 101L)).exists(_ <= 10))
  }

  test("clusters: transitive closure over chained pairs (both paths)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    for (budget <- Seq(LocalScan.BudgetBytes, 0L)) { // driver union-find AND distributed
      val labeled = LocalScan.withBudget(budget)(Dedup.clusters(pairs))
        .as[(Long, Long)].collect().toMap
      assert(labeled(1L) == 1L && labeled(2L) == 1L && labeled(3L) == 1L && labeled(4L) == 1L,
        s"path budget=$budget")
      assert(labeled(10L) == 10L && labeled(11L) == 10L)
    }
  }

  test("clusters: the driver path is one Spark job, the bounded take of the pairs") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // one partition, as AQE leaves a small pair set after its coalescing
    // (a take over more partitions scans 1, then up to 4x more per job)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB").coalesce(1)
    Thread.sleep(300) // the listener bus is async: let earlier jobs drain
    spark.sparkContext.addSparkListener(listener)
    val labeled =
      try { val l = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap; Thread.sleep(300); l }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(labeled == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert(jobs.get == 1, s"driver path ran ${jobs.get} jobs")
  }

  test("nearDupSurvivors keeps one doc per near-dup cluster") {
    val survivors = Dedup.nearDupSurvivors(docsDf, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(3L) && !survivors.contains(100L), "exact pair collapsed")
    assert(survivors.contains(7L) && !survivors.contains(101L), "near pair collapsed")
    assert(survivors.size == 40)
  }

  test("embedding cosine near-dup finds planted near vectors; multi-probe ⊇ single-probe") {
    val dim = 16
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 30).map(i => (i.toLong, v()))
    // plant near-dups with enough noise that some cross one hyperplane
    val planted = (0 until 10).map { j =>
      (200L + j, vs(j)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f))
    }
    val df = (vs ++ planted).toDF("vec_id", "embedding")
    val multi = Dedup.embeddingCosine(df, dim = dim, threshold = 0.97)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val single = Dedup.embeddingCosine(df, dim = dim, threshold = 0.97,
      multiProbe = false).select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi), "multi-probe must not lose candidates")
    val expected = (0 until 10).map(j => (j.toLong, 200L + j)).toSet
    val multiHits = expected.intersect(multi).size
    assert(multiHits >= 8, s"multi-probe recall too low: $multiHits/10")
    assert(multiHits >= expected.intersect(single).size)
  }

  test("brute-force top-k: self is rank 1; ivf probe overlaps brute force") {
    val dim = 16
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 200).map(i => (i.toLong, v()))
    val df = vs.toDF("vec_id", "embedding").cache()
    val q = vs(17)._2
    val brute = Similarity.bruteForceTopK(df, q, 10).select("vec_id").as[Long].collect()
    assert(brute.head == 17L)
    val (indexed, cents) = Similarity.ivfBuild(df, 8)
    val ivf = Similarity.ivfTopK(indexed, cents, q, 10, nProbe = 4)
      .select("vec_id").as[Long].collect()
    assert(ivf.contains(17L))
    assert(brute.toSet.intersect(ivf.toSet).size >= 5, "probe recall too low")
  }

  test("batch IVF probe: per-query results equal the single-query probe, one scan") {
    val dim = 16
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 200).map(i => (i.toLong, v()))
    val df = vs.toDF("vec_id", "embedding").cache()
    val (indexed, cents) = Similarity.ivfBuild(df, 8)
    val qids = Seq(5L, 17L, 99L)
    val queries = qids.map(i => (i, vs(i.toInt)._2)).toDF("q_id", "q_vec")
    val batch = Similarity.ivfTopKBatch(indexed, cents, queries, 10, nProbe = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(batch.keySet == qids.toSet)
    qids.foreach { q =>
      val single = Similarity.ivfTopK(indexed, cents, vs(q.toInt)._2, 10, nProbe = 4)
        .select("vec_id").as[Long].collect().toSet
      assert(batch(q) == single,
        s"batch probe for q=$q diverged from the single-query probe")
      assert(batch(q).contains(q), "self must be found")
    }
  }

  test("IVF store: cell-partitioned write, pruned probe matches in-memory probe") {
    val dim = 16
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 150).map(i => (i.toLong, v()))
    val df = vs.toDF("vec_id", "embedding")
    val (indexed, cents) = Similarity.ivfBuild(df, 6)
    val path = tmpDir("graft-ivf")
    Similarity.ivfWrite(indexed, path)
    val q = vs(42)._2
    val mem = Similarity.ivfTopK(indexed, cents, q, 5, nProbe = 3)
      .select("vec_id").as[Long].collect().toSeq
    val stored = Similarity.ivfTopKFromStore(spark, path, cents, q, 5, nProbe = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(mem == stored)
    // the probe plan prunes partitions: only nProbe cell dirs are read
    val plan = Similarity.ivfTopKFromStore(spark, path, cents, q, 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), s"expected partition pruning in:\n$plan")
    // the BATCH probe from the store prunes too (unioned probed cells) and
    // agrees with the in-memory batch probe
    val queries = Seq((42L, q)).toDF("q_id", "q_vec")
    val memB = Similarity.ivfTopKBatch(indexed, cents, queries, 5, nProbe = 3)
      .select("vec_id").as[Long].collect().toSet
    val storedB = Similarity.ivfTopKBatchFromStore(spark, path, cents, queries, 5, nProbe = 3)
    assert(storedB.select("vec_id").as[Long].collect().toSet == memB)
    val planB = storedB.queryExecution.executedPlan.toString
    assert(planB.contains("PartitionFilters: [cell"),
      s"expected partition pruning in batch probe:\n$planB")
  }

  test("batch top-k scans corpus once and ranks per query") {
    val dim = 8
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 50).map(i => (i.toLong, v()))
    val df = vs.toDF("vec_id", "embedding")
    val queries = vs.take(3).map { case (i, x) => (i, x) }.toDF("q_id", "q_vec")
    val res = Similarity.windowTopKBatchOracle(df, queries, 3)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(res.count(_._3 == 1) == 3)
    res.filter(_._3 == 1).foreach { case (q, id, _) => assert(q == id) }
  }

  test("TopKAgg aggregate path equals the window path row for row") {
    val dim = 8
    def v(): Array[Float] = Array.fill(dim)(rnd.nextFloat() - 0.5f)
    val vs = (0 until 120).map(i => (i.toLong, v()))
    val df = vs.toDF("vec_id", "embedding").cache()
    val queries = vs.take(5).map { case (i, x) => (i, x) }.toDF("q_id", "q_vec")
    val win = Similarity.windowTopKBatchOracle(df, queries, 7)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    val agg = Similarity.bruteForceTopKBatchAgg(df, queries, 7)
      .select("q_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().toSet
    assert(agg == win)
    // direct aggregate on a skewed group: ties broken by id ascending
    import graft.operators.TopKAgg
    val tied = Seq((1L, 10L, 1.0), (1L, 11L, 1.0), (1L, 12L, 1.0), (1L, 9L, 0.5))
      .toDF("g", "id", "score")
    val kept = TopKAgg.topKPerGroup(tied, "g", "id", "score", 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(10L, 11L))
  }

  test("CleanCorpus composition: drops low quality, exact dups, near dups") {
    import graft.pipeline.CleanCorpus
    val junk = (200L, "!!! ??? 123 *** %%% $$$ ;;; ((( ))) @@@ ### &&& ~~ ^^ || ++")
    val all = docsDf.union(Seq(junk).toDF("doc_id", "text"))
      .withColumn("text",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("the a of to in is it and "),
          org.apache.spark.sql.functions.col("text")))
    val (cleaned, stats) = CleanCorpus(all, minQuality = 0.2,
      nearDupThreshold = 0.6, keepLangs = Seq("en"))
    assert(stats.input == 43)
    assert(stats.afterQuality <= stats.input)
    assert(stats.afterExact == stats.afterQuality - 1, "one exact dup dropped")
    assert(stats.afterNearDup < stats.afterExact, "near dup dropped")
    val ids = cleaned.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(100L) && !ids.contains(101L))
    assert(stats.afterLang == cleaned.count())
  }

  test("text analysis: token stats, quality signals, langid, fingerprints") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was good"),
      (2L, "der hund und die katze sind mit dem ball"),
      (3L, "!!! ??? ... 123 456 789 *** %%% $$$ @@@"),
      (4L, "")).toDF("doc_id", "text")
    val stats = TextAnalysis.tokenStats(docs).select("doc_id", "n_ws_tokens")
      .as[(Long, Int)].collect().toMap
    assert(stats(1L) == 10 && stats(4L) == 0)

    val q = TextAnalysis.qualityScore(docs)
      .select("doc_id", "quality", "stopword_ratio").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(q(1L)._2 > 0.5, "clean english should score high")
    assert(q(3L)._2 <= 0.3, "symbol noise should score low")
    assert(q(1L)._3 > 0.3, "stopword ratio of english text")

    val langs = TextAnalysis.languageId(docs).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(langs(1L) == "en" && langs(2L) == "de" && langs(4L) == "und")

    val fp = TextAnalysis.fingerprints(docs)
      .select("doc_id", "exact_hash").as[(Long, Long)].collect().toMap
    assert(fp.values.toSet.size == 4)
  }

  test("repetition: repeated-3-gram fraction on handcrafted docs") {
    val docs = Seq(
      (1L, "a b a b a b"),           // grams: aba, bab, aba, bab -> 4/2
      (2L, "one two three four"),    // all grams distinct -> ratio 0
      (3L, "x x x x x")              // all grams identical -> 3/1
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs)
      .select("doc_id", "n_grams", "n_distinct_grams", "dup_gram_ratio")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 4L, 2L, 0.5)))
    assert(r(2L) == ((2L, 2L, 2L, 0.0)))
    assert(r(3L) == ((3L, 3L, 1L, 0.6667)))
  }

  test("sqrt temperature resampling: smallest group kept whole, larger downsampled, deterministic") {
    import graft.pipeline.Sampling
    val rows = (1L to 900L).map(i => (i, if (i <= 800) "big" else "small"))
    val df = rows.toDF("id", "grp")
    val kept = Sampling.sqrtTemperature(df, "grp", "id")
    val byGrp = kept.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(byGrp("small") == 100L, "smallest group keeps rate sqrt(1)=100%")
    // big keeps ~sqrt(100/800)=35.4% of 800 = ~283; deterministic hash, so
    // just pin that it downsampled into a sane band and reruns agree
    assert(byGrp("big") > 200L && byGrp("big") < 360L, s"got ${byGrp("big")}")
    val again = Sampling.sqrtTemperature(df, "grp", "id")
      .select("id").as[Long].collect().sorted
    assert(again.toSeq == kept.select("id").as[Long].collect().sorted.toSeq)
  }

  test("sequence packing: contiguous fill within buckets, conservation, budget geometry") {
    import graft.pipeline.Packing
    val df = (1L to 200L).map(i => (i, 10L + (i % 7))).toDF("id", "tok")
    val packed = Packing.packSequences(df, "id", "tok", budget = 64L, nBuckets = 4)
    assert(packed.count() == 200, "packing assigns every row exactly once")
    val rows = packed.select("bucket", "id", "tok", "pack_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // within a bucket: pack_id nondecreasing in id order, and equals the
    // running-start-offset div budget (contiguous fill, no gaps)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      var start = 0L
      rs.foreach { case (_, _, tok, pack) =>
        assert(pack == start / 64L)
        start += tok
      }
    }
  }

  test("chunking: sliding windows with overlap, short final chunk, empty docs dropped") {
    import graft.pipeline.Packing
    val fifty = (1 to 50).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, fifty), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val got = Packing.chunkDocs(docs, budget = 32, overlap = 8)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, String)].collect().toSeq
    // doc 1: starts 0/24/48 -> lengths 32, 26, 2; heads t1, t25, t49
    assert(got == Seq(
      (1L, 0L, 32L, "t1"), (1L, 1L, 26L, "t25"), (1L, 2L, 2L, "t49"),
      (2L, 0L, 3L, "a")))
  }

  test("deterministic shuffle: a permutation, stable across reruns, engine-portable hash") {
    import graft.pipeline.Sampling
    val df = (1L to 500L).map(Tuple1(_)).toDF("id")
    val a = Sampling.shuffled(df, "id").select("id").as[Long].collect()
    assert(a.sorted.toSeq == (1L to 500L), "shuffle is a permutation")
    assert(a.toSeq != (1L to 500L), "and actually permutes")
    val b = Sampling.shuffled(df, "id").select("id").as[Long].collect()
    assert(a.toSeq == b.toSeq, "identical permutation on rerun")
  }

  test("bigram LM typicality: common phrasing scores above a garbled doc") {
    // 8 docs of the same phrasing + one doc of never-repeated bigrams
    val docs = ((1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "zq xv pk wj rb nm")).toDF("doc_id", "text")
    val scored = TextAnalysis.lmTypicality(docs)
      .select($"doc_id", $"n_bigrams", $"typicality_micro")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scored.size == 9)
    assert(scored(1L)._1 == 5L, "5 bigrams per 6-token doc")
    val common = scored(1L)._2
    val garbled = scored(9L)._2
    assert((1L to 8L).forall(i => scored(i) == scored(1L)), "identical docs tie")
    assert(common > garbled,
      s"corpus-typical phrasing must outscore garbled text ($common vs $garbled)")
    // a doc with < 2 tokens emits no bigram events and is excluded
    val short = TextAnalysis.lmTypicality(
      docs.unionByName(Seq((10L, "single")).toDF("doc_id", "text")))
    assert(short.filter($"doc_id" === 10L).count() == 0L)
  }

  test("semDedup: planted semantic clones pruned keep-first, distinct content survives") {
    // 3 families of near-identical vectors (clones of a base, tiny nudges)
    // plus isolated orthogonal-ish vectors that must all survive
    val dim = 8
    def base(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7).toFloat)
    val fams = for {
      f <- 0 until 3
      c <- 0 until 4 // id 10f+c: clone c of family f
    } yield (f * 10L + c,
      base(f).zipWithIndex.map { case (v, j) =>
        if (j == 0) v + c * 1e-4f else v }.toSeq)
    val solos = (0 until 5).map(i => (100L + i, base(50 + i * 17).toSeq))
    val df = (fams ++ solos).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Dedup.semDedup(df, nCells = 4, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    // keep-first: the smallest id of each family survives, the rest drop
    assert(Set(0L, 10L, 20L).subsetOf(out), s"family heads must survive: $out")
    assert((0 until 3).forall(f => (1 to 3).forall(c => !out.contains(f * 10L + c))),
      s"family clones must be pruned: $out")
    // isolated vectors are untouched
    assert(solos.map(_._1).toSet.subsetOf(out), s"solos must survive: $out")
  }

  test("importanceTopK: target-like docs outrank off-target, ties break by id, cache released") {
    import graft.pipeline.Sampling
    // target slice speaks "alpha beta"; doc 20 mimics it without being in
    // the target, doc 30 shares nothing with the target distribution
    val docs = (
      (1L to 4L).map(i => (i, "t", "alpha beta alpha beta")) ++ Seq(
        (20L, "r", "alpha beta alpha beta"), // target-like raw doc
        (21L, "r", "alpha beta gamma delta"), // half target-like
        (30L, "r", "zq xv pk wj"),            // off-target
        (31L, "r", "zq xv pk wj"))            // identical twin of 30
    ).toDF("doc_id", "grp", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Sampling.importanceTopK(docs, col("grp") === "t", 10)
      .select($"rank", $"doc_id", $"score_e4").as[(Long, Long, Long)]
      .collect().toSeq
    assert(out.size == 8)
    val scoreOf = out.map(r => r._2 -> r._3).toMap
    assert(scoreOf(20L) > scoreOf(21L) && scoreOf(21L) > scoreOf(30L),
      s"importance must order mimic > half > off-target: $scoreOf")
    assert(scoreOf(30L) == scoreOf(31L), "identical docs tie")
    val r30 = out.find(_._2 == 30L).get._1
    assert(out.find(_._2 == 31L).get._1 == r30 + 1, "equal scores break by id")
    assert(out.map(_._1) == (1L to 8L), "dense ranks in order")
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "the tf table's persist must be released before returning")
  }
}
