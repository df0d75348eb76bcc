package graft

import org.apache.spark.sql.functions._
import graft.core.LocalScan
import graft.text.{Unigram, UnigramEncode, CodePointPieces}
import org.apache.spark.sql.graft.Shim

/** Unigram-LM tokenizer verification. No SQL oracle can express Viterbi
  * segmentation, so (like `BpeSpec` / P3 / W4) the gate is an INDEPENDENT
  * reference implementation — plain-collections seeding/EM/pruning and a
  * recursive memoized Viterbi — compared exactly against the distributed
  * train and the expression encode, plus structural properties (lossless
  * round-trip incl. astral code points, coverage floor, vocab bound,
  * partitioning invariance).
  */
class UnigramSpec extends SparkSuite {

  // ---------- independent reference implementation ----------

  private def cpSplit(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  private def refViterbi(word: String, logp: Map[String, Double],
                         maxLen: Int, unk: Double): List[String] = {
    val cps = cpSplit(word)
    val n = cps.length
    val memo = scala.collection.mutable.HashMap.empty[Int, (Double, List[String])]
    // best segmentation of the PREFIX ending at boundary e (recursive form —
    // the main implementation is an iterative forward DP)
    def best(e: Int): (Double, List[String]) =
      if (e == 0) (0.0, Nil)
      else memo.getOrElseUpdate(e, {
        var acc: (Double, List[String]) = (Double.NegativeInfinity, Nil)
        var s = math.max(0, e - maxLen)
        while (s < e) {
          val piece = cps.slice(s, e).mkString
          val lp = logp.getOrElse(piece,
            if (e - s == 1) unk else Double.NegativeInfinity)
          if (lp != Double.NegativeInfinity) {
            val prev = best(s)
            if (prev._1 != Double.NegativeInfinity && prev._1 + lp > acc._1)
              acc = (prev._1 + lp, piece :: prev._2)
          }
          s += 1
        }
        acc
      })
    best(n)._2.reverse
  }

  private def refTrain(corpus: Seq[String], vocabSize: Int, maxPieceLen: Int,
                       seedFactor: Int = 4, shrink: Double = 0.75,
                       maxRounds: Int = 16, finalRounds: Int = 2): Unigram.Model = {
    val wordCnt = corpus.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
    // seed: frequency-weighted substring occurrence counts
    val seedCnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, c) <- wordCnt) {
      val cps = cpSplit(w)
      for (s <- cps.indices; e <- (s + 1) to math.min(cps.length, s + maxPieceLen))
        seedCnt(cps.slice(s, e).mkString) =
          seedCnt.getOrElse(cps.slice(s, e).mkString, 0L) + c
    }
    val seedSize = math.max(vocabSize.toLong * seedFactor, vocabSize + 1L).toInt
    val top = seedCnt.toSeq.sortBy { case (p, n) => (-n, p) }.take(seedSize)
    val singles = seedCnt.toSeq.filter { case (p, _) => cpSplit(p).length == 1 }
    var vocab = (top ++ singles).groupBy(_._1).map { case (p, vs) => (p, vs.head._2) }
      .toSeq.sortBy { case (p, n) => (-n, p) }

    def logProbs(v: Seq[(String, Long)]): Seq[(String, Double)] = {
      val total = v.map(_._2).sum.toDouble + v.size
      v.map { case (p, n) => (p, math.log((n + 1).toDouble / total)) }
    }
    def isSingle(p: String) = cpSplit(p).length == 1

    var round = 0
    var finals = 0
    while (round < maxRounds && finals <= finalRounds) {
      val lp = logProbs(vocab).toMap
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- wordCnt; piece <- refViterbi(w, lp, maxPieceLen, -20.0))
        counts(piece) = counts.getOrElse(piece, 0L) + c
      val counted = vocab.map { case (p, _) => (p, counts.getOrElse(p, 0L)) }
      val (sing, multi) = counted.partition { case (p, _) => isSingle(p) }
      val targetMulti = math.max(vocabSize - sing.size,
        math.min(multi.size, math.floor(multi.size * shrink).toInt))
      val atTarget = multi.size <= math.max(0, vocabSize - sing.size)
      val keptMulti = multi.filter(_._2 > 0L)
        .sortBy { case (p, n) => (-n, p) }.take(math.max(0, targetMulti))
      vocab = (sing ++ keptMulti).sortBy { case (p, n) => (-n, p) }
      if (atTarget) finals += 1
      round += 1
    }
    Unigram.Model(logProbs(vocab).sortBy(_._1), maxPieceLen)
  }

  private def docsDf(texts: Seq[String]) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  // ---------- tests ----------

  private val classic = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox naps", "lazy dogs nap over the brown log",
    "quick quick brown brown the the the", "foxes and dogs and logs")

  test("train matches the independent reference exactly (pieces AND log-probs)") {
    val m = Unigram.train(docsDf(classic), vocabSize = 40, maxPieceLen = 5)
    val r = refTrain(classic, vocabSize = 40, maxPieceLen = 5)
    assert(m.pieces.map(_._1) == r.pieces.map(_._1))
    m.pieces.zip(r.pieces).foreach { case ((p, a), (_, b)) =>
      assert(a == b, s"logp mismatch for piece '$p'") }
  }

  test("encode matches the reference Viterbi on every corpus word") {
    val m = Unigram.train(docsDf(classic), vocabSize = 40, maxPieceLen = 5)
    val lp = m.pieces.toMap
    val enc = Unigram.encode(docsDf(classic), m).orderBy("doc_id")
      .select("pieces").collect().map(_.getSeq[String](0))
    classic.zip(enc).foreach { case (text, got) =>
      val want = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .flatMap(w => refViterbi(w, lp, m.maxPieceLen, m.unkLogProb)).toSeq
      assert(got == want, s"for text '$text'")
    }
  }

  test("randomized differential: train + encode vs reference on seeded corpora") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    for (trial <- 1 to 4) {
      val words = Vector.fill(30)(
        (0 until (1 + rnd.nextInt(7))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val corpus = Vector.fill(25)(
        (0 until (2 + rnd.nextInt(8))).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
      val vs = 15 + rnd.nextInt(30)
      val m = Unigram.train(docsDf(corpus), vocabSize = vs, maxPieceLen = 4)
      val r = refTrain(corpus, vocabSize = vs, maxPieceLen = 4)
      assert(m.pieces == r.pieces, s"trial $trial vocab mismatch")
      val lp = m.pieces.toMap
      val enc = Unigram.encode(docsDf(corpus), m).orderBy("doc_id")
        .select("pieces").collect().map(_.getSeq[String](0))
      corpus.zip(enc).foreach { case (text, got) =>
        val want = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .flatMap(w => refViterbi(w, lp, 4, m.unkLogProb)).toSeq
        assert(got == want, s"trial $trial text '$text'")
      }
    }
  }

  test("lossless round-trip: pieces concatenate back to the words, astral included") {
    val astral = Seq("café naïve 😀😀 mix😀ed",
      "plain words here", "😀 alone")
    val m = Unigram.train(docsDf(astral), vocabSize = 30, maxPieceLen = 3)
    val rows = Unigram.encode(docsDf(astral), m).orderBy("doc_id").collect()
    astral.zip(rows).foreach { case (text, r) =>
      val joined = r.getSeq[String](1).mkString
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString
      assert(joined == words, s"round-trip failed for '$text'")
      assert(r.getLong(3) == words.codePointCount(0, words.length),
        "piece_chars must equal total code points")
    }
  }

  test("unseen code points encode as single-cp unk pieces, never fail") {
    val m = Unigram.train(docsDf(Seq("aaa bbb aab")), vocabSize = 10, maxPieceLen = 3)
    val out = Unigram.encode(docsDf(Seq("azb 😀z")), m)
      .select("pieces").head().getSeq[String](0)
    assert(out.mkString == "azb😀z")
    assert(out.contains("z"))
  }

  test("vocab bound holds and the coverage floor keeps all single code points") {
    val m = Unigram.train(docsDf(classic), vocabSize = 25, maxPieceLen = 5)
    val singles = classic.flatMap(_.toLowerCase.split("\\s+")).flatMap(cpSplit).toSet
    assert(m.pieces.size <= math.max(25, singles.size))
    assert(singles.subsetOf(m.pieces.map(_._1).toSet))
  }

  test("training is invariant to input partitioning") {
    val df = docsDf(classic)
    val a = Unigram.train(df.repartition(7), vocabSize = 30, maxPieceLen = 4)
    val b = Unigram.train(df.coalesce(1), vocabSize = 30, maxPieceLen = 4)
    assert(a == b)
  }

  // the name keeps the deleted parameter's wording: it is the test's id
  test("driver-local EM == distributed loop (driverLimit=0 forces the " +
       "distributed path) incl. astral code points") {
    val astralCorpus = classic ++ Seq("a😀b a😀b ab😀", "😀😀 a😀 b😀b")
    val df = docsDf(astralCorpus)
    val local = Unigram.train(df, vocabSize = 30, maxPieceLen = 4)
    val dist = LocalScan.withBudget(0L)(Unigram.train(df, vocabSize = 30, maxPieceLen = 4))
    assert(local == dist)
  }

  test("CodePointPieces enumerates code-point substrings, capped at maxLen") {
    import spark.implicits._
    val out = Seq("ab😀").toDF("w")
      .select(Shim.col(CodePointPieces(Shim.expr(col("w")), 2)).as("p"))
      .head().getSeq[String](0)
    assert(out == Seq("a", "ab", "b", "b😀", "😀"))
  }

  test("frequent short words become single pieces") {
    val corpus = Seq.fill(50)("alpha beta") ++ Seq("x y z q r s t u v w")
    val m = Unigram.train(docsDf(corpus), vocabSize = 30, maxPieceLen = 5)
    val enc = Unigram.encode(docsDf(Seq("alpha beta")), m)
      .select("pieces").head().getSeq[String](0)
    assert(enc == Seq("alpha", "beta"))
  }
}
