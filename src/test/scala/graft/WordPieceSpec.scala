package graft

import graft.core.LocalScan
import graft.text.{WordPiece, WordPieceEncode}

/** WordPiece tokenizer gates, the BpeSpec pattern: the distributed
  * trainer and the expression encoder are each differentially tested
  * against INDEPENDENTLY-written in-memory references (naive hash-map
  * trainer, recursive greedy matcher), plus the lossless invariant and
  * the [UNK]/astral edge cases no SQL oracle can express.
  */
class WordPieceSpec extends SparkSuite {
  import spark.implicits._

  // ---- independent reference implementations (naive, driver-side) ----

  private def splitCps(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  private def refSyms(w: String): Vector[String] =
    splitCps(w).zipWithIndex.map { case (c, i) => if (i == 0) c else "##" + c }

  /** Naive trainer: full maps per round, same score arithmetic
    * (n.toDouble / (na*nb).toDouble) and the same
    * (desc score, desc n, asc a, asc b) tie order as the Spark path.
    */
  private def refTrain(corpus: Seq[String], numMerges: Int, minCount: Long): Seq[String] = {
    val words = corpus.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    var tbl: Map[Vector[String], Long] =
      words.groupBy(identity).map { case (w, ws) => refSyms(w) -> ws.size.toLong }
        .groupMapReduce(_._1)(_._2)(_ + _)
    val alphabet = tbl.keys.flatten.toSeq.distinct.sorted
    val vocab = Seq.newBuilder[String]
    vocab ++= alphabet
    var learned = 0
    var stop = false
    while (learned < numMerges && !stop) {
      val symCounts = tbl.toSeq.flatMap { case (syms, c) => syms.map(_ -> c) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val pairCounts = tbl.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.drop(1)).map(p => p -> c)
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val cands = pairCounts.toSeq.filter(_._2 >= minCount).map { case ((a, b), n) =>
        (a, b, n, n.toDouble / (symCounts(a) * symCounts(b)).toDouble)
      }
      if (cands.isEmpty) stop = true
      else {
        val (a, b, _, _) =
          cands.sortBy { case (x, y, n, s) => (-s, -n, x, y) }.head
        val fused = a + b.stripPrefix("##")
        vocab += fused
        learned += 1
        tbl = tbl.toSeq.map { case (syms, c) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
              out += fused; j += 2
            } else { out += syms(j); j += 1 }
          }
          out.result() -> c
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    vocab.result()
  }

  /** Independent greedy longest-match (plain recursion, no length cap). */
  private def refEncode(word: String, vocab: Set[String]): Seq[String] = {
    val cps = splitCps(word)
    val out = Seq.newBuilder[String]
    var s = 0
    while (s < cps.length) {
      val prefix = if (s == 0) "" else "##"
      val e = (cps.length to (s + 1) by -1)
        .find(e0 => vocab.contains(prefix + cps.slice(s, e0).mkString))
      e match {
        case None => return Seq("[UNK]")
        case Some(e0) => out += prefix + cps.slice(s, e0).mkString; s = e0
      }
    }
    out.result()
  }

  // ---- gates ----

  test("tiny corpus: one merge, vocab is alphabet + fused piece") {
    val df = Seq("ab ab", "ab").toDF("text")
    val vocab = WordPiece.train(df, numMerges = 5, minCount = 2)
    assert(vocab == Seq("##b", "a", "ab"))
  }

  test("trainer differential: distributed vocab equals the naive reference") {
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 4) {
      val alpha = "abcd".toSeq.map(_.toString)
      val corpus = (0 until 60).map { _ =>
        (0 until (1 + rnd.nextInt(4))).map { _ =>
          (0 until (1 + rnd.nextInt(5))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString
        }.mkString(" ")
      }
      val df = corpus.toDF("text")
      val dist = WordPiece.train(df, numMerges = 12, minCount = 2)
      val ref = refTrain(corpus, numMerges = 12, minCount = 2)
      assert(dist == ref, s"trial $trial: $dist != $ref")
    }
  }

  // the name keeps the deleted parameter's wording: it is the test's id
  test("driver-local fold == distributed loop (driverLimit=0 forces the " +
       "distributed path) incl. ties and astral symbols") {
    val rnd = new scala.util.Random(31)
    val alpha = Seq("a", "b", "c", "😀")
    val corpus = (0 until 50).map { _ =>
      (0 until (1 + rnd.nextInt(4))).map { _ =>
        (0 until (1 + rnd.nextInt(5))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString
      }.mkString(" ")
    }
    val df = corpus.toDF("text")
    val local = WordPiece.train(df, numMerges = 12, minCount = 2)
    val dist = LocalScan.withBudget(0L)(WordPiece.train(df, numMerges = 12, minCount = 2))
    assert(local == dist)
  }

  test("encode differential + lossless invariant (no UNK ⇒ pieces rejoin words)") {
    val rnd = new scala.util.Random(99)
    val alpha = "abc".toSeq.map(_.toString)
    val corpus = (0 until 50).map { _ =>
      (0 until (2 + rnd.nextInt(3))).map { _ =>
        (0 until (1 + rnd.nextInt(6))).map(_ => alpha(rnd.nextInt(alpha.size))).mkString
      }.mkString(" ")
    }
    val df = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val vocab = WordPiece.train(df, numMerges = 15, minCount = 2)
    val byId = WordPiece.encode(df, vocab)
      .select("doc_id", "pieces", "n_unk", "piece_chars")
      .as[(Long, Seq[String], Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val vset = vocab.toSet
    corpus.zipWithIndex.foreach { case (text, i) =>
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val expect = words.flatMap(w => refEncode(w, vset))
      val (pieces, nUnk, pieceChars) = byId(i.toLong)
      assert(pieces == expect, s"doc $i encode mismatch")
      assert(nUnk == 0, "full-alphabet vocab cannot UNK its own corpus")
      assert(pieceChars == words.map(_.length).sum.toLong,
        "pieces must cover exactly the word chars")
      // reconstruction: stripping ## and concatenating rebuilds the words
      assert(pieces.map(_.stripPrefix("##")).mkString == words.mkString)
    }
  }

  test("sampled train converges: on a redundant corpus a 50% sample learns " +
       "the same vocabulary as the full pass") {
    // the 100-TB stance made executable: when the corpus is (as real
    // corpora are) massively redundant at the subword level, the merge
    // ranking is stable under Bernoulli sampling — the sample sees the
    // same relative counts
    val base = Seq("hello world", "hello there", "world wide web", "hello web")
    val corpus = Seq.fill(100)(base).flatten
    val df = corpus.toDF("text").repartition(8)
    val full = WordPiece.train(df, numMerges = 10, minCount = 2)
    val sampled = WordPiece.train(df, numMerges = 10, minCount = 2,
      sampleFraction = 0.5, seed = 7L)
    assert(sampled == full, s"sampled vocab diverged: $sampled != $full")
    // and the sample path is deterministic under a fixed seed
    val again = WordPiece.train(df, numMerges = 10, minCount = 2,
      sampleFraction = 0.5, seed = 7L)
    assert(again == sampled)
  }

  test("unseen character falls back to a whole-word [UNK]") {
    val train = Seq("abc abc ab").toDF("text")
    val vocab = WordPiece.train(train, numMerges = 5, minCount = 2)
    val enc = WordPiece.encode(
      Seq((1L, "abc axz ab")).toDF("doc_id", "text"), vocab)
      .select("pieces", "n_unk").as[(Seq[String], Int)].head()
    assert(enc._2 == 1)
    assert(enc._1.count(_ == "[UNK]") == 1)
    assert(!enc._1.exists(p => p.contains("x") || p.contains("z")))
  }

  test("astral characters stay whole through train and encode") {
    val smile = new String(Character.toChars(0x1F600))
    val corpus = Seq(s"a$smile a$smile", s"a$smile b")
    val df = corpus.toDF("text")
    val vocab = WordPiece.train(df, numMerges = 4, minCount = 2)
    assert(vocab.contains("##" + smile), "astral continuation must be one symbol")
    assert(vocab.contains("a" + smile), "pair (a, ##😀) out-scores everything")
    val enc = WordPiece.encode(Seq((1L, s"a$smile")).toDF("doc_id", "text"), vocab)
      .select("pieces").as[Seq[String]].head()
    assert(enc == Seq("a" + smile))
  }

  test("expression encodeWord: greedy longest-match, length-capped scan") {
    val expr = WordPieceEncode(
      org.apache.spark.sql.catalyst.expressions.Literal(null),
      Seq("a", "##b", "##c", "ab", "abc", "##bc"))
    assert(expr.encodeWord("abc") == Seq("abc"))
    assert(expr.encodeWord("abbc") == Seq("ab", "##bc"))
    assert(expr.encodeWord("ab") == Seq("ab"))
    assert(expr.encodeWord("ba") == Seq("[UNK]")) // no word-initial 'b' piece
    assert(expr.encodeWord("") == Seq.empty)
  }

  // the r20 optimization replaced train's Column-API `aggregate` fold
  // with the FusePair kernel — differential-pin the kernel against the
  // exact left-fold the HOF computed, on the cases where they could
  // diverge (chained merges, fused-tail adjacency, no-match, empty)
  test("FusePair kernel == the left-fold merge it replaced") {
    import org.apache.spark.sql.functions.{aggregate => hofAggregate, _}
    def hofFold(sym: org.apache.spark.sql.Column, a: String, b: String,
                fused: String): org.apache.spark.sql.Column =
      hofAggregate(sym, array().cast("array<string>"), (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
          .otherwise(concat(acc, array(x))))
    val cases = Seq(
      Seq("a", "##b", "##c"),            // single merge mid-array
      Seq("a", "##b", "a", "##b"),       // merge fires twice
      Seq("##x", "##x", "##x"),          // fused tail must NOT re-match a
      Seq("a"), Seq[String](),           // short / empty
      Seq("##b", "a", "##b", "##b"))     // b-first no-match, then chain
    val merges = Seq(("a", "##b", "ab"), ("##x", "##x", "##x##x"))
    for ((a, b, fused) <- merges; c <- cases) {
      val df = Seq(Tuple1(c)).toDF("sym")
      val viaKernel = df.select(
        org.apache.spark.sql.graft.Shim.col(graft.text.FusePair(
          org.apache.spark.sql.graft.Shim.expr(col("sym")), a, b, fused)).as("r"))
        .as[Seq[String]].head()
      val viaHof = df.select(hofFold(col("sym"), a, b, fused).as("r"))
        .as[Seq[String]].head()
      assert(viaKernel == viaHof, s"merge ($a,$b)->$fused on $c")
    }
  }
}
