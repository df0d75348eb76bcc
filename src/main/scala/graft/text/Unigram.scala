package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.LocalScan
import graft.functions.{functions => gf}

/** Unigram-LM subword tokenizer (SentencePiece's unigram model, Kudo
  * 2018) — the OTHER standard subword vocabulary next to [[Bpe]]: instead
  * of greedy merge rules, a piece VOCABULARY with probabilities, trained
  * by EM + pruning, encoded by Viterbi (most-probable segmentation).
  *
  * Train runs DISTRIBUTED over the distinct-word frequency table exactly
  * like [[Bpe.train]] (one corpus pass builds `(word, count)`; Heaps' law
  * keeps that table far smaller than the corpus, and at 100 TB you train
  * on a sample anyway — vocabulary estimates converge long before the
  * corpus is exhausted):
  *
  *  - SEED: every code-point substring of every word up to `maxPieceLen`,
  *    frequency-weighted (one explode + one aggregate); the top
  *    `seedFactor * vocabSize` by (weight, lexicographic) plus ALL single
  *    code points (coverage floor — every word stays encodable).
  *  - EM (hard/Viterbi variant): each round segments every distinct word
  *    once under the current piece log-probabilities (a single expression
  *    pass over the word table — the corpus is never touched), explodes
  *    the pieces and sums frequency-weighted INTEGER counts; only the
  *    vocab-sized count table reaches the driver (bounded by
  *    `seedFactor * vocabSize` entries, like IVF's nCells×dim centroid
  *    pull). Probabilities are re-estimated add-one smoothed.
  *  - PRUNE: between rounds the vocab shrinks by `shrink` (never below
  *    `vocabSize`) dropping the lowest-count multi-code-point pieces;
  *    single code points are exempt. Hard-EM count pruning is the
  *    documented simplification of SentencePiece's loss-delta prune — the
  *    fixed-point it reaches is a high-likelihood vocabulary of the same
  *    shape, and every step is deterministic (integer counts, total-order
  *    tie-breaks), so training reproduces bit-identically across
  *    partitionings, which the loss-delta variant (float sums in shuffle
  *    order) would not.
  *
  * Encode is one codegen-friendly expression ([[UnigramEncode]]): per
  * word, Viterbi over the piece lattice — the vocab table rides the plan
  * (bounded by construction at `seedFactor * vocabSize` entries during
  * training and `vocabSize` after, NOT data-sized like a sketch), no
  * shuffle at all. Unseen code points fall back to one-cp pieces at
  * `unkLogProb`, so encoding never fails and always round-trips the text.
  */
object Unigram {

  /** Trained model: pieces with natural-log probabilities, sorted by
    * piece for deterministic serialization.
    */
  final case class Model(pieces: Seq[(String, Double)], maxPieceLen: Int,
                         unkLogProb: Double = -20.0)

  /** Learn a unigram piece vocabulary of (at most) `vocabSize` pieces.
    * Deterministic: integer frequency weights, (count desc, piece asc)
    * total orders everywhere, fixed round structure.
    */
  def train(df: DataFrame, textCol: String = "text", vocabSize: Int = 1000,
            maxPieceLen: Int = 8, seedFactor: Int = 4, shrink: Double = 0.75,
            maxRounds: Int = 16, finalRounds: Int = 2): Model = {
    require(vocabSize >= 1 && maxPieceLen >= 1 && seedFactor >= 1)
    require(shrink > 0 && shrink < 1 && maxRounds >= 1 && finalRounds >= 0)
    val wordsBase = df
      .select(explode(gf.ws_tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // DRIVER-LOCAL EM when the word table is bounded: every round's
    // quantity is a function of (word, count) rows, so below the driver
    // bound ([[LocalScan.collectBelow]]) ONE bounded take replaces the
    // seed aggregate plus maxRounds per-round jobs. The local counts
    // provider calls the SAME kernel instances (CodePointPieces /
    // UnigramEncode.encodeWord) the distributed explode evaluates, so the
    // two paths are the same function (UnigramSpec pins them
    // bit-identical). Above the bound the distributed loop runs
    // unchanged; a budget of 0 forces it.
    val small = LocalScan.collectBelow(wordsBase)
    if (small.isDefined) {
      val local = small.get.map(r => (r.getString(0), r.getLong(1)))
      val gen = CodePointPieces(Shim.expr(lit("")), maxPieceLen)
      def seed(): Seq[(String, Long)] = {
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        for ((w, cnt) <- local) {
          val arr = gen.nullSafeEval(UTF8String.fromString(w))
            .asInstanceOf[GenericArrayData]
          var i = 0
          while (i < arr.numElements()) {
            val p = arr.getUTF8String(i).toString
            acc.update(p, acc.getOrElse(p, 0L) + cnt)
            i += 1
          }
        }
        acc.toSeq
      }
      def counts(model: Model): Map[String, Long] = {
        val enc = UnigramEncode(Shim.expr(lit("")), model)
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        for ((w, cnt) <- local; p <- enc.encodeWord(w))
          acc.update(p, acc.getOrElse(p, 0L) + cnt)
        acc.toMap
      }
      // top-seedSize by (n desc, p asc in UTF8 binary order — exactly
      // what the distributed orderBy(desc("n"), asc("p")) compares) +
      // the single-code-point coverage floor
      val seedCounts = seed()
      val seedSize =
        math.max(vocabSize.toLong * seedFactor, vocabSize + 1L).toInt
      val top = seedCounts.sortWith { (u, v) =>
        if (u._2 != v._2) u._2 > v._2
        else UTF8String.fromString(u._1).compareTo(UTF8String.fromString(v._1)) < 0
      }.take(seedSize)
      val singles = seedCounts.filter { case (p, _) =>
        p.length == Character.charCount(p.codePointAt(0)) }
      return trainRounds(combineSeed(top, singles), counts, vocabSize,
        maxPieceLen, shrink, maxRounds, finalRounds)
    }
    val words = wordsBase
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- seed: frequency-weighted substring counts, one aggregate;
      // only the vocab-bounded top + the single-cp floor reach the driver
      val seedCounts = words
        .select(explode(Shim.col(CodePointPieces(Shim.expr(col("w")), maxPieceLen)))
          .as("p"), col("cnt"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab0 = try {
        val seedSize = math.max(vocabSize.toLong * seedFactor, vocabSize + 1L).toInt
        val top = seedCounts.orderBy(desc("n"), asc("p")).limit(seedSize)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        // coverage floor: every single code point seen in training (Spark
        // `length` counts CODE POINTS, so astral singles are length 1 too)
        val singles = seedCounts.filter(length(col("p")) === 1)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        combineSeed(top, singles)
      } finally seedCounts.unpersist()
      def counts(model: Model): Map[String, Long] = words
        .select(explode(Shim.col(
          UnigramEncode(Shim.expr(array(col("w"))), model))).as("p"), col("cnt"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      trainRounds(vocab0, counts, vocabSize, maxPieceLen,
        shrink, maxRounds, finalRounds)
    } finally words.unpersist()
  }

  private def combineSeed(top: Seq[(String, Long)],
                          singles: Seq[(String, Long)]): Seq[(String, Long)] =
    (top ++ singles).groupBy(_._1).map { case (p, vs) => (p, vs.head._2) }
      .toSeq.sortBy { case (p, n) => (-n, p) }

  /** The EM/prune fixed point, shared by the driver-local and distributed
    * paths: `vocab0` is the selected seed vocabulary, `countsFor`
    * evaluates one EM round's piece counts under a model. All selection
    * arithmetic and tie-breaks are exactly the former inline loop's.
    */
  private def trainRounds(vocab0: Seq[(String, Long)],
                          countsFor: Model => Map[String, Long],
                          vocabSize: Int, maxPieceLen: Int,
                          shrink: Double, maxRounds: Int,
                          finalRounds: Int): Model = {
    def isSingleCp(p: String): Boolean =
      p.length == Character.charCount(p.codePointAt(0))
    var vocab: Seq[(String, Long)] = vocab0

    def logProbs(v: Seq[(String, Long)]): Seq[(String, Double)] = {
      val total = v.map(_._2).sum.toDouble + v.size // add-one smoothing
      v.map { case (p, n) => (p, math.log((n + 1).toDouble / total)) }
    }

    // ---- EM + prune rounds over the word table ----
    var round = 0
    var finals = 0
    while (round < maxRounds && finals <= finalRounds) {
      val model = Model(logProbs(vocab), maxPieceLen)
      val counts = countsFor(model)
      val counted = vocab.map { case (p, _) => (p, counts.getOrElse(p, 0L)) }
      val (sing, multi) = counted.partition { case (p, _) => isSingleCp(p) }
      val targetMulti = math.max(vocabSize - sing.size,
        math.min(multi.size, math.floor(multi.size * shrink).toInt))
      val atTarget = multi.size <= math.max(0, vocabSize - sing.size)
      val keptMulti = multi.filter(_._2 > 0L)
        .sortBy { case (p, n) => (-n, p) }.take(math.max(0, targetMulti))
      vocab = (sing ++ keptMulti).sortBy { case (p, n) => (-n, p) }
      if (atTarget) finals += 1
      round += 1
    }
    Model(logProbs(vocab).sortBy(_._1), maxPieceLen)
  }

  /** Encode `textCol` into Viterbi-optimal pieces under a trained model.
    * Output: `idCol`, `pieces array<string>`, `n_pieces`, and
    * `piece_chars` (summed code-point length — equals the code-point
    * length of the concatenated words, because unigram segmentation is
    * LOSSLESS; pipelines can assert it against an independent count).
    */
  def encode(df: DataFrame, model: Model,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol),
      Shim.col(UnigramEncode(Shim.expr(gf.ws_tokens(col(textCol))), model)).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")))
      .withColumn("piece_chars",
        aggregate(col("pieces"), lit(0L), (acc, p) => acc + length(p)))
}

/** All code-point substrings of a word with length 1..`maxLen` (in code
  * points) — the unigram seed-vocabulary generator. A word of n code
  * points yields at most n*maxLen pieces; words are short, so the explode
  * stays word-table-sized times a small constant.
  */
case class CodePointPieces(child: Expression, maxLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(in: Any): Any = {
    val w = in.asInstanceOf[UTF8String].toString
    // code-point boundaries
    val bounds = scala.collection.mutable.ArrayBuffer[Int](0)
    var i = 0
    while (i < w.length) {
      i += Character.charCount(w.codePointAt(i))
      bounds += i
    }
    val n = bounds.length - 1
    val out = new Array[Any](math.max(0,
      (0 until n).map(s => math.min(maxLen, n - s)).sum))
    var k = 0
    var s = 0
    while (s < n) {
      var e = s + 1
      while (e <= n && e - s <= maxLen) {
        out(k) = UTF8String.fromString(w.substring(bounds(s), bounds(e)))
        k += 1
        e += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codePointPiecesExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): CodePointPieces =
    copy(child = c)
}

/** Viterbi segmentation of a tokenized document (`child` = `array<string>`
  * of whitespace words) under a trained unigram model: per word, the
  * segmentation maximizing the summed piece log-probability. DP runs over
  * code-point boundaries; candidate end positions are scanned longest-
  * piece-first, and a STRICT improvement is required to replace the
  * incumbent, so ties resolve to the longest-piece split deterministically
  * (independent of float summation order — each word's DP is a fixed
  * sequential recurrence). Unseen code points segment as single-cp pieces
  * at `unkLogProb`, so every input round-trips.
  *
  * The piece table rides the plan like [[BpeEncode]]'s rank table —
  * bounded by the training contract (≤ seedFactor×vocabSize entries), not
  * data-sized.
  */
case class UnigramEncode(child: Expression, model: Unigram.Model)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val logp: java.util.HashMap[String, Double] = {
    val m = new java.util.HashMap[String, Double](model.pieces.size * 2)
    model.pieces.foreach { case (p, lp) => m.put(p, lp) }
    m
  }

  private[text] def encodeWord(word: String): Seq[String] = {
    // code-point boundaries
    val bounds = scala.collection.mutable.ArrayBuffer[Int](0)
    var i = 0
    while (i < word.length) {
      i += Character.charCount(word.codePointAt(i))
      bounds += i
    }
    val n = bounds.length - 1
    if (n == 0) return Nil
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(best, Double.NegativeInfinity)
    best(0) = 0.0
    var e = 1
    while (e <= n) {
      // longest candidate first; strict > keeps the longest on ties
      var s = math.max(0, e - model.maxPieceLen)
      while (s < e) {
        val piece = word.substring(bounds(s), bounds(e))
        val lp =
          if (logp.containsKey(piece)) logp.get(piece)
          else if (e - s == 1) model.unkLogProb
          else Double.NegativeInfinity
        if (lp != Double.NegativeInfinity && best(s) != Double.NegativeInfinity &&
            best(s) + lp > best(e)) {
          best(e) = best(s) + lp
          back(e) = s
        }
        s += 1
      }
      e += 1
    }
    // walk back
    val rev = List.newBuilder[String]
    var pos = n
    val stack = scala.collection.mutable.ArrayBuffer.empty[String]
    while (pos > 0) {
      val s = back(pos)
      stack += word.substring(bounds(s), bounds(pos))
      pos = s
    }
    stack.reverseIterator.foreach(rev += _)
    rev.result()
  }

  override def nullSafeEval(tokens: Any): Any = {
    val arr = tokens.asInstanceOf[ArrayData]
    val out = Seq.newBuilder[UTF8String]
    var i = 0
    while (i < arr.numElements()) {
      val w = arr.getUTF8String(i)
      if (w != null && w.numBytes() > 0)
        encodeWord(w.toString).foreach(s => out += UTF8String.fromString(s))
      i += 1
    }
    new GenericArrayData(out.result().toArray[Any])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): UnigramEncode =
    copy(child = c)
}
