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

/** WordPiece subword tokenizer — the third member of the tokenizer trio
  * ([[Bpe]] merge-rank encode, [[Unigram]] Viterbi encode, WordPiece
  * greedy longest-match encode). Two things distinguish it from BPE:
  *
  *  - TRAIN scores candidate merges by the likelihood ratio
  *    `count(ab) / (count(a) * count(b))` (the pair that most
  *    out-performs independence), not by raw pair frequency — the
  *    scoring used by the standard WordPiece trainers;
  *  - ENCODE ignores merge order entirely: each word is segmented by
  *    greedy longest-match-first against the final vocabulary, with
  *    non-initial pieces carrying the `##` continuation marker and a
  *    whole-word `[UNK]` fallback when some position has no match.
  *
  * Train is distributed over the distinct-word frequency table like
  * [[Bpe.train]], but with ONE job per round: a single tagged-union
  * aggregate emits the unigram rows (`b` null) and adjacent-pair rows
  * (`b` set) from one explode of the symbol table, and the whole result
  * — bounded by |symbols|² rows where |symbols| ≤ |alphabet| +
  * numMerges, INDEPENDENT of corpus size — comes back to the driver,
  * which scores `n_ab / (n_a * n_b)` and picks the argmax locally.
  * Rounds are sequential — BPE's safe-batch trick does NOT carry over,
  * because the likelihood score of every surviving pair shifts whenever
  * any merge changes a symbol count, so no count-ordering guard can
  * prove a batch prefix equivalent. Rounds materialize via
  * `localCheckpoint` (lineage truncated to a leaf per round, the
  * [[Bpe.train]] lesson). At 100 TB: pass `sampleFraction` — vocabulary
  * learning converges long before the corpus is exhausted — then
  * [[encode]] everywhere: encoding is one codegen-friendly expression
  * with the vocab riding the plan, zero shuffle.
  */
object WordPiece {

  /** Learn a WordPiece vocabulary: the initial code-point alphabet
    * (word-initial symbols raw, continuations `##`-prefixed) plus up to
    * `numMerges` fused pieces in learned order. Each round fuses the
    * adjacent pair maximizing `n_ab / (n_a * n_b)` among pairs with
    * `n_ab >= minCount`; ties break on (higher n_ab, lex a, lex b) so
    * training is deterministic across partitionings.
    *
    * `sampleFraction < 1` trains on a deterministic Bernoulli sample of
    * the documents (fixed `seed`) — the executable form of the train-
    * on-a-sample stance above; encode still runs over everything.
    */
  def train(df: DataFrame, textCol: String = "text", numMerges: Int = 60,
            minCount: Long = 2L, sampleFraction: Double = 1.0,
            seed: Long = 42L): Seq[String] = {
    require(numMerges >= 0 && minCount >= 1)
    require(sampleFraction > 0.0 && sampleFraction <= 1.0, "sampleFraction in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val src = if (sampleFraction < 1.0)
      df.sample(withReplacement = false, sampleFraction, seed) else df
    // split(w, "") is code-point aware (BpeSpec pins it): an astral char
    // is ONE symbol. Word-initial symbol raw, the rest ##-prefixed.
    val curBase = src
      .select(explode(gf.ws_tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(transform(
        filter(split(col("w"), ""), x => x =!= lit("")),
        (x, i) => when(i === 0, x).otherwise(concat(lit("##"), x))).as("sym"),
        col("cnt"))
    // DRIVER-LOCAL fold when the word-shape table is bounded: every
    // per-round quantity is a function of (symbol array, count) rows —
    // ≤ |distinct words| of them, corpus-size-independent — so below the
    // driver bound ([[LocalScan.collectBelow]]) ONE bounded take replaces
    // the alphabet job plus numMerges per-round aggregate jobs (each a
    // full scheduler round trip for a tiny scan). Same counting, same
    // argmax total order, same FusePair fold — WordPieceSpec pins the two
    // paths bit-identical. Above the bound (real web corpora have
    // unbounded distinct-word counts) the distributed loop below runs
    // unchanged; a budget of 0 forces it.
    val small = LocalScan.collectBelow(curBase)
    if (small.isDefined)
      return trainLocal(
        small.get.map(r => (r.getSeq[String](0).toArray, r.getLong(1))),
        numMerges, minCount)
    var cur = curBase.localCheckpoint(true)
    val alphabet = cur.select(explode(col("sym")).as("s")).distinct()
      .orderBy("s").as[String].collect().toSeq
    val vocab = Seq.newBuilder[String]
    vocab ++= alphabet
    var learned = 0
    var exhausted = false
    while (learned < numMerges && !exhausted) {
      // ONE aggregate per round: unigram rows (b null) and adjacent-pair
      // rows (b set) union into a single tagged count table. Both sides
      // are bounded by the SYMBOL alphabet, not the corpus — ≤ |sym|
      // unigrams and ≤ |sym|² pairs where |sym| ≤ |alphabet| + numMerges
      // — so the whole table collects to the driver safely at any scale
      // and the likelihood argmax is local arithmetic.
      val uni = cur
        .select(explode(col("sym")).as("a"), lit(null).cast("string").as("b"), col("cnt"))
      val pairRows = cur.filter(size(col("sym")) >= 2)
        .select(posexplode(slice(col("sym"), lit(1), size(col("sym")) - 1))
          .as(Seq("i", "a")), col("sym"), col("cnt"))
        .select(col("a"), element_at(col("sym"), col("i") + 2).as("b"), col("cnt"))
      val counts = uni.unionByName(pairRows)
        .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("n"))
        .collect()
      val symCount = counts.iterator.filter(_.isNullAt(1))
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      val cand = counts.iterator.filterNot(_.isNullAt(1))
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .filter(_._3 >= minCount)
        .map { case (a, b, n) =>
          (a, b, n, n.toDouble / (symCount(a) * symCount(b)).toDouble)
        }.toSeq
      if (cand.isEmpty) exhausted = true
      else {
        // argmax score; ties desc n, asc a, asc b — same total order the
        // old SQL orderBy used, now a local sort over ≤ |sym|² rows
        val (a, b, _, _) = cand.minBy { case (a, b, n, score) => (-score, -n, a, b) }
        val fused = a + b.stripPrefix("##")
        vocab += fused
        learned += 1
        // LAZY checkpoint: still truncates lineage to a leaf (the Bpe
        // lesson — 60 stacked fold expressions would blow the plan up),
        // but materializes as a side effect of the NEXT round's
        // aggregate instead of paying a dedicated job per round
        cur = cur.withColumn("sym",
            Shim.col(FusePair(Shim.expr(col("sym")), a, b, fused)))
          .localCheckpoint(false)
      }
    }
    vocab.result()
  }

  /** Driver-local twin of the distributed training loop, used below the
    * driver bound: identical uni/pair counting (Long sums),
    * identical score arithmetic and argmax total order, and [[fuseLocal]]
    * is [[FusePair]]'s scan verbatim — the two paths produce the same
    * vocabulary bit for bit (spec-pinned).
    */
  private def trainLocal(words0: Array[(Array[String], Long)], numMerges: Int,
                         minCount: Long): Seq[String] = {
    // alphabet in Spark's string sort order (UTF8 binary = code-point
    // order), matching the distributed path's orderBy("s")
    val alphabet = words0.iterator.flatMap(_._1).toSet.toSeq
      .sortWith((x, y) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)
    val vocab = Seq.newBuilder[String]
    vocab ++= alphabet
    var words = words0
    var learned = 0
    var exhausted = false
    while (learned < numMerges && !exhausted) {
      val symCount = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCount =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, cnt) <- words) {
        var i = 0
        while (i < syms.length) {
          symCount.update(syms(i), symCount.getOrElse(syms(i), 0L) + cnt)
          if (i + 1 < syms.length) {
            val k = (syms(i), syms(i + 1))
            pairCount.update(k, pairCount.getOrElse(k, 0L) + cnt)
          }
          i += 1
        }
      }
      val cand = pairCount.iterator
        .filter { case (_, n) => n >= minCount }
        .map { case ((a, b), n) =>
          (a, b, n, n.toDouble / (symCount(a) * symCount(b)).toDouble)
        }.toSeq
      if (cand.isEmpty) exhausted = true
      else {
        // same total order as the distributed path's driver argmax: the
        // minimum is unique under (-score, -n, a, b), so map iteration
        // order cannot affect the pick
        val (a, b, _, _) = cand.minBy { case (a, b, n, score) => (-score, -n, a, b) }
        val fused = a + b.stripPrefix("##")
        vocab += fused
        learned += 1
        words = words.map { case (syms, cnt) => (fuseLocal(syms, a, b, fused), cnt) }
      }
    }
    vocab.result()
  }

  /** [[FusePair]]'s left fold on driver-side Strings (UTF8String equality
    * is content equality, so the two are the same function).
    */
  private[text] def fuseLocal(syms: Array[String], a: String, b: String,
                              fused: String): Array[String] = {
    val out = new Array[String](syms.length)
    var len = 0
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (len > 0 && a == out(len - 1) && b == x) out(len - 1) = fused
      else { out(len) = x; len += 1 }
      i += 1
    }
    if (len == syms.length) out else java.util.Arrays.copyOf(out, len)
  }

  // the per-round merge itself is [[FusePair]] — a reference-carrying
  // kernel (the [[WordPieceEncode]] stance): the former `aggregate` HOF
  // fold rebuilt the accumulator array per element (O(|word|²) allocation
  // per word) AND evaluated interpreted; the kernel is one linear pass

  /** Encode `textCol` with a trained vocabulary: per whitespace word,
    * greedy longest-match-first segmentation (`##` continuations,
    * whole-word `[UNK]` when stuck). Output: `idCol`,
    * `pieces array<string>`, `n_pieces`, `n_unk` (words that fell back
    * to `[UNK]`), and `piece_chars` — code points covered by real
    * pieces (`##` markers excluded), which equals the corpus word chars
    * exactly when `n_unk = 0`: the lossless-reconstruction invariant
    * the oracle checks.
    */
  def encode(df: DataFrame, vocab: Seq[String],
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    df.select(col(idCol),
      Shim.col(WordPieceEncode(Shim.expr(gf.ws_tokens(col(textCol))), vocab)).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")))
      .withColumn("n_unk",
        size(filter(col("pieces"), p => p === lit("[UNK]"))))
      .withColumn("piece_chars",
        aggregate(col("pieces"), lit(0L), (acc, p) =>
          acc + when(p === lit("[UNK]"), lit(0L))
            .when(p.startsWith("##"), (length(p) - 2).cast("long"))
            .otherwise(length(p).cast("long"))))
}

/** Greedy longest-match segmentation of a tokenized document (`child` =
  * `array<string>` of whitespace words) under a WordPiece vocabulary.
  * The vocab rides the plan (|alphabet| + numMerges strings — bounded by
  * construction). Interpreted eval inside a codegen'd stage, the
  * [[BpeEncode]] stance: one call per document in a projection.
  */
case class WordPieceEncode(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val vocabSet: Set[String] = vocab.toSet
  /** longest piece in UTF-16 units — caps the backward scan per position */
  @transient private lazy val maxPieceLen: Int =
    if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max

  /** Boundaries at CODE POINTS (the training alphabet's unit — a
    * char-based scan would try lone-surrogate pieces that never match).
    */
  private[graft] def encodeWord(word: String): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    // code-point boundary offsets into the UTF-16 string
    val bounds = {
      val b = IndexedSeq.newBuilder[Int]
      var i = 0
      while (i < word.length) { b += i; i += Character.charCount(word.codePointAt(i)) }
      b += word.length
      b.result()
    }
    val out = Seq.newBuilder[String]
    var s = 0 // index into bounds
    while (s < bounds.length - 1) {
      val prefix = if (s == 0) "" else "##"
      var e = bounds.length - 1
      var found = -1
      while (e > s && found < 0) {
        if (bounds(e) - bounds(s) + prefix.length <= maxPieceLen || e == s + 1) {
          val cand = prefix + word.substring(bounds(s), bounds(e))
          if (cand.length <= maxPieceLen && vocabSet.contains(cand)) found = e
        }
        e -= 1
      }
      if (found < 0) return Seq("[UNK]")
      out += prefix + word.substring(bounds(s), bounds(found))
      s = found
    }
    out.result()
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
    val ref = ctx.addReferenceObj("wordPieceEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($a);
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): WordPieceEncode =
    copy(child = c)
}

/** One WordPiece training merge over a symbol array (`child` =
  * `array<string>`): left-to-right scan appending each symbol, except
  * that when the output so far ends in `a` and the next symbol is `b`,
  * that tail becomes `fused` (which, unlike BPE, is NOT `a + b` — the
  * `##` of `b` is absorbed). Exactly the left-fold the former
  * Column-API `aggregate` computed, as ONE linear pass instead of a
  * per-element accumulator-array rebuild — train runs one of these per
  * round over the distinct-word table, so its constant factor is the
  * round's entire per-row cost. Interpreted eval inside a codegen'd
  * stage, the [[WordPieceEncode]] stance.
  */
case class FusePair(child: Expression, a: String, b: String, fused: String)
    extends UnaryExpression {

  // a null input element passes through the scan unchanged, so the output
  // is null-free exactly when the input is — declaring containsNull=false
  // unconditionally would lie to codegen'd consumers under a null symbol
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(StringType, containsNull = cn)
    case _ => ArrayType(StringType, containsNull = false)
  }

  @transient private lazy val aU = UTF8String.fromString(a)
  @transient private lazy val bU = UTF8String.fromString(b)
  @transient private lazy val fusedU = UTF8String.fromString(fused)

  override def nullSafeEval(syms: Any): Any = {
    val arr = syms.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var len = 0
    var i = 0
    while (i < n) {
      val x = arr.getUTF8String(i)
      if (len > 0 && aU == out(len - 1) && bU == x) out(len - 1) = fusedU
      else { out(len) = x; len += 1 }
      i += 1
    }
    new GenericArrayData(
      if (len == n) out else java.util.Arrays.copyOf(out, len))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusePairExpr", this)
    nullSafeCodeGen(ctx, ev, s => {
      s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        ((org.apache.spark.sql.catalyst.expressions.UnaryExpression) $ref).nullSafeEval($s);
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): FusePair =
    copy(child = c)
}
