package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer family (Kudo 2018,
  * "Subword Regularization" — the public algorithm behind
  * Llama-class tokenizers), beside [[Bpe]]'s merge-rule family.
  * (Beyond-reference component: the reference pipeline has no
  * tokenizer; SURVEY §2.E's training-data ops motivate it.)
  *
  * Two-tier design, the q48/q59 split applied to a FLOAT-native
  * algorithm:
  *
  *  - GATE TIER (integer, oracle-replayable): the seed-vocabulary
  *    construction (q136) — substring candidates scored by exact
  *    integer corpus frequency — and Viterbi segmentation under a
  *    QUANTIZED integer cost model (q137) whose per-piece cost uses
  *    [[ilog2Fixed16]], an exact shift-and-square binary logarithm
  *    (integer ops only, so both engines compute bit-identical
  *    costs; quantization to 1/16 log2 is the price of an exact
  *    cross-engine gate).
  *  - SPEC TIER (float, the production path): full EM training —
  *    forward-backward expected counts over each word's segmentation
  *    lattice, prune-to-target rounds — and Viterbi encoding under
  *    the learned log-probs. Likelihood monotonicity, determinism,
  *    char coverage and Viterbi optimality are pinned in
  *    UnigramSpec.
  *
  * Scale shape (the q48 discipline): every training structure is
  * VOCABULARY-bounded, never corpus-bounded. Documents collapse to
  * the word-TYPE table once (shuffle carries distinct words); the
  * substring explosion is Σ len·maxPieceLen per TYPE; EM's E-step is
  * a map-side pass over types with broadcast probs whose output
  * folds to one row per piece; the driver only ever holds the piece
  * table. Encoding is map-side (broadcast vocab, per-type Viterbi
  * joined back to docs — segment each TYPE once, not each token).
  */
object Unigram {

  /** Corpus word-TYPE table: (w, freq), whitespace tokenization (the
    * q48 word model). */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Seed-vocabulary candidates: every substring of length
    * 1..maxPieceLen of every word type, scored by exact integer
    * corpus frequency Σ freq(w) · occurrences(piece ⊑ w) (positions
    * count, so overlapping occurrences count — both engines agree on
    * that arithmetic). Word types longer than `maxWordLen` are
    * excluded (SentencePiece's own candidate-extraction cap; also
    * what keeps an oracle's position-unnest bound finite). Top
    * `topK` by (score DESC, piece ASC). The final window ranks only
    * the already-reduced candidate set (vocabulary-sized — the
    * documented small-window exception). */
  def substringSeed(docs: DataFrame, textCol: String,
                    maxPieceLen: Int = 4, topK: Int = 48,
                    maxWordLen: Int = 32): DataFrame = {
    val wt = wordTypes(docs, textCol).filter(length(col("w")) <= maxWordLen)
    val cand = wt
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("freq"), expr("substring(w, i, l)").as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("score"))
    val top = cand.orderBy(col("score").desc, col("piece")).limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("piece"))))
      .select(col("rank"), col("piece"), col("score"))
  }

  /** floor(16 · log2 x) for x ≥ 1 by exact integer shift-and-square
    * (the classic binary-logarithm algorithm): take the integer part
    * from the bit length, then extract 4 fractional bits by
    * repeatedly squaring the 30-bit fixed-point mantissa. Integer
    * ops only — any engine replays it bit-for-bit, which is the
    * whole point (floor(16·log2(x)) via doubles could flip at a
    * representation boundary; this cannot). Requires x < 2^33 so the
    * mantissa shift fits a signed 64-bit lane (corpus piece scores;
    * enforced). */
  def ilog2Fixed16(x: Long): Long = {
    require(x >= 1 && x < (1L << 33), s"ilog2Fixed16 domain: $x")
    val m = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var g = (x << 30) >> m // fixed-point mantissa in [2^30, 2^31)
    var frac = 0L
    var r = 0
    while (r < 4) {
      g = (g * g) >> 30
      if (g >= (1L << 31)) { g >>= 1; frac = frac * 2 + 1 }
      else frac = frac * 2
      r += 1
    }
    16L * m + frac
  }

  /** The q137 cost table: seed top-K ∪ ALL single characters of the
    * corpus (char coverage — Kudo's invariant; a dropped rare char
    * would make some word unsegmentable), each priced
    * cost(s) = ilog16(total) − ilog16(score_s) ≥ 0 where total is
    * the summed score of the final piece set. Returns
    * (piece, score, cost). */
  def pieceCosts(docs: DataFrame, textCol: String,
                 maxPieceLen: Int = 4, topK: Int = 48,
                 maxWordLen: Int = 32): DataFrame = {
    // materialized once for the several scans below; localCheckpoint,
    // not cache(): the returned frame is lazy and reads `wt`, so a
    // cache could never be released, and it would stay registered in
    // the session's CacheManager
    val wt = wordTypes(docs, textCol)
      .filter(length(col("w")) <= maxWordLen).localCheckpoint()
    val cand = wt
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1))).as("l"))
      .select(col("freq"), expr("substring(w, i, l)").as("piece"),
        col("l"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("score"),
        max(col("l")).as("l"))
    val top = cand.orderBy(col("score").desc, col("piece")).limit(topK)
    val chars = cand.filter(col("l") === 1)
    val pieces = top.select(col("piece"), col("score"))
      .unionAll(chars.select(col("piece"), col("score")))
      .groupBy(col("piece")).agg(max(col("score")).as("score"))
    val ilogUdf = udf((x: Long) => ilog2Fixed16(x))
    val total = pieces.agg(sum(col("score"))).collect()(0).getLong(0)
    val ilogTotal = ilog2Fixed16(total)
    pieces.select(col("piece"), col("score"),
      (lit(ilogTotal) - ilogUdf(col("score"))).as("cost"))
  }

  /** Viterbi segmentation surfaces under integer costs: per word,
    * minimize (Σ cost, n_pieces) lexicographically — encoded as the
    * single integer key Σcost·64 + n (n ≤ maxWordLen < 64, so the
    * combined order IS the lexicographic order, and both engines
    * min() the same number). Words longer than `maxWordLen` are
    * excluded (the oracle's DP replay is a fixed-depth relaxation;
    * the engine honors the same envelope). Per-doc totals join the
    * per-TYPE solution back onto the corpus (segment once per type,
    * not per token).
    * @return (doc_id, n_words, n_pieces, total_cost) */
  def segmentStats(docs: DataFrame, idCol: String, textCol: String,
                   pieces: DataFrame, maxWordLen: Int = 16): DataFrame = {
    // the combined key packs n_pieces into 6 bits (comb & 63), so a
    // word may segment into at most 63 pieces — maxWordLen >= 64
    // would silently corrupt n_pieces AND total_cost
    require(maxWordLen >= 1 && maxWordLen < 64,
      s"maxWordLen must be in [1, 63] (n_pieces rides 6 bits of the " +
        s"combined key), got $maxWordLen")
    val costMap = pieces.select(col("piece"), col("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxPiece = if (costMap.isEmpty) 1 else costMap.keys.map(_.length).max
    val solveUdf = udf((w: String) => viterbiCombined(w, costMap, maxPiece))
    val words = docs.select(col(idCol),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
    val types = words.select(col("w")).distinct()
      .withColumn("comb", solveUdf(col("w")))
    words.join(types, "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("comb").bitwiseAND(63)).as("n_pieces"),
        sum(shiftright(col("comb"), 6)).as("total_cost"))
  }

  /** The combined-key Viterbi: dp(j) = min over i<j with
    * piece = w[i..j) of dp(i) + cost(piece)·64 + 1. Exact integer
    * DP, O(len · maxPieceLen) with a hash probe per span. Contract:
    * w.length < 64, so n_pieces (≤ len) fits the 6-bit field of the
    * combined key (enforced by [[segmentStats]]'s maxWordLen bound;
    * re-checked here because the key encoding is THIS function's). */
  private[graft] def viterbiCombined(w: String, cost: Map[String, Long],
                                         maxPiece: Int): Long = {
    require(w.length < 64,
      s"viterbiCombined: word length ${w.length} >= 64 would overflow " +
        "the 6-bit n_pieces field of the combined key")
    val n = w.length
    val INF = Long.MaxValue / 4
    val dp = Array.fill(n + 1)(INF)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPiece)
      while (i < j) {
        cost.get(w.substring(i, j)) match {
          case Some(c) if dp(i) != INF =>
            val v = dp(i) + c * 64 + 1
            if (v < dp(j)) dp(j) = v
          case _ => ()
        }
        i += 1
      }
      j += 1
    }
    require(dp(n) != INF, s"unsegmentable word (char coverage broken): $w")
    dp(n)
  }

  // ---------------------------------------------------------------
  // SPEC TIER: the float production path — full EM training and
  // Viterbi encoding under learned log-probs (UnigramSpec pins
  // monotone likelihood, determinism, coverage, optimality).
  // ---------------------------------------------------------------

  /** A learned piece with its log-probability. */
  case class Piece(piece: String, logp: Double)

  /** Lattice forward pass: alpha(j) = Σ alpha(i)·p(w[i..j)). Returns
    * (alpha, beta, Z) in plain probability space (words are short;
    * no underflow at these lengths). */
  private def forwardBackward(w: String, p: Map[String, Double],
                              maxPieceLen: Int): (Array[Double], Array[Double], Double) = {
    val n = w.length
    val alpha = new Array[Double](n + 1)
    val beta = new Array[Double](n + 1)
    alpha(0) = 1.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        val pr = p.getOrElse(w.substring(i, j), 0.0)
        if (pr > 0.0) alpha(j) += alpha(i) * pr
        i += 1
      }
      j += 1
    }
    beta(n) = 1.0
    var i = n - 1
    while (i >= 0) {
      var k = i + 1
      val lim = math.min(n, i + maxPieceLen)
      while (k <= lim) {
        val pr = p.getOrElse(w.substring(i, k), 0.0)
        if (pr > 0.0) beta(i) += pr * beta(k)
        k += 1
      }
      i -= 1
    }
    (alpha, beta, alpha(n))
  }

  /** Floor probability for SINGLE-CHARACTER pieces: EM mass
    * concentrates super-exponentially onto whole-word pieces, and a
    * rare char's expected count can UNDERFLOW to exact 0.0 within a
    * few rounds — silently evicting it and making some word
    * unsegmentable (observed on the fixture corpus: 'j' died while
    * "join" lived). SentencePiece keeps character coverage by
    * construction; this floor is the same invariant, numerically. */
  val CharProbFloor = 1e-12

  /** One EM round over the word-TYPE table (map-side with broadcast
    * probs; expected counts fold to one row per piece). Returns the
    * re-normalized probs and the corpus log-likelihood under the
    * INPUT model (Σ freq · ln Z_w). Single-char pieces of the input
    * model are floored at [[CharProbFloor]] (then renormalized) so
    * coverage survives underflow. */
  /** The per-word-type E-step kernel shared by the Seq driver and
    * the distributed job: folds `(w, freq)`'s expected piece counts
    * into `exp` and returns freq·ln Z. */
  private def eStepKernel(w: String, freq: Long, probs: Map[String, Double],
                          maxPieceLen: Int,
                          exp: scala.collection.mutable.Map[String, Double]): Double = {
    val (alpha, beta, z) = forwardBackward(w, probs, maxPieceLen)
    require(z > 0.0, s"unsegmentable word under current vocab: $w")
    val n = w.length
    var i = 0
    while (i < n) {
      var k = i + 1
      val lim = math.min(n, i + maxPieceLen)
      while (k <= lim) {
        val s = w.substring(i, k)
        val pr = probs.getOrElse(s, 0.0)
        if (pr > 0.0) {
          val c = alpha(i) * pr * beta(k) / z
          if (c > 0.0) exp(s) = exp.getOrElse(s, 0.0) + freq * c
        }
        k += 1
      }
      i += 1
    }
    freq * math.log(z)
  }

  /** M-step: normalize expected counts, then apply the char floor. */
  private def mStep(exp: Map[String, Double],
                    probs: Map[String, Double]): Map[String, Double] = {
    val total = exp.values.sum
    val normed = exp.map { case (s, c) => s -> c / total }
    // char-coverage floor: every single-char piece of the INPUT model
    // survives with at least CharProbFloor
    val floored = probs.keys.filter(_.length == 1).foldLeft(normed) {
      case (m, ch) => if (m.getOrElse(ch, 0.0) >= CharProbFloor) m
                      else m.updated(ch, CharProbFloor)
    }
    val z2 = floored.values.sum
    floored.map { case (s, p) => s -> p / z2 }
  }

  def emStep(spark: SparkSession, wt: Seq[(String, Long)],
             probs: Map[String, Double], maxPieceLen: Int)
      : (Map[String, Double], Double) = {
    var ll = 0.0
    val exp = scala.collection.mutable.Map.empty[String, Double]
    wt.foreach { case (w, freq) => ll += eStepKernel(w, freq, probs, maxPieceLen, exp) }
    (mStep(exp.toMap, probs), ll)
  }

  /** [[emStep]] as an ACTUAL distributed job (the §8 backlog item):
    * the word-TYPE table stays a DataFrame, each partition folds its
    * types through [[eStepKernel]] with the broadcast model and
    * emits ONE partial (piece, count) set plus a log-likelihood
    * sentinel row, and a piece-keyed sum collapses the partials —
    * shuffle volume is vocabulary × partitions, never corpus rows.
    * Float caveat, stated: cross-partition double summation is
    * ORDER-dependent in the last ulps, so this is deterministic for
    * a fixed partitioning and agrees with the Seq driver to ~1e-9
    * relative (spec-pinned), not bit-for-bit — the same trade every
    * distributed float aggregation makes (and why the GATED tier
    * q136/q137 is integer-only). */
  def emStepDistributed(wt: DataFrame, probs: Map[String, Double],
                        maxPieceLen: Int): (Map[String, Double], Double) = {
    val spark = wt.sparkSession
    import org.apache.spark.sql.Encoders
    val bc = spark.sparkContext.broadcast(probs)
    val llKey = "" // pieces are never empty — safe sentinel
    val partials = wt.select(col("w").cast("string"), col("freq").cast("long"))
      .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { it =>
        val exp = scala.collection.mutable.Map.empty[String, Double]
        var ll = 0.0
        it.foreach { case (w, freq) =>
          ll += eStepKernel(w, freq, bc.value, maxPieceLen, exp)
        }
        exp.iterator.map { case (s, c) => (s, c) } ++ Iterator((llKey, ll))
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaDouble))
      .toDF("piece", "c")
      .groupBy(col("piece")).agg(sum(col("c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ll = partials.getOrElse(llKey, 0.0)
    (mStep(partials - llKey, probs), ll)
  }

  /** Train a unigram-LM vocabulary: seed from substring scores, then
    * alternate EM refinement with pruning (drop the lowest-expected
    * non-char pieces, `pruneFrac` at a time) until `vocabSize`, then
    * a final EM polish. Deterministic: ties in pruning break by
    * piece string. */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
            maxPieceLen: Int = 4, seedSize: Int = 200,
            emIters: Int = 2, pruneFrac: Double = 0.2): Seq[Piece] = {
    val spark = docs.sparkSession
    val wt = wordTypes(docs, textCol)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1) // deterministic fold order
    val seed = substringSeed(docs, textCol, maxPieceLen, seedSize)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val chars = wt.flatMap(_._1.map(_.toString)).distinct.sorted
    val charSet = chars.toSet
    val withChars = (seed.map(_._1) ++ chars).distinct
    val seedScore = seed.toMap
    val total0 = withChars.map(s => seedScore.getOrElse(s, 1L)).sum.toDouble
    var probs: Map[String, Double] =
      withChars.map(s => s -> seedScore.getOrElse(s, 1L) / total0).toMap
    var done = false
    while (!done) {
      for (_ <- 0 until emIters) probs = emStep(spark, wt, probs, maxPieceLen)._1
      // single chars of the corpus are never pruned (coverage)
      val removable = probs.keys.filterNot(s => charSet.contains(s) && s.length == 1).toSeq
      if (probs.size <= vocabSize || removable.isEmpty) done = true
      else {
        val nDrop = math.min(removable.size,
          math.max(1, math.min(probs.size - vocabSize,
            (removable.size * pruneFrac).toInt)))
        val drop = removable.sortBy(s => (probs(s), s)).take(nDrop).toSet
        val kept = probs.filterNot { case (s, _) => drop(s) }
        val z = kept.values.sum
        probs = kept.map { case (s, p) => s -> p / z }
      }
    }
    for (_ <- 0 until emIters) probs = emStep(spark, wt, probs, maxPieceLen)._1
    probs.toSeq.sortBy { case (s, p) => (-p, s) }
      .map { case (s, p) => Piece(s, math.log(p)) }
  }

  /** Viterbi encode one word under learned log-probs: maximize
    * Σ logp; ties (rare with floats, exact on replays) break by
    * fewer pieces, then by the lexicographically smallest piece
    * sequence — a total order, so encoding is deterministic. */
  def encode(vocab: Seq[Piece], maxPieceLen: Int = 4)(word: String): Seq[String] = {
    val lp = vocab.map(p => p.piece -> p.logp).toMap
    val n = word.length
    case class St(score: Double, np: Int, path: List[String])
    val dp = new Array[St](n + 1)
    dp(0) = St(0.0, 0, Nil)
    var j = 1
    while (j <= n) {
      var best: St = null
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        val s = word.substring(i, j)
        lp.get(s) match {
          case Some(l) if dp(i) != null =>
            val c = St(dp(i).score + l, dp(i).np + 1, s :: dp(i).path)
            if (best == null || c.score > best.score ||
              (c.score == best.score && (c.np < best.np ||
                (c.np == best.np &&
                  ordPath(c.path.reverse) < ordPath(best.path.reverse)))))
              best = c
          case _ => ()
        }
        i += 1
      }
      dp(j) = best
      j += 1
    }
    require(dp(n) != null, s"unsegmentable word: $word")
    dp(n).path.reverse
  }

  /** Sequence-lexicographic order key: pieces joined with a
    * separator (\\u0001) below every corpus character, so distinct
    * boundary placements with equal concatenation still compare
    * correctly (["ab","c"] vs ["a","bc"]). */
  private def ordPath(p: List[String]): String = p.mkString("\u0001")

  /** Per-doc token count under a learned vocabulary (the q49 shape),
    * map-side via broadcast vocab. */
  def tokenCountUdf(vocab: Seq[Piece], maxPieceLen: Int = 4)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val enc = encode(vocab, maxPieceLen) _
    udf((text: String) =>
      if (text == null) 0L
      else text.split(" ").iterator.filter(_.nonEmpty)
        .map(w => enc(w).size.toLong).sum)
  }
}
