package graft

import graft.Tables
import graft.operators.Unigram

class UnigramSpec extends SparkSuite {

  private def docs = Tables.documents(spark, sf)

  test("ilog2Fixed16 equals floor(16*log2 x) exactly across magnitudes " +
    "and at power-of-two boundaries") {
    val xs = (1L to 1000L) ++ Seq(12345L, 999999L, (1L << 20) - 1, 1L << 20,
      (1L << 32) - 1, (1L << 33) - 1) ++ (0 to 32).map(1L << _).filter(_ < (1L << 33))
    xs.foreach { x =>
      val want = math.floor(16.0 * math.log(x.toDouble) / math.log(2.0)).toLong
      val got = Unigram.ilog2Fixed16(x)
      // the double reference can itself be off at representation
      // boundaries; the integer algorithm cannot — allow the double
      // to disagree only at exact powers of two where log2 is exact
      assert(got === want, s"x=$x")
    }
    intercept[IllegalArgumentException](Unigram.ilog2Fixed16(0L))
    intercept[IllegalArgumentException](Unigram.ilog2Fixed16(1L << 33))
  }

  test("viterbiCombined matches brute-force enumeration of all " +
    "segmentations under the integer cost model") {
    val pieces = Unigram.pieceCosts(docs, "text", maxPieceLen = 4, topK = 48)
    val costMap = pieces.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val maxPiece = costMap.keys.map(_.length).max
    def brute(w: String): Long = {
      def go(i: Int): Seq[(Long, Long)] =
        if (i == w.length) Seq((0L, 0L))
        else (1 to math.min(maxPiece, w.length - i)).flatMap { l =>
          costMap.get(w.substring(i, i + l)).toSeq.flatMap(c =>
            go(i + l).map { case (cost, np) => (cost + c, np + 1) })
        }
      go(0).map { case (c, n) => c * 64 + n }.min
    }
    val words = Unigram.wordTypes(docs, "text").collect().map(_.getString(0))
      .filter(_.length <= 16)
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(Unigram.viterbiCombined(w, costMap, maxPiece) === brute(w), s"w=$w")
    }
  }

  test("EM: corpus log-likelihood is non-decreasing across iterations " +
    "at fixed vocabulary") {
    val wt = Unigram.wordTypes(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    val seed = Unigram.substringSeed(docs, "text", 4, 200).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    val chars = wt.flatMap(_._1.map(_.toString)).distinct.sorted
    val all = (seed.map(_._1) ++ chars).distinct
    val sc = seed.toMap
    val tot = all.map(s => sc.getOrElse(s, 1L)).sum.toDouble
    var probs: Map[String, Double] = all.map(s => s -> sc.getOrElse(s, 1L) / tot).toMap
    var lastLl = Double.NegativeInfinity
    for (it <- 0 until 6) {
      val (next, ll) = Unigram.emStep(spark, wt, probs, 4)
      assert(ll >= lastLl - 1e-9, s"iter $it: likelihood fell $lastLl -> $ll")
      lastLl = ll
      probs = next
      // probabilities stay a distribution
      assert(math.abs(probs.values.sum - 1.0) < 1e-9)
    }
  }

  test("emStepDistributed agrees with the Seq driver (~1e-9 relative) " +
    "across chained rounds and is deterministic for a fixed partitioning") {
    val wtDf = Unigram.wordTypes(docs, "text")
    val wt = wtDf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    val chars = wt.flatMap(_._1.map(_.toString)).distinct.sorted
    val seed = Unigram.substringSeed(docs, "text", 4, 200).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    val sc = seed.toMap
    val all = (seed.map(_._1) ++ chars).distinct
    val tot = all.map(s => sc.getOrElse(s, 1L).toDouble).sum
    var pSeq: Map[String, Double] = all.map(s => s -> sc.getOrElse(s, 1L) / tot).toMap
    var pDist = pSeq
    for (it <- 0 until 3) {
      val (nSeq, llSeq) = Unigram.emStep(spark, wt, pSeq, 4)
      val (nDist, llDist) = Unigram.emStepDistributed(wtDf, pDist, 4)
      assert(math.abs(llSeq - llDist) <= 1e-9 * math.abs(llSeq), s"iter $it ll")
      assert(nSeq.keySet === nDist.keySet, s"iter $it keys diverged")
      nSeq.foreach { case (s, p) =>
        assert(math.abs(p - nDist(s)) <= 1e-9 * math.max(p, 1e-12), s"iter $it $s")
      }
      pSeq = nSeq; pDist = nDist
    }
    // determinism: identical input + partitioning -> identical result
    val (a, la) = Unigram.emStepDistributed(wtDf, pDist, 4)
    val (b, lb) = Unigram.emStepDistributed(wtDf, pDist, 4)
    assert(a === b && la === lb)
  }

  test("train: deterministic, hits the vocab target, never prunes " +
    "single chars, and every corpus word stays encodable") {
    val v1 = Unigram.train(docs, "text", vocabSize = 40, emIters = 2)
    val v2 = Unigram.train(docs, "text", vocabSize = 40, emIters = 2)
    assert(v1 === v2, "training is not deterministic")
    val wt = Unigram.wordTypes(docs, "text").collect().map(_.getString(0))
    val chars = wt.flatMap(_.map(_.toString)).distinct
    val vocabSet = v1.map(_.piece).toSet
    chars.foreach(c => assert(vocabSet.contains(c), s"char $c pruned"))
    assert(v1.size <= math.max(40, chars.size))
    // logps form a (log of a) distribution
    assert(math.abs(v1.map(p => math.exp(p.logp)).sum - 1.0) < 1e-9)
    val enc = Unigram.encode(v1, 4) _
    wt.foreach { w =>
      val seg = enc(w)
      assert(seg.mkString("") === w, s"segmentation of $w does not concatenate back")
    }
  }

  test("encode is Viterbi-optimal: best log-prob among ALL segmentations, " +
    "ties to fewest pieces then lexicographic") {
    val vocab = Unigram.train(docs, "text", vocabSize = 40, emIters = 2)
    val lp = vocab.map(p => p.piece -> p.logp).toMap
    def bruteAll(w: String): Seq[List[String]] = {
      def go(i: Int): Seq[List[String]] =
        if (i == w.length) Seq(Nil)
        else (1 to math.min(4, w.length - i)).flatMap { l =>
          val s = w.substring(i, i + l)
          if (lp.contains(s)) go(i + l).map(s :: _) else Nil
        }
      go(0)
    }
    val enc = Unigram.encode(vocab, 4) _
    Unigram.wordTypes(docs, "text").collect().map(_.getString(0))
      .filter(_.length <= 8).foreach { w =>
        val got = enc(w).toList
        val best = bruteAll(w).map { seg =>
          (-seg.map(lp).sum, seg.size, seg.mkString(""))
        }.min
        assert((-got.map(lp).sum, got.size, got.mkString("")) === best, s"w=$w")
      }
  }

  test("tokenCountUdf: per-doc counts equal the sum of per-word piece " +
    "counts (segment-per-type == segment-per-token)") {
    import spark.implicits._
    val vocab = Unigram.train(docs, "text", vocabSize = 40, emIters = 2)
    val enc = Unigram.encode(vocab, 4) _
    val sample = docs.select("doc_id", "text").limit(20).collect()
    val got = docs.limit(20)
      .select(col("doc_id"), Unigram.tokenCountUdf(vocab)(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sample.foreach { r =>
      val want = r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => enc(w).size.toLong).sum
      assert(got(r.getLong(0)) === want)
    }
  }

  test("segmentStats rejects maxWordLen >= 64 (n_pieces rides 6 bits of " +
    "the combined key) and viterbiCombined re-checks the bound") {
    val pieces = Unigram.pieceCosts(docs, "text", maxPieceLen = 4, topK = 16)
    intercept[IllegalArgumentException] {
      Unigram.segmentStats(docs, "doc_id", "text", pieces, maxWordLen = 64)
    }
    intercept[IllegalArgumentException] {
      Unigram.segmentStats(docs, "doc_id", "text", pieces, maxWordLen = 0)
    }
    intercept[IllegalArgumentException] {
      Unigram.viterbiCombined("a" * 64, Map("a" -> 1L), 1)
    }
    // the boundary value is legal and the 63-piece worst case decodes
    val comb = Unigram.viterbiCombined("a" * 63, Map("a" -> 1L), 1)
    assert((comb & 63) === 63L && (comb >> 6) === 63L)
  }

  private def col(s: String) = org.apache.spark.sql.functions.col(s)

  test("pieceCosts leaves nothing registered in the session's CacheManager") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val pieces = Unigram.pieceCosts(docs, "text", maxPieceLen = 4, topK = 48)
    assert(pieces.count() > 0)
    assert(cacheManager.isEmpty, "pieceCosts left a cached plan behind")
  }
}
