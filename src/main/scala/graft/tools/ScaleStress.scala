package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** Scale-stress harness: synthetic corpora ~20x the sf0.1 bench
  * corpus (default 100k docs), generated distributed (seeded per
  * doc, deterministic) into /tmp parquet, timing the dedup/text
  * operators end-to-end.
  *
  * Two corpus shapes, because the prefix join's cost depends on
  * token-frequency SKEW, not just size:
  *  - zipf: 5k-word Zipfian vocabulary (realistic text) — rare
  *    tokens exist, prefix buckets stay small;
  *  - uniform: 5k-word uniform vocabulary (adversarial) — prefixes
  *    cannot discriminate and the candidate estimate explodes, so
  *    dedupCorpus's cost-based dispatch must pick MinHash-LSH.
  *
  * Run: sbt "runMain graft.tools.ScaleStress [nDocs] [sections]"
  * sections: comma-list of docs,geo,vec (default all)
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    val sections = args.drop(1).headOption.getOrElse("docs,geo,vec").split(",").toSet
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nTemplates = math.max(1, nDocs / 20)
    val docLen = 120
    // Realistic text has a long Zipf tail — the vocabulary must be
    // large relative to total token draws (nDocs*docLen) or no
    // genuinely rare tokens exist (a 5k vocab over 12M draws puts
    // even rank 5000 in ~260 docs, which starves prefix filtering
    // the way the uniform shape does). 200k ranks over 12M draws
    // leaves ranks beyond ~50k near-hapax.
    val zipfVocab = 200000
    val uniformVocab = 5000
    // Zipf inverse-CDF table (rank r w.p. ~ 1/r)
    val zipfCum: Array[Double] = {
      val w = Array.tabulate(zipfVocab)(r => 1.0 / (r + 1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def gen(shape: String): DataFrame = {
      val out = s"/tmp/graft_scale_${shape}_$nDocs.parquet"
      val zc = zipfCum
      spark.range(0, nDocs, 1, 32)
        .mapPartitions { it =>
          def draw(rng: scala.util.Random): String =
            if (shape == "uniform") s"w${rng.nextInt(uniformVocab)}"
            else {
              val i = java.util.Arrays.binarySearch(zc, rng.nextDouble())
              s"w${if (i >= 0) i else -i - 1}"
            }
          it.map { id =>
            val tplRng = new scala.util.Random((id % nTemplates).toInt)
            val words = Array.fill(docLen)(draw(tplRng))
            val docRng = new scala.util.Random(id)
            (0 until docRng.nextInt(9)).foreach { _ =>
              words(docRng.nextInt(docLen)) = draw(docRng)
            }
            (id, words.mkString(" "))
          }
        }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    def timed(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stress] $label: $r in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    if (sections("docs")) {
    val zipf = gen("zipf")
    println(s"[stress] zipf corpus: ${zipf.count()} docs, $nTemplates clusters")
    def hashed(d: DataFrame) = d
      .select(col("doc_id").as("id"), Dedup.wordHashes(Dedup.wordSet(col("text"))).as("h"))
      .filter(size(col("h")) > 0)
    timed("zipf prefix candidate estimate")(
      Dedup.prefixCandidateEstimate(hashed(zipf), 0.95).toLong)
    timed("zipf exact dedup")(Dedup.exact(zipf, "doc_id", "text").count())
    timed("zipf prefix jaccard pairs t=0.95")(
      Dedup.prefixJaccardDuplicates(zipf, "doc_id", "text", 0.95).count())
    timed("zipf minhash-LSH pairs t=0.95")(
      Dedup.minhashDuplicates(zipf, "doc_id", "text", 0.95).count())
    timed("zipf simhash pairs ham<=8")(
      Dedup.simhashDuplicates(zipf, "doc_id", "text", 8).count())
    // bench slice modulus must be COPRIME with the template modulus
    // (nDocs/20) or a benchmark doc's cluster-mates all land in the
    // benchmark too and contamination trivially finds nothing
    timed("zipf contamination n=8 (~1% bench)")(
      Dedup.contamination(zipf.filter(col("doc_id") % 97 =!= 0),
        zipf.filter(col("doc_id") % 97 === 0), "doc_id", "text", 8).count())
    timed("zipf vocab top-100")(
      TextAnalysis.vocabTopK(zipf, "doc_id", "text", 100).count())
    timed("zipf repetition score")(
      TextAnalysis.repetitionScore(zipf, "doc_id", "text", 8).count())
    timed("zipf dedupCorpus end-to-end t=0.95")(
      Dedup.dedupCorpus(zipf, "doc_id", "text", 0.95).count())

    val uni = gen("uniform")
    println(s"[stress] uniform corpus: ${uni.count()} docs")
    timed("uniform prefix candidate estimate (expect huge)")(
      Dedup.prefixCandidateEstimate(hashed(uni), 0.95).toLong)
    timed("uniform minhash-LSH pairs t=0.95 (what the dispatch picks)")(
      Dedup.minhashDuplicates(uni, "doc_id", "text", 0.95).count())

    // Low-entropy corpus for the simhash hot-bucket split: templated
    // docs over a tiny vocabulary concentrate 7-bit block values on a
    // few hot buckets, the shape where the first-level join is
    // quadratic. Measure raw emissions with the split off vs on, and
    // the end-to-end effect.
    val zc2 = zipfCum
    val lowEnt = spark.range(0, nDocs, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val tplRng = new scala.util.Random((id % 50).toInt)
          val words = Array.fill(docLen) {
            val i = java.util.Arrays.binarySearch(zc2, tplRng.nextDouble())
            s"w${if (i >= 0) i else -i - 1}"
          }
          val docRng = new scala.util.Random(id)
          (0 until 2 + docRng.nextInt(5)).foreach { _ =>
            words(docRng.nextInt(docLen)) = s"w${docRng.nextInt(200)}"
          }
          (id, words.mkString(" "))
        }
      }.toDF("doc_id", "text").localCheckpoint()
    println(s"[stress] low-entropy corpus: ${lowEnt.count()} docs, 50 templates")
    timed("simhash emissions low-entropy, split OFF (budget=MaxValue)")(
      Dedup.simhashEmissionCount(lowEnt, "doc_id", "text", 8, Int.MaxValue))
    timed("simhash emissions low-entropy, per-bucket dispatch (budget=512)")(
      Dedup.simhashEmissionCount(lowEnt, "doc_id", "text", 8, 512))
    timed("simhash pairs low-entropy (dispatched)")(
      Dedup.simhashDuplicates(lowEnt, "doc_id", "text", 8).count())
    // diverse-signature hot buckets: the shape where the split WINS —
    // value-space saturation, not similarity (1M random-ish sigs would
    // saturate 7-bit blocks; emulate with tiny-vocab uniform docs
    // whose sigs are spread but blocks collide)
    timed("simhash emissions uniform, split OFF (budget=MaxValue)")(
      Dedup.simhashEmissionCount(uni, "doc_id", "text", 8, Int.MaxValue))
    timed("simhash emissions uniform, per-bucket dispatch (budget=512)")(
      Dedup.simhashEmissionCount(uni, "doc_id", "text", 8, 512))
    }

    if (sections("textops")) {
    // r5 text/curation additions at corpus scale, on the clustered
    // zipf shape (template clusters plant genuine cross-doc
    // duplicated 8-windows for the span ops). All of these claim
    // corpus-linear plans — run at N and 10N to hold them to it.
    val zipf = gen("zipf")
    println(s"[stress] zipf corpus: ${zipf.count()} docs, $nTemplates clusters")
    // .count() would LIE for the three left-join-shaped outputs
    // below: a left join preserves the left id set, so Catalyst
    // prunes the whole expensive subtree out of a count-of-groups.
    // Aggregate over the computed payload columns instead.
    timed("dupSpans k=8 (ExactSubstr ranges)")(
      Dedup.dupSpans(zipf, "doc_id", "text", 8).count())
    timed("dupSpans k=8 HASHED grams (the freight lever)")(
      Dedup.dupSpans(zipf, "doc_id", "text", 8, hashGrams = true).count())
    timed("exciseDupSpans k=8 (cleaned corpus)")(
      Dedup.exciseDupSpans(zipf, "doc_id", "text", 8)
        .agg(sum(col("n_removed")), sum(length(col("clean_text")))).collect()(0).toSeq)
    timed("exciseDupSpans k=8 HASHED grams")(
      Dedup.exciseDupSpans(zipf, "doc_id", "text", 8, hashGrams = true)
        .agg(sum(col("n_removed")), sum(length(col("clean_text")))).collect()(0).toSeq)
    timed("lmScore (corpus bigram LM)")(
      TextAnalysis.lmScore(zipf, "doc_id", "text")
        .agg(sum(pmod(col("sig"), lit(1000003L))), sum(col("nll"))).collect()(0).toSeq)
    timed("importanceWeights vs ~1% target slice")(
      TextAnalysis.importanceWeights(zipf,
        zipf.filter(col("doc_id") % 97 === 0), "doc_id", "text")
        .agg(sum(pmod(col("sig"), lit(1000003L))), sum(col("logw"))).collect()(0).toSeq)
    timed("exciseContamination vs ~1% bench slice (hashed grams)")(
      Dedup.exciseContamination(zipf.filter(col("doc_id") % 97 =!= 0),
        zipf.filter(col("doc_id") % 97 === 0), "doc_id", "text", 8,
        hashGrams = true)
        .agg(sum(col("n_removed")), sum(length(col("clean_text")))).collect()(0).toSeq)
    val grouped = zipf.withColumn("src",
      concat(lit("s"), pmod(pmod(col("doc_id"), lit(97)), lit(20)).cast("string")))
    timed("temperatureMix alpha=0.5 over 20 groups")(
      graft.operators.Sampling.temperatureMix(grouped, "src", "doc_id").count())
    timed("capPerGroup cap=1000 over 20 groups")(
      graft.operators.Sampling.capPerGroup(grouped, "src", "doc_id", 1000).count())
    // the trained classifier: one checkpointed featurization pass +
    // 5 rounds of a (buckets+1)-sum aggregate — claims corpus-linear
    // (aggregate over margins so the final scoring pass really runs)
    timed("qualityPerceptron 64 buckets x 5 rounds")(
      TextAnalysis.qualityPerceptron(zipf, "doc_id", "text",
        pmod(col("doc_id"), lit(2)) === 0, buckets = 64, iters = 5)
        .agg(sum(col("margin")),
          sum(when(col("pred"), 1L).otherwise(0L))).collect()(0).toSeq)
    // train + the exact Mann-Whitney evaluation on top: the AUC adds
    // one histogram aggregate + a histogram-sized prefix to the
    // perceptron cost — the delta vs the row above is the claim
    timed("qualityPerceptron + marginAuc")(
      TextAnalysis.marginAuc(
        TextAnalysis.qualityPerceptron(zipf, "doc_id", "text",
          pmod(col("doc_id"), lit(2)) === 0, buckets = 64, iters = 5),
        "y", "margin").collect()(0).toSeq)
    // novelty of a ~10% candidate slice vs the rest: the base's
    // distinct-gram table scales with the corpus and must JOIN
    timed("ngramNovelty n=3, ~10% candidate slice")(
      TextAnalysis.ngramNovelty(zipf.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        zipf.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text", 3)
        .agg(sum(col("n_novel")), sum(col("n_distinct"))).collect()(0).toSeq)
    }

    if (sections("media")) {
    // PCM16 sample decode throughput: nDocs synthetic WAVs, ~16k
    // samples each (raise the closed-form frame count well past the
    // gate fixture so the BYTE LOOP, not per-file overhead, is what
    // the clock sees). Constant state per file — the claim is
    // samples/s, linear in total bytes.
    val nFrames = 16384
    val wavs = spark.range(0, nDocs, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val rate = 8000
          val dataLen = nFrames * 2
          val b = java.nio.ByteBuffer.allocate(44 + dataLen)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
          b.put("WAVE".getBytes("US-ASCII"))
          b.put("fmt ".getBytes("US-ASCII")).putInt(16)
          b.putShort(1.toShort).putShort(1.toShort).putInt(rate)
          b.putInt(rate * 2).putShort(2.toShort).putShort(16.toShort)
          b.put("data".getBytes("US-ASCII")).putInt(dataLen)
          var i = 0
          while (i < nFrames) {
            b.putShort((((id * 31 + i.toLong * 7919) % 65536) - 32768).toShort)
            i += 1
          }
          (id, b.array())
        }
      }.toDF("id", "payload").localCheckpoint()
    println(s"[stress] wavs: ${wavs.count()} x $nFrames samples")
    timed(s"decodePcm16Batch ($nDocs files x $nFrames samples)")(
      graft.operators.Multimodal.decodePcm16Batch(wavs)
        .agg(sum(col("sum_sq")), sum(col("n_zc"))).collect()(0).toSeq)
    }

    if (sections("lineops")) {
    // r6 line-granularity curation ops at N and 10N multi-line docs:
    // all three claim corpus-linear plans (q90/q91 map-side, q92 one
    // line-keyed shuffle). ~10 lines/doc from the zipf vocabulary;
    // every third doc carries a shared boilerplate line (the shape
    // exciseCommonLines must cut), and every fifth doc repeats its
    // own first line (lineRepetition's signal, NOT boilerplate).
    val zc3 = zipfCum
    val lined = spark.range(0, nDocs, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val rng = new scala.util.Random(id)
          def word(): String = {
            val i = java.util.Arrays.binarySearch(zc3, rng.nextDouble())
            s"w${if (i >= 0) i else -i - 1}"
          }
          val lines = Array.tabulate(10) { k =>
            val ws = Array.fill(6 + rng.nextInt(6))(word()).mkString(" ")
            if (k == 9 && id % 3 == 0) "cookie banner boilerplate row."
            else if (k == 8 && id % 5 == 0) null // replaced below
            else ws + (if (k % 2 == 0) "." else "")
          }
          if (id % 5 == 0) lines(8) = lines(0)
          (id, lines.mkString("\n"))
        }
      }.toDF("doc_id", "text").localCheckpoint()
    println(s"[stress] lined corpus: ${lined.count()} docs x ~10 lines")
    timed("c4LineClean (map-side rules)")(
      TextAnalysis.c4LineClean(lined, "doc_id", "text")
        .agg(sum(col("n_kept")), sum(length(col("clean_text")))).collect()(0).toSeq)
    timed("lineRepetition (map-side dup fractions)")(
      TextAnalysis.lineRepetition(lined, "doc_id", "text")
        .agg(sum(col("n_dup_lines")), sum(col("n_dup_chars"))).collect()(0).toSeq)
    timed("exciseCommonLines minDocs=2 (line-keyed shuffle)")(
      TextAnalysis.exciseCommonLines(lined, "doc_id", "text")
        .agg(sum(col("n_cut")), sum(length(col("clean_text")))).collect()(0).toSeq)
    }

    if (sections("retrieval")) {
    // r5 retrieval additions at corpus scale: every plan here claims
    // corpus-linearity with the query/bench/codebook side broadcast
    // (and FIXED-SIZE as the corpus grows) — run at N and 10N to
    // hold them to it.
    val zipf = gen("zipf")
    println(s"[stress] zipf corpus: ${zipf.count()} docs")
    // bm25 output is left-join-shaped: aggregate payload, never count
    timed("bm25 3-term query over corpus")(
      TextAnalysis.bm25(zipf, "doc_id", "text", Seq("w0", "w1", "w2"))
        .agg(sum(pmod(col("sig"), lit(1000003L))), sum(col("score")))
        .collect()(0).toSeq)
    timed("heavyHitters k=20 (exact + CMS envelope)")(
      TextAnalysis.heavyHitters(zipf, "doc_id", "text").count())
    timed("cooccur window=2 top-100")(
      TextAnalysis.cooccur(zipf, "doc_id", "text").count())
    val nv = math.max(nDocs / 2, 1000)
    val vecs = spark.range(0, nv, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val rng = new scala.util.Random(id)
          (id, Array.fill(64)(rng.nextFloat() * 2 - 1))
        }
      }.toDF("vid", "vec").localCheckpoint()
    println(s"[stress] vectors: ${vecs.count()} x 64-dim")
    val c = vecs.select(col("vid").as("cid"), col("vec"))
    // query/bench sides FIXED at 500 rows so a 10x corpus means 10x
    // work, not 100x
    val q = vecs.filter(col("vid") < 500)
      .select(col("vid").as("qid"), col("vec"))
    val bench = vecs.filter(col("vid") >= 500 && col("vid") < 1000)
      .select(col("vid").as("bid"), col("vec"))
    timed(s"pqTopK m=8 ks=256 top-10, 500 queries x $nv corpus")(
      graft.operators.Similarity.pqTopK(q, c, 10, m = 8, ks = 256)
        .agg(sum(col("adist"))).collect()(0).toSeq)
    timed(s"semanticScreen $nv corpus vs 500-item bench")(
      graft.operators.Similarity.semanticScreen(c, bench, 0.9)
        .agg(sum(col("cos")),
          sum(when(col("contaminated"), 1).otherwise(0))).collect()(0).toSeq)
    timed(s"rpTopK projDims=16 shortlist=20 top-5, 500 queries x $nv corpus")(
      graft.operators.Similarity.rpTopK(q, c, 5, projDims = 16, shortlist = 20)
        .agg(sum(col("cos"))).collect()(0).toSeq)
    }

    if (sections("ngram")) {
    // q33's shape at scale: char-n-gram Jaccard via the prefix path,
    // at N and 10N docs — the check is that runtime grows ~linearly
    // (the r3 broadcast nested-loop grew with the SQUARE of the
    // slice). Letter-based Zipf words (not "w123" digit tokens) give
    // gram-level diversity, but note which lever matters: the gram
    // SPACE. At n=3 it is closed (26^3 ~ 17.6k values), so bucket
    // occupancy — and the candidate volume of ANY set-similarity
    // algorithm, and typically the true pair output itself — grows
    // ~quadratically with corpus size regardless of text shape; the
    // candidate estimates below quantify that. At n=5 the space is
    // ~12M (effectively open), rare grams exist at any corpus size,
    // and the prefix path is the linear plan the operator claims.
    // Vocabulary must GROW with the corpus (Heaps' law — real text
    // keeps minting new rare words): under a FIXED vocabulary every
    // token's corpus frequency grows proportionally to N, so prefix
    // buckets grow with N and Sigma C(bucket, 2) is ~N^2 no matter
    // the algorithm — the linear claim is about open vocabularies.
    def letterCorpus(n: Int): DataFrame = {
      val out = s"/tmp/graft_scale_letters_$n.parquet"
      val nTpl = math.max(1, n / 20)
      val vocabN = math.max(20000, 2 * n)
      val zc3 = {
        val w = Array.tabulate(vocabN)(r => 1.0 / (r + 1))
        val total = w.sum
        w.scanLeft(0.0)(_ + _).tail.map(_ / total)
      }
      spark.range(0, n, 1, 32).mapPartitions { it =>
        def word(rank: Int): String = {
          val r = new scala.util.Random(rank.toLong * 2654435761L)
          Array.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString
        }
        def draw(rng: scala.util.Random): String = {
          val i = java.util.Arrays.binarySearch(zc3, rng.nextDouble())
          word(if (i >= 0) i else -i - 1)
        }
        it.map { id =>
          val tplRng = new scala.util.Random((id % nTpl).toInt)
          val words = Array.fill(docLen)(draw(tplRng))
          val docRng = new scala.util.Random(id)
          (0 until docRng.nextInt(9)).foreach { _ =>
            words(docRng.nextInt(docLen)) = draw(docRng)
          }
          (id, words.mkString(" "))
        }
      }.toDF("doc_id", "text").write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }
    for (n <- Seq(nDocs / 10, nDocs)) {
      val c = letterCorpus(n)
      println(s"[stress] letter corpus: ${c.count()} docs, ${math.max(1, n / 20)} clusters")
      def gramDocs(g: Int) = c.select(col("doc_id").as("id"),
        Dedup.charGramHashes(col("text"), g).as("h")).filter(size(col("h")) > 0)
      // The three candidate-volume regimes, quantified (the true pair
      // output is linear in all three — ~190 pairs per 20-doc
      // cluster): closed gram space is quadratic whatever the
      // algorithm; open space at moderate t is sub-quadratic but
      // superlinear (prefixes reach mid-frequency grams whose buckets
      // grow with N); open space at high t touches only genuinely
      // rare grams and stays ~linear — prefix filtering's design
      // regime, and the regime the end-to-end run demonstrates.
      timed(s"3-gram candidate estimate t=0.6, $n docs (closed 26^3 space: ~N^2)")(
        Dedup.prefixCandidateEstimate(gramDocs(3), 0.6).toLong)
      timed(s"5-gram candidate estimate t=0.6, $n docs (open space, moderate t)")(
        Dedup.prefixCandidateEstimate(gramDocs(5), 0.6).toLong)
      timed(s"5-gram candidate estimate t=0.9, $n docs (open space, high t: ~N)")(
        Dedup.prefixCandidateEstimate(gramDocs(5), 0.9).toLong)
      timed(s"ngramJaccard prefix path n=5 t=0.9, $n docs")(
        Dedup.ngramJaccard(c, "doc_id", "text", 5, 0.9, bruteForceMaxDocs = 0).count())
      // the moderate-t scale route: band buckets are random in gram
      // space, so candidates track similarity structure (clusters),
      // not gram frequency — ~linear where the prefix estimate above
      // grows superlinearly. Cost is the 4x~100-hash signatures.
      timed(s"ngramJaccardLSH n=5 t=0.6, $n docs (threshold-tuned bands)")(
        Dedup.ngramJaccardLSH(c, "doc_id", "text", 5, 0.6).count())
      // high-t LSH (6 rows x ~18 bands — cheaper signatures than the
      // 0.6 tuning): the comparison point against the prefix run
      // above, which pays the 59M-candidate verify freight here
      timed(s"ngramJaccardLSH n=5 t=0.9, $n docs")(
        Dedup.ngramJaccardLSH(c, "doc_id", "text", 5, 0.9).count())
    }
    }

    if (sections("simhash")) {
    val zipf = gen("zipf")
    println(s"[stress] zipf corpus: ${zipf.count()} docs")
    timed("zipf simhash emissions budget=MaxValue")(
      Dedup.simhashEmissionCount(zipf, "doc_id", "text", 8, Int.MaxValue))
    timed("zipf simhash emissions budget=512")(
      Dedup.simhashEmissionCount(zipf, "doc_id", "text", 8, 512))
    timed("zipf simhash pairs budget=MaxValue (collapse only)")(
      Dedup.simhashDuplicates(zipf, "doc_id", "text", 8, Int.MaxValue).count())
    timed("zipf simhash pairs budget=512 (dispatched)")(
      Dedup.simhashDuplicates(zipf, "doc_id", "text", 8).count())
    }

    if (sections("geo")) {
    // --- geometry core at 25x the q2x region count: 100x100 grid ---
    val gn = 100
    val grid = spark.range(0, gn.toLong * gn, 1, 32)
      .selectExpr("id",
        s"concat('POLYGON ((', (id % $gn) * 4, ' ', (id div $gn) * 4, ', ', " +
        s"(id % $gn) * 4 + 4, ' ', (id div $gn) * 4, ', ', " +
        s"(id % $gn) * 4 + 4, ' ', (id div $gn) * 4 + 4, ', ', " +
        s"(id % $gn) * 4, ' ', (id div $gn) * 4 + 4, ', ', " +
        s"(id % $gn) * 4, ' ', (id div $gn) * 4, '))') AS geometry",
        "1.0 + CAST(id % 7 AS DOUBLE) AS value")
      .localCheckpoint()
    println(s"[stress] grid: ${grid.count()} regions")
    timed("borders queen 10k regions")(
      graft.operators.Borders.compute(grid, "id", "geometry").count())
    timed("non-contiguous 10k regions")(
      graft.operators.NonContiguous.run(grid, "id", "value", "geometry").count())
    timed("dorling 3 iters DISTRIBUTED 10k regions")(
      graft.operators.Dorling.run(grid, "id", "value", "geometry",
        iterations = 3, smallN = 0).count())
    // smallN past the region count forces the driver-side Jacobi loop
    // (the default dispatch would send 10k regions down the
    // distributed path and re-measure the line above)
    timed("dorling 3 iters driver-side 10k regions")(
      graft.operators.Dorling.run(grid, "id", "value", "geometry",
        iterations = 3, smallN = Int.MaxValue).count())
    }

    if (sections("vec")) {
    // --- embeddings at 25x the bench vector count: 50k x 64-dim ---
    val vecs = spark.range(0, 50000, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val rng = new scala.util.Random(id)
          (id, Array.fill(64)(rng.nextFloat() * 2 - 1))
        }
      }.toDF("vid", "vec").localCheckpoint()
    println(s"[stress] vectors: ${vecs.count()} x 64-dim")
    val q = vecs.filter(col("vid") % 100 === 0)
      .select(col("vid").as("qid"), col("vec"))
    val c = vecs.select(col("vid").as("cid"), col("vec"))
    timed("brute-force cosine top-10, 500 queries x 50k corpus")(
      graft.operators.Similarity.bruteForceTopK(q, c, 10).count())
    timed("ann-LSH top-10, 500 queries x 50k corpus")(
      graft.operators.Similarity.annTopK(q, c, 10).count())
    timed("ann-IVF top-10, 500 queries x 50k corpus")(
      graft.operators.Similarity.ivfTopK(q, c, 10, nlist = 64, nprobe = 8).count())
    // the FAISS-composition index: coarse(64) + residual PQ(8x16)
    var ivfpqCents: Seq[(Long, Seq[Double])] = null
    var ivfpqCw: Seq[Seq[Seq[Double]]] = null
    timed("ivf-pq TRAIN: kmeans(64, 4 iters) + residual PQ(8x16, 3 iters) on 50k") {
      val (cents, _) = graft.operators.Similarity.trainKmeans(
        vecs.select(col("vid").as("id"), col("vec")), nlist = 64, iters = 4)
      val res = graft.operators.Similarity.residualFrame(c, cents)
      val (cw, _) = graft.operators.Similarity.trainPqCodebook(res, m = 8, ks = 16, iters = 3)
      ivfpqCents = cents; ivfpqCw = cw
      1L
    }
    timed("ivf-pq ADC top-10, 500 queries x 50k corpus, nprobe=8")(
      graft.operators.Similarity.ivfPqTopK(q, c, 10, ivfpqCents, ivfpqCw, nprobe = 8).count())

    // --- embedding near-dup under block skew: one label holds 50% ---
    // of 100k vectors (the all-pairs-within-block scale-killer). The
    // dispatched operator must land within ~2x of the balanced shape.
    // 2000 clusters of 50 near-parallel vectors; the SAME clusters in
    // both shapes (so true near-dup pairs are identical), only the
    // block assignment differs: balanced spreads clusters over 100
    // equal blocks, skewed packs half of them into ONE 50k-vector
    // block (a coarse label holding many unrelated clusters — the
    // all-pairs scale-killer: 1.25e9 candidate dots for the same
    // ~2.4M true pairs).
    // 256-dim here (not 64): realistic embedding widths are what make
    // the all-pairs path expensive — the codegen'd dot kernel grinds
    // 1.25e9 64-dim dots in ~12 s, so the dispatch's value shows at
    // production dims.
    val nv = 100000
    val ndim = 256
    def blocked(skewed: Boolean) = spark.range(0, nv, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val cluster = (id % 2000).toInt
          val block =
            if (skewed) { if (cluster < 1000) 0L else (cluster % 99 + 1).toLong }
            else (cluster % 100).toLong
          val base = new scala.util.Random(cluster)
          val v = Array.fill(ndim)(base.nextFloat() * 2 - 1)
          val rng = new scala.util.Random(id)
          (0 until 24).foreach(_ => v(rng.nextInt(ndim)) += rng.nextFloat() * 0.2f)
          (id, v, block)
        }
      }.toDF("id", "vec", "block").localCheckpoint()
    val balanced = blocked(skewed = false)
    val skewed = blocked(skewed = true)
    println(s"[stress] near-dup vectors: ${balanced.count()} balanced / ${skewed.count()} skewed (50% hot)")
    timed("cosineNearDup balanced 100 blocks x 1k (all-pairs path)")(
      graft.operators.Similarity.cosineNearDup(balanced, 0.9).count())
    timed("cosineNearDup skewed DISPATCHED (hot block -> LSH)")(
      graft.operators.Similarity.cosineNearDup(skewed, 0.9, blockBudget = 10000).count())
    timed("cosineNearDup skewed FORCED all-pairs (the scale-killer)")(
      graft.operators.Similarity.cosineNearDup(skewed, 0.9, blockBudget = Long.MaxValue).count())
    }

    if (sections("vec10x") || sections("vec10xfixed")) {
    // Hot block at 10x the vec-section shape (500k rows in ONE
    // block): the regime where FIXED 10-bit hyperplanes re-enter
    // quadratic in-bucket growth (occupancy c/2^10 ~ 500). The
    // auto-width dispatch must widen to ~19 planes (occupancy ~1,
    // tables rescaled to hold the miss rate) and stay within ~2x of
    // the balanced all-pairs shape. 64-dim (not 256) keeps the
    // balanced reference — 100 blocks x C(10k,2) exact dots —
    // tractable; the dispatch's relative behavior is dim-independent.
    val nv = 1000000
    val ndim = 64
    def blocked10(skewed: Boolean) = spark.range(0, nv, 1, 32)
      .mapPartitions { it =>
        it.map { id =>
          val cluster = (id % 20000).toInt
          val block =
            if (skewed) { if (cluster < 10000) 0L else (cluster % 99 + 1).toLong }
            else (cluster % 100).toLong
          val base = new scala.util.Random(cluster)
          val v = Array.fill(ndim)(base.nextFloat() * 2 - 1)
          val rng = new scala.util.Random(id)
          (0 until 8).foreach(_ => v(rng.nextInt(ndim)) += rng.nextFloat() * 0.2f)
          (id, v, block)
        }
      }.toDF("id", "vec", "block").localCheckpoint()
    val balanced10 = blocked10(skewed = false)
    val skewed10 = blocked10(skewed = true)
    println(s"[stress] near-dup vectors 10x: ${balanced10.count()} balanced / ${skewed10.count()} skewed (50% in one block)")
    if (sections("vec10x")) {
    timed("cosineNearDup balanced 100 blocks x 10k (all-pairs path)")(
      graft.operators.Similarity.cosineNearDup(balanced10, 0.9).count())
    timed("cosineNearDup skewed 500k hot block (auto planes ~19)")(
      graft.operators.Similarity.cosineNearDup(skewed10, 0.9, blockBudget = 10000).count())
    }
    // what the r3 FIXED width would cost here: occupancy 500k/2^10
    // ~ 488/bucket -> ~3.7e9 raw random in-bucket candidates
    if (sections("vec10xfixed"))
    timed("cosineNearDup skewed 500k hot block (FIXED planes=10 x 30)")(
      graft.operators.Similarity.cosineNearDup(skewed10, 0.9, blockBudget = 10000,
        planes = 10, tables = 30).count())
    }

    if (sections("bpe")) {
    // BPE training cost at corpus scale: the wordcount shuffle runs
    // once, then every merge round works the word-TYPE table (~200k
    // rows here regardless of corpus size — the vocabulary bound
    // that makes 100 TB training feasible). Tokenization is the
    // map-side encoder over the full corpus.
    val zipfB = gen("zipf")
    println(s"[stress] bpe corpus: ${zipfB.count()} docs")
    var merges: Seq[graft.operators.Bpe.Merge] = Seq.empty
    timed("bpe train 16 merges (zipf, 200k word types)") {
      merges = graft.operators.Bpe.train(zipfB, "text", numMerges = 16)
      merges.take(8).map(_.merged).mkString(" ")
    }
    timed("bpe tokenize corpus (map-side encode)") {
      zipfB.select(graft.operators.Bpe.tokenCountUdf(merges)(col("text")).as("t"))
        .agg(sum(col("t"))).collect()(0).getLong(0)
    }
    // the vocabulary-scale path: rounds = merges/batch, so 256
    // merges cost ~4 counting rounds instead of 256
    timed("bpe trainBatched 256 merges (batch=64)") {
      graft.operators.Bpe.trainBatched(zipfB, "text", numMerges = 256, batch = 64).size
    }
    // boilerplate accounting at corpus scale: distinct pairs ->
    // frequency shuffle -> join back (no all-pairs stage)
    timed("boilerplate 8-gram shingles (shared > 1 doc)") {
      graft.operators.Dedup.boilerplate(
        zipfB.select(col("doc_id"),
          explode(graft.operators.Dedup.wordShingles(col("text"), 8)).as("unit")),
        "doc_id", "unit", maxDocs = 1).filter(!col("keep")).count()
    }
    }

    if (sections("kmeans")) {
    // IVF recall: trained spherical k-means centroids vs the
    // deterministic hash pivots at EQUAL (nlist, nprobe), on a corpus
    // with genuine cluster structure (the vec-section generator
    // shape). Hash pivots are corpus points, so several land in one
    // cluster while other clusters go unrepresented; training moves
    // them onto the true centers, which is what recall buys.
    val nv = 100000
    val ndim = 64
    val nc = 200
    val corpus = spark.range(0, nv, 1, 32).mapPartitions { it =>
      it.map { id =>
        val cluster = (id % nc).toInt
        val base = new scala.util.Random(cluster)
        val v = Array.fill(ndim)(base.nextFloat() * 2 - 1)
        val rng = new scala.util.Random(id)
        (0 until 8).foreach(_ => v(rng.nextInt(ndim)) += rng.nextFloat() * 0.2f)
        (id, v)
      }
    }.toDF("id", "vec").localCheckpoint()
    val queries = corpus.filter(col("id") % 1000 === 0)
      .select(col("id").as("qid"), col("vec"))
    val cands = corpus.select(col("id").as("cid"), col("vec"))
    val truth = graft.operators.Similarity.bruteForceTopK(queries, cands, 10)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): String = {
      val got = df.select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      f"recall@10 = ${got.intersect(truth).size.toDouble / truth.size}%.3f"
    }
    val nlist = 64
    val nprobe = 1
    timed(s"ivfTopK hash pivots (nlist=$nlist nprobe=$nprobe)")(
      recall(graft.operators.Similarity.ivfTopK(queries, cands, 10, nlist, nprobe)))
    var trained: Seq[(Long, Seq[Double])] = Seq.empty
    timed(s"trainKmeans nlist=$nlist x 10 iters") {
      val (c, hist) = graft.operators.Similarity.trainKmeans(corpus, nlist, 10)
      trained = c
      "J: " + hist.map(x => f"$x%.1f").mkString(" -> ")
    }
    timed("ivfTopK trained centroids (same nprobe)")(
      recall(graft.operators.Similarity.ivfTopKWith(queries, cands, 10, trained, nprobe)))

    // PQ: the same trained-vs-hash discipline at equal (m, ks). The
    // hash codebook is ks corpus rows; per-subspace Lloyd moves the
    // codewords onto the cluster projections — the history's first
    // entry IS the hash codebook's reconstruction error, so the
    // improvement factor is read straight off the J trace.
    val pqm = 8; val pqks = 256
    timed(s"pqTopK hash codebook (m=$pqm ks=$pqks)")(
      recall(graft.operators.Similarity.pqTopK(queries, cands, 10, pqm, pqks)))
    var cwT: Seq[Seq[Seq[Double]]] = Seq.empty
    timed(s"trainPqCodebook m=$pqm ks=$pqks x 5 iters") {
      val (c, hist) = graft.operators.Similarity.trainPqCodebook(cands, pqm, pqks, 5)
      cwT = c
      "J: " + hist.map(x => f"$x%.1f").mkString(" -> ")
    }
    timed("pqTopK trained codebook (same m, ks)")(
      recall(graft.operators.Similarity.pqTopKWith(queries, cands, 10, cwT)))
    }

    if (sections("opq")) {
    // OPQ rotation vs plain trained PQ at production width (the
    // OpqSpec fixture at 25x vectors, 4x dims): latent clusters with
    // a decaying spectrum, mixed by 45-degree Givens pairs (i, i+32)
    // so every correlated pair straddles a contiguous-subspace
    // boundary — the distortion OPQ exists to remove. Truth is the
    // exact full-dim L2 top-10 (what ADC approximates).
    val nv = 50000; val ndim = 64; val nc = 500
    val pqm = 8; val pqks = 16
    val corpus = spark.range(0, nv, 1, 32).mapPartitions { it =>
      val half = ndim / 2
      val c = math.sqrt(0.5)
      it.map { id =>
        val cr = new scala.util.Random((id % nc) * 1664525L + 1013904223L)
        val zc = Array.tabulate(ndim)(i => cr.nextGaussian() * math.pow(2.0, -i / 32.0))
        val nr = new scala.util.Random(id * 2654435761L)
        val z = Array.tabulate(ndim)(i =>
          zc(i) + nr.nextGaussian() * 0.1 * math.pow(2.0, -i / 32.0))
        val x = Array.tabulate(ndim) { r =>
          val p = if (r < half) z(r) - z(r + half) else z(r - half) + z(r)
          (p * c).toFloat
        }
        (id, x)
      }
    }.toDF("cid", "vec").localCheckpoint()
    println(s"[stress] opq corpus: ${corpus.count()} x $ndim-dim, $nc latent clusters")
    val queries = corpus.filter(col("cid") % 500 === 0)
      .select(col("cid").as("qid"), col("vec"))
    val exact = queries.crossJoin(corpus.select(col("cid"), col("vec").as("cvec")))
      .filter(col("qid") =!= col("cid"))
      .withColumn("d2", org.apache.spark.sql.graftext.ArrayOps.vecL2Sq(col("vec"), col("cvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
    val truth = exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallL2(df: org.apache.spark.sql.DataFrame): String = {
      val got = df.select(col("qid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      f"recall@10 = ${got.intersect(truth).size.toDouble / truth.size}%.3f"
    }
    var cwP: Seq[Seq[Seq[Double]]] = Seq.empty
    timed(s"plain trainPqCodebook m=$pqm ks=$pqks x 5 iters") {
      val (c, hist) = graft.operators.Similarity.trainPqCodebook(corpus, pqm, pqks, 5)
      cwP = c
      "J: " + hist.map(x => f"$x%.1f").mkString(" -> ")
    }
    timed("plain trained pqTopK")(
      recallL2(graft.operators.Similarity.pqTopKWith(queries, corpus, 10, cwP)))
    var rot: Array[Double] = null
    timed(s"trainRotation (moments + Jacobi + allocation), D=$ndim") {
      rot = graft.operators.Opq.trainRotation(corpus, pqm)
      s"rotation ${ndim}x$ndim trained"
    }
    val rc = corpus.select(col("cid"),
      graft.operators.Opq.rotated(col("vec"), rot, ndim).as("vec")).localCheckpoint()
    val rq = queries.select(col("qid"),
      graft.operators.Opq.rotated(col("vec"), rot, ndim).as("vec"))
    var cwR: Seq[Seq[Seq[Double]]] = Seq.empty
    timed(s"rotated trainPqCodebook m=$pqm ks=$pqks x 5 iters") {
      val (c, hist) = graft.operators.Similarity.trainPqCodebook(rc, pqm, pqks, 5)
      cwR = c
      "J: " + hist.map(x => f"$x%.1f").mkString(" -> ")
    }
    timed("rotated trained pqTopK (OPQ parametric)")(
      recallL2(graft.operators.Similarity.pqTopKWith(rq, rc, 10, cwR)))
    var rotIt: Array[Double] = null
    var cwIt: Seq[Seq[Seq[Double]]] = Seq.empty
    timed(s"trainRotationIterative 3 rounds (encode+Procrustes+Lloyd each)") {
      val (r2, c2, hist) = graft.operators.Opq.trainRotationIterative(
        corpus.select(col("cid"), col("vec")), pqm, pqks, opqIters = 3, lloydIters = 2)
      rotIt = r2; cwIt = c2
      "J: " + hist.map(x => f"$x%.1f").mkString(" -> ")
    }
    timed("iterative-OPQ pqTopK") {
      val ric = corpus.select(col("cid"),
        graft.operators.Opq.rotated(col("vec"), rotIt, ndim).as("vec")).localCheckpoint()
      val riq = queries.select(col("qid"),
        graft.operators.Opq.rotated(col("vec"), rotIt, ndim).as("vec"))
      recallL2(graft.operators.Similarity.pqTopKWith(riq, ric, 10, cwIt))
    }
    }

    if (sections("temporal")) {
    // Temporal joins + packing at 1x and 10x: both must grow
    // ~linearly. The as-of is sort-merge-shaped (one shuffle + sort,
    // output = left row count exactly); the range join's pair space
    // is bounded by temporal density — users scale with n, so
    // per-user event density (and thus matches per interval) is
    // constant across the two sizes.
    val dayUs = 86400L * 1000000
    val hourUs = 3600L * 1000000
    def evSide(n: Long, seed: Int, tsCol: String) =
      spark.range(0, n, 1, 32).select(
        (col("id") % lit(math.max(1L, n / 100))).as("u"),
        pmod(xxhash64(col("id") + seed), lit(dayUs)).as(tsCol),
        col("id").cast("double").as(s"pay$seed"))
    def asofRun(n: Long): Long =
      graft.operators.TemporalJoin.asOfJoin(
        evSide(n, 1, "lts").withColumnRenamed("pay1", "lpay"),
        evSide(n, 2, "rts"), "u", "lts", "rts").count()
    def rangeRun(n: Long): Long = {
      val iv = spark.range(0, n / 10, 1, 32).select(
          (col("id") % lit(math.max(1L, n / 100))).as("u"),
          pmod(xxhash64(col("id") + 3), lit(dayUs)).as("pts"),
          col("id").as("pid"))
        .withColumn("ws", col("pts") - hourUs).withColumn("we", col("pts"))
      graft.operators.TemporalJoin.rangeJoin(
        evSide(n, 4, "ts"), iv, "u", "ts", "ws", "we", hourUs).count()
    }
    def packRun(n: Long, streams: Long): Long = {
      val d = spark.range(0, n, 1, 32).select(
        col("id"), (col("id") % streams).as("stream"),
        (pmod(xxhash64(col("id")), lit(400L)) + 1).as("toks"))
      graft.operators.Sampling.packChunks(d, "id", "toks", "stream", 2048).count()
    }
    Seq(1000000L, 10000000L).foreach { n =>
      timed(s"asOfJoin $n x $n")(asofRun(n))
      timed(s"rangeJoin $n points x ${n / 10} intervals")(rangeRun(n))
      timed(s"packChunks $n docs / 32 streams")(packRun(n, 32))
      // the r4 scale-killer shape: ONE logical stream. The two-phase
      // prefix sum keeps the row-touching stages sharded (64 bands),
      // so this must stay ~linear in n instead of serializing 100% of
      // rows through a single reducer's sort.
      timed(s"packChunks $n docs / 1 stream")(packRun(n, 1))
    }
    }

    if (sections("fuzzy")) {
    // Symmetric-delete fuzzy matching on the entity-id shape
    // (zero-padded numeric tails, the q106 workload): variants/value
    // = len+1 and distance-1 neighbors per value ~ 9·digits, so BOTH
    // candidate volume and output grow linearly in n — 10x input must
    // cost ~10x, never the quadratic the naive oracle shape pays.
    def fuzzyRun(n: Long): Long = {
      val names = spark.range(0, n, 1, 32)
        .select(concat(lit("ID"), lpad(col("id").cast("string"), 9, "0")).as("s"))
      graft.operators.Dedup.fuzzyPairs1(names, "s").count()
    }
    Seq(100000L, 1000000L).foreach { n =>
      timed(s"fuzzyPairs1 $n entity ids")(fuzzyRun(n))
    }
    // k=2 freight, TWO shapes because the answer differs honestly:
    //
    // (a) SPARSE keys (base-36 hashed tails — the entity-id/record-
    //     linkage workload k=2 exists for): delete-<=2 buckets stay
    //     near-singleton, candidates and output stay n-linear, and
    //     100k→1M must cost ~10x like the k=1 rows above.
    def fuzzy2Sparse(n: Long): Long = {
      val names = spark.range(0, n, 1, 32)
        .select(concat(lit("u-"),
          lpad(conv(crc32(col("id").cast("string")), 10, 36), 7, "0")).as("s"))
      graft.operators.Dedup.fuzzyPairs2(names, "s").count()
    }
    Seq(100000L, 1000000L).foreach { n =>
      timed(s"fuzzyPairs2 sparse $n ids")(fuzzy2Sparse(n))
    }
    // (b) DENSE zero-padded numerics — the ADVERSARIAL shape: a
    //     delete-2 variant that removes both varying digit positions
    //     collapses ~100 consecutive ids into ONE bucket, so the
    //     candidate join is bucket-quadratic AND key-skewed (one hot
    //     variant = one giant task; measured: load_avg ~1.6 on 32
    //     cores — the join is skew-bound, not CPU-bound) and the TRUE
    //     output is ~470 pairs/id (~50x k=1). 20k rows document the
    //     cost curve; the fuzzyPairs2 docstring points dense numeric
    //     spaces at k=1 or a discriminating prefix instead.
    def fuzzy2Dense(n: Long): Long = {
      val names = spark.range(0, n, 1, 32)
        .select(concat(lit("ID"), lpad(col("id").cast("string"), 9, "0")).as("s"))
      graft.operators.Dedup.fuzzyPairs2(names, "s").count()
    }
    Seq(10000L, 20000L).foreach { n =>
      timed(s"fuzzyPairs2 dense $n ids")(fuzzy2Dense(n))
    }
    }

    if (sections("index")) {
    // Inverted-index + exact-quantile + profiler shapes at nDocs
    // (run the tool at N and 10N to hold them to corpus-linear):
    // all three are bounded by distinct (doc, token) / distinct
    // values / columns-x-rows — never a global row sort.
    val zipf = gen("zipf")
    println(s"[stress] zipf corpus: ${zipf.count()} docs")
    timed(s"invertedIndex $nDocs docs / 8 shards")(
      graft.operators.TextAnalysis.invertedIndex(zipf, "doc_id", "text", 8).count())
    timed(s"exactQuantiles(10) over $nDocs token counts")(
      graft.operators.Profile.exactQuantiles(
        zipf.select(size(split(col("text"), " ")).cast("long").as("v")), "v", 10).count())
    timed(s"profile $nDocs docs x 2 cols")(
      graft.operators.Profile.profile(zipf).count())
    }

    if (sections("diff")) {
    // Snapshot.diff at 1M and 10M rows: the claim is a
    // metadata-sized shuffle (both sides hash map-side, the
    // full-outer join carries 16 bytes/row) -> 10x rows ~ 10x cost,
    // bounded by the scan+hash, not payload freight.
    def corpusV(n: Long, rev: Boolean) = spark.range(0, n, 1, 32)
      .filter(if (rev) col("id") % 97 =!= 0 else lit(true))
      .select(col("id"),
        concat(lit("payload body text for doc "), col("id"),
          when(lit(rev) && col("id") % 31 === 0, lit(" [rev2]")).otherwise(lit(""))).as("text"))
    Seq(1000000L, 10000000L).foreach { n =>
      val v1 = corpusV(n, rev = false).localCheckpoint()
      val v2 = corpusV(n, rev = true).localCheckpoint()
      timed(s"Snapshot.diff $n rows (drop every 97th, revise every 31st)") {
        val d = graft.operators.Snapshot.diff(v1, v2, "id", Seq("text"))
          .groupBy(col("status")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        s"changed=${d.getOrElse("changed", 0L)} removed=${d.getOrElse("removed", 0L)} unchanged=${d.getOrElse("unchanged", 0L)}"
      }
    }
    }

    if (sections("lev")) {
    // the LevenshteinThresholdRule's value claim, measured: the same
    // bound <= 2 predicate over long strings, unbounded full-matrix
    // DP vs the banded early-exit threshold form the rule rewrites to
    val strs = spark.range(0, 20000, 1, 32).select(
      expr("repeat(md5(cast(id as string)), 60)").as("a"),
      expr("repeat(md5(cast(id + 1 as string)), 60)").as("b"))
      .localCheckpoint()
    timed("levenshtein NAIVE <= 2, 20k pairs of 1920-char strings")(
      strs.filter(expr("levenshtein(a, b) <= 2")).count())
    timed("levenshtein THRESHOLD form, same predicate & data")(
      strs.filter(expr("levenshtein(a, b, 2) >= 0")).count())
    }

    if (sections("layout")) {
    // q112's claim, measured end-to-end: writing ORDER BY zorder_key
    // co-locates rows close in BOTH dimensions, so parquet row-group
    // min/max stats prune a 2D box predicate on EITHER column. Three
    // layouts of the SAME 10M rows (x, y uniform 16-bit), same box
    // filter; the x-sorted layout prunes x but reads everything for
    // y, the unsorted layout reads everything for both.
    val n = 10000000L
    val rows = spark.range(0, n, 1, 32).select(
      col("id"),
      pmod(conv(substring(md5(concat(lit("zx:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(65536L)).as("x"),
      pmod(conv(substring(md5(concat(lit("zy:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(65536L)).as("y"))
    val base = "/tmp/graft_layout"
    // 1 MiB row groups -> ~200 groups: pruning has resolution to show
    rows.withColumn("zkey", org.apache.spark.sql.graftext.Bits.zorder(col("x"), col("y")))
      .repartition(1).sortWithinPartitions(col("zkey")).drop("zkey")
      .write.mode("overwrite").option("parquet.block.size", 1048576)
      .parquet(s"$base/zorder")
    // q144's sibling layout, same harness: the Hilbert curve's
    // no-seam walk should tighten the min/max boxes vs Morton
    rows.withColumn("hkey", org.apache.spark.sql.graftext.Bits.hilbert(col("x"), col("y")))
      .repartition(1).sortWithinPartitions(col("hkey")).drop("hkey")
      .write.mode("overwrite").option("parquet.block.size", 1048576)
      .parquet(s"$base/hilbert")
    rows.repartition(1).sortWithinPartitions(col("x"))
      .write.mode("overwrite").option("parquet.block.size", 1048576)
      .parquet(s"$base/xsort")
    rows.repartition(1)
      .write.mode("overwrite").option("parquet.block.size", 1048576)
      .parquet(s"$base/unsorted")
    val filters = Seq(
      "x in [1000,1512)" -> (col("x") >= 1000 && col("x") < 1512),
      "y in [2000,2512)" -> (col("y") >= 2000 && col("y") < 2512),
      "x AND y box" -> (col("x") >= 1000 && col("x") < 1512 &&
        col("y") >= 2000 && col("y") < 2512))
    // correctness: all three layouts agree on every filter
    filters.foreach { case (label, pred) =>
      val counts = Seq("zorder", "hilbert", "xsort", "unsorted")
        .map(l => spark.read.parquet(s"$base/$l").filter(pred).count())
      assert(counts.distinct.size == 1, s"$label: $counts")
    }
    // the honest pruning metric at this (page-cached, decode-bound)
    // size is STATIC: which row groups survive min/max skipping —
    // read straight off the parquet footers, the same stats any
    // engine's row-group skip consults
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    def prune(l: String, xr: Option[(Long, Long)], yr: Option[(Long, Long)]): String = {
      val dirPath = new org.apache.hadoop.fs.Path(s"$base/$l")
      val fs = dirPath.getFileSystem(hconf)
      var tot = 0; var kept = 0; var totRows = 0L; var keptRows = 0L
      fs.listStatus(dirPath).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hconf))
        try {
          rd.getFooter.getBlocks.asScala.foreach { b =>
            tot += 1; totRows += b.getRowCount
            val stats = b.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            def survives(colName: String, r: Option[(Long, Long)]): Boolean =
              r.forall { case (lo, hi) =>
                val st = stats(colName)
                  .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
                st.getMax >= lo && st.getMin < hi
              }
            if (survives("x", xr) && survives("y", yr)) {
              kept += 1; keptRows += b.getRowCount
            }
          }
        } finally rd.close()
      }
      f"$kept/$tot row groups, ${100.0 * keptRows / totRows}%.1f%% of rows survive skipping"
    }
    val ranges = Seq(
      ("x in [1000,1512)", Some((1000L, 1512L)), None),
      ("y in [2000,2512)", None, Some((2000L, 2512L))),
      ("x AND y box", Some((1000L, 1512L)), Some((2000L, 2512L))))
    Seq("zorder", "hilbert", "xsort", "unsorted").foreach { l =>
      ranges.foreach { case (label, xr, yr) =>
        println(s"[stress] $l layout, $label: ${prune(l, xr, yr)}")
      }
    }

    // (A parquet bloom-filter leg was tried and REMOVED: at this
    // page-cached size a single-long-column scan floors at ~0.2 s
    // with or without blooms, so the measurement has no resolution —
    // recording it would imply a conclusion the harness can't
    // support. Min/max + layout keys above are where this rig can
    // actually measure.)
    }

    if (sections("layout3")) {
    // q159's claim, measured the same way: a real table clusters on
    // 3 dims (source x day x lang). Same 10M rows with a third
    // uniform 16-bit dim; layouts = 3-dim Morton, 3-dim Hilbert, the
    // 2-dim Morton over (x, y) (what a 2-dim-only engine would
    // write), x-sort, unsorted. The workload is the 3-predicate
    // family: each single-dim slice, each 2-dim box, the 3-dim box.
    val n = 10000000L
    val rows = spark.range(0, n, 1, 32).select(
      col("id"),
      pmod(conv(substring(md5(concat(lit("zx:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(65536L)).as("x"),
      pmod(conv(substring(md5(concat(lit("zy:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(65536L)).as("y"),
      pmod(conv(substring(md5(concat(lit("zz:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(65536L)).as("z"))
    val base = "/tmp/graft_layout3"
    def write(name: String, key: Option[org.apache.spark.sql.Column]): Unit = {
      val sorted = key match {
        case Some(k) => rows.withColumn("k", k)
          .repartition(1).sortWithinPartitions(col("k")).drop("k")
        case None => rows.repartition(1)
      }
      sorted.write.mode("overwrite").option("parquet.block.size", 1048576)
        .parquet(s"$base/$name")
    }
    write("zorder3", Some(org.apache.spark.sql.graftext.Bits.zorder3(col("x"), col("y"), col("z"))))
    write("hilbert3", Some(org.apache.spark.sql.graftext.Bits.hilbert3(col("x"), col("y"), col("z"))))
    write("zorder2", Some(org.apache.spark.sql.graftext.Bits.zorder(col("x"), col("y"))))
    write("xsort", Some(col("x")))
    write("unsorted", None)
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    def prune(l: String, rs: Seq[(String, Option[(Long, Long)])]): String = {
      val dirPath = new org.apache.hadoop.fs.Path(s"$base/$l")
      val fs = dirPath.getFileSystem(hconf)
      var tot = 0; var kept = 0; var totRows = 0L; var keptRows = 0L
      fs.listStatus(dirPath).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hconf))
        try {
          rd.getFooter.getBlocks.asScala.foreach { b =>
            tot += 1; totRows += b.getRowCount
            val stats = b.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            val ok = rs.forall { case (cn, r) =>
              r.forall { case (lo, hi) =>
                val st = stats(cn)
                  .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
                st.getMax >= lo && st.getMin < hi
              }
            }
            if (ok) { kept += 1; keptRows += b.getRowCount }
          }
        } finally rd.close()
      }
      f"$kept/$tot row groups, ${100.0 * keptRows / totRows}%.1f%% of rows survive skipping"
    }
    val xr = Some((1000L, 1512L)); val yr = Some((2000L, 2512L))
    val zr = Some((3000L, 3512L)); val non: Option[(Long, Long)] = None
    val workload = Seq(
      ("x slice", Seq("x" -> xr, "y" -> non, "z" -> non)),
      ("y slice", Seq("x" -> non, "y" -> yr, "z" -> non)),
      ("z slice", Seq("x" -> non, "y" -> non, "z" -> zr)),
      ("x AND y box", Seq("x" -> xr, "y" -> yr, "z" -> non)),
      ("x AND z box", Seq("x" -> xr, "y" -> non, "z" -> zr)),
      ("y AND z box", Seq("x" -> non, "y" -> yr, "z" -> zr)),
      ("x AND y AND z box", Seq("x" -> xr, "y" -> yr, "z" -> zr)))
    // correctness: every layout agrees on the 3-dim box count
    val boxPred = col("x") >= 1000 && col("x") < 1512 &&
      col("y") >= 2000 && col("y") < 2512 && col("z") >= 3000 && col("z") < 3512
    val counts = Seq("zorder3", "hilbert3", "zorder2", "xsort", "unsorted")
      .map(l => spark.read.parquet(s"$base/$l").filter(boxPred).count())
    assert(counts.distinct.size == 1, s"3-dim box: $counts")
    Seq("zorder3", "hilbert3", "zorder2", "xsort", "unsorted").foreach { l =>
      workload.foreach { case (label, rs) =>
        println(s"[stress] $l layout, $label: ${prune(l, rs)}")
      }
    }
    }

    if (sections("snapshots")) {
    // q164/q167's scale claim, measured: merge cost tracks TOUCHED
    // BUCKETS (the data actually rewritten), never table size. One
    // 10M-row / 256-bucket snapshot table; merges touch 1, 8, 64,
    // then all 256 buckets (100 modified keys per touched bucket —
    // update SIZE stays tiny, the rewrite is the bucket). The
    // publish line is the full-rewrite baseline every merge avoids.
    // diff is measured across the cheapest and the costliest merge.
    import graft.operators.Snapshots
    val n = 10000000L
    val nBuckets = 256L
    val per = n / nBuckets
    val rows = spark.range(0, n, 1, 32).select(
        col("id").as("key"),
        pmod(conv(substring(md5(concat(lit("p:"), col("id"))), 1, 15), 16, 10)
          .cast("long"), lit(1000000L)).as("payload"))
      .withColumn("bucket", expr(s"key div $per"))
    val dir = "/tmp/graft_scale_snap"
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)
    timed(s"snapshots publish $n rows / $nBuckets buckets (full-rewrite baseline)")(
      Snapshots.publish(rows, dir, "bucket", Seq("key")))
    Seq(1L, 8L, 64L, 256L).foreach { touched =>
      val upd = rows.filter(col("bucket") < touched &&
          col("key") % per < 100)
        .withColumn("payload", lit(-touched))
      timed(s"merge touching $touched/$nBuckets buckets (${touched * 100} keys)")(
        Snapshots.merge(upd, dir, "bucket", Seq("key"), Seq("key")))
    }
    timed("diff across the 1-bucket merge")(
      Snapshots.diff(spark, dir, 1L, 2L).count())
    timed("diff across the 256-bucket merge")(
      Snapshots.diff(spark, dir, 4L, 5L).count())
    timed("vacuum to the live version")(
      // retainMs=0: this stress IS the exclusive writer, and the point
      // is to time the sweep (default retention would protect every
      // just-written orphan and time nothing)
      Snapshots.vacuum(spark, dir, 5L, retainMs = 0L))
    }

    if (sections("dv")) {
    // r11's merge-on-read claim, measured: a scattered GDPR erasure
    // under DELETION VECTORS writes ZERO data files where the
    // copy-on-write delete rewrites EVERY touched bucket — here a
    // 2,560-key delete scattered 10-per-bucket across all 256 buckets
    // of a 10M-row table (the erasure's own headline shape). The DV
    // path pays one read of the candidate buckets (positions located)
    // and a manifest write; copy-on-write pays a full-table rewrite.
    // compact then materializes the vectors once, on maintenance's
    // schedule instead of the delete's latency path.
    import graft.operators.Snapshots
    val n = 10000000L
    val nBuckets = 256L
    val per = n / nBuckets
    val rows = spark.range(0, n, 1, 32).select(
        col("id").as("key"),
        pmod(conv(substring(md5(concat(lit("p:"), col("id"))), 1, 15), 16, 10)
          .cast("long"), lit(1000000L)).as("payload"))
      .withColumn("bucket", expr(s"key div $per"))
    val doomed = rows.filter(col("key") % per < 10).select("key", "bucket")
    def mk(suffix: String): String = {
      val d = s"/tmp/graft_scale_dv_$suffix"
      Snapshots.dropPath(spark, d)
      Snapshots.publish(rows, d, "bucket", Seq("key"))
      d
    }
    val cow = mk("cow")
    timed(s"copy-on-write delete of 2560 scattered keys (rewrites " +
      s"$nBuckets/$nBuckets buckets)") {
      val v = Snapshots.delete(doomed, cow, "bucket", Seq("key"), Seq("key"))
      s"v$v, ${Snapshots.files(spark, cow, v).size} files live (all rewritten)"
    }
    val dvd = mk("dv")
    timed("deleteVectored of the same 2560 keys (ZERO data files written)") {
      val v1 = Snapshots.latest(spark, dvd).get
      val v = Snapshots.deleteVectored(doomed, dvd, "bucket", Seq("key"))
      val same = Snapshots.files(spark, dvd, v) == Snapshots.files(spark, dvd, v1)
      s"v$v, files identical=$same, " +
        s"${Snapshots.deletionVectorsAt(spark, dvd, v).size} vectors"
    }
    timed("head count under vectors (the broadcast anti-join read)")(
      Snapshots.read(spark, dvd).count())
    timed("head count after copy-on-write (the plain read)")(
      Snapshots.read(spark, cow).count())
    timed("compact materializes all 256 vectors (maintenance-time cost)") {
      val v = Snapshots.compact(spark, dvd, "bucket", Seq("key"))
      s"v$v, ${Snapshots.deletionVectorsAt(spark, dvd, v).size} vectors left"
    }
    }

    if (sections("relation")) {
    // r11's stats-relation claim, measured: query PLANNING over the
    // manifest FileIndex stays flat as files grow (statuses fabricate
    // from #fsize lines — zero filesystem calls), while the stock
    // spark.read.parquet path builds an InMemoryFileIndex that stats
    // every file at relation-creation time. Same 1M rows as 128 vs
    // ~896 files; both paths planned to the executed physical plan.
    import graft.operators.Snapshots
    val nRows = 1000000L
    val nBuckets = 128L
    val per = nRows / nBuckets
    def mk(dirSuffix: String, appends: Int): String = {
      val dir = s"/tmp/graft_scale_relation_$dirSuffix"
      Snapshots.dropPath(spark, dir)
      val rows = spark.range(0, nRows, 1, 32).select(
          col("id").as("key"), (col("id") * 31L).as("payload"))
        .withColumn("bucket", expr(s"key div $per"))
      Snapshots.publish(rows, dir, "bucket", Seq("key"))
      (1 to appends).foreach(_ =>
        Snapshots.append(rows, dir, "bucket", Seq("key")))
      dir
    }
    // the ×10 HEADROOM case (r11 verdict #8): ~9000 files from ONE
    // publish (9000 buckets, one file each) — the file-count regime
    // where per-file filesystem calls at planning become the
    // bottleneck; the manifest path must stay flat
    def mk10x(): String = {
      val dir = "/tmp/graft_scale_relation_10x"
      Snapshots.dropPath(spark, dir)
      val rows = spark.range(0, nRows, 1, 32).select(
          col("id").as("key"), (col("id") * 31L).as("payload"))
        .withColumn("bucket", expr("key div 110"))
      Snapshots.publish(rows, dir, "bucket", Seq("key"))
      dir
    }
    for ((lbl, mkDir) <- Seq(
        ("128files", () => mk("128files", 0)),
        ("896files", () => mk("896files", 6)),
        ("10x", () => mk10x()))) {
      val dir = mkDir()
      val v = Snapshots.latest(spark, dir).get
      val abs = Snapshots.files(spark, dir, v).map(r => s"$dir/$r")
      val sch = Snapshots.read(spark, dir).schema
      timed(s"relation $lbl(${abs.size}): plan via manifest FileIndex")(
        Snapshots.read(spark, dir).queryExecution.executedPlan.getClass
          .getSimpleName)
      timed(s"relation $lbl(${abs.size}): plan via spark.read.parquet " +
        "(InMemoryFileIndex stats every file)")(
        spark.read.schema(sch).parquet(abs: _*)
          .queryExecution.executedPlan.getClass.getSimpleName)
      timed(s"relation $lbl(${abs.size}): manifest-planned count")(
        Snapshots.read(spark, dir).count())
    }
    }

    if (sections("statsplan")) {
    // r9's stats-in-manifest claim, measured: scan PLANNING reads the
    // manifest only, so planning time stays flat as the file count
    // grows — while the footer-walk (the r8 planner, kept as the
    // verification path) grows linearly in files opened. Tables of
    // 128 and ~896 files (same 1M rows), both planned both ways.
    import graft.operators.{Layout, Snapshots}
    val nRows = 1000000L
    val nBuckets = 128L
    val per = nRows / nBuckets
    def mk(dirSuffix: String, appends: Int): String = {
      val dir = s"/tmp/graft_scale_statsplan_$dirSuffix"
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir), true)
      val rows = spark.range(0, nRows, 1, 32).select(
          col("id").as("key"), (col("id") * 31L).as("payload"))
        .withColumn("bucket", expr(s"key div $per"))
      Snapshots.publish(rows, dir, "bucket", Seq("key"))
      // each append adds one file per bucket (same rows re-appended:
      // file COUNT is the variable under test, not content)
      (1 to appends).foreach(_ =>
        Snapshots.append(rows, dir, "bucket", Seq("key")))
      dir
    }
    for ((lbl, appends) <- Seq(("128files", 0), ("896files", 6))) {
      val dir = mk(lbl, appends)
      val v = Snapshots.latest(spark, dir).get
      val nf = Snapshots.files(spark, dir, v).size
      timed(s"statsplan $lbl($nf): versionStats from MANIFEST")(
        Snapshots.versionStats(spark, dir, v, "key").size)
      timed(s"statsplan $lbl($nf): footer WALK (verification path)")(
        Layout.rowGroupStatsFiles(spark,
          Snapshots.files(spark, dir, v).map(r => s"$dir/$r"), "key").size)
      timed(s"statsplan $lbl($nf): prunedScanAtBy one-bucket range (manifest-planned)")(
        Snapshots.prunedScanAtBy(spark, dir, v, "key", 0L, per).count())
    }
    }

    if (sections("zlayout")) {
    // r10's z-order-table claim, measured: a 2-predicate box query on
    // a Z-ORDER layout reads ~the box's cell fraction of files, where
    // a LINEAR layout prunes only its leading column — same 1M rows,
    // same declared stats, same residuals, only the layout differs.
    // Planning is manifest-only for both (boxFiles cost printed too).
    import graft.operators.{Snapshots, ZOrderTable}
    val nRows = 1000000L
    val rows = spark.range(0, nRows, 1, 32).select(
      col("id"),
      (col("id") * 7919 % 65536).as("x"),
      (col("id") * 104729 % 65536).as("y"),
      (col("id") * 31L).as("payload"))
    val zDir = "/tmp/graft_scale_zlayout_z"
    val linDir = "/tmp/graft_scale_zlayout_lin"
    Seq(zDir, linDir).foreach(Snapshots.dropPath(spark, _))
    // 256 cells (shift 24) vs 256 linear x-ranges — equal file counts
    ZOrderTable.publish(rows, zDir, Seq("x", "y"), shift = 24)
    Snapshots.publish(rows.withColumn("bucket", expr("x div 256")),
      linDir, "bucket", Seq("x"), statsCols = Seq("x", "y"))
    val zv = Snapshots.latest(spark, zDir).get
    val lv = Snapshots.latest(spark, linDir).get
    // an aligned 1/8 x 1/8 box: 4096-wide windows on the 16-bit grid
    val box = Seq(("x", 8192L, 12288L), ("y", 8192L, 12288L))
    val boxAny = box.map { case (c, a, b) => (c, a: Any, b: Any) }
    val zFiles = Snapshots.prunedFilesBox(spark, zDir, zv, boxAny).size
    val lFiles = Snapshots.prunedFilesBox(spark, linDir, lv, boxAny).size
    val zTotal = Snapshots.files(spark, zDir, zv).size
    val lTotal = Snapshots.files(spark, linDir, lv).size
    // warm the read paths (codegen, parquet reader) so the timed
    // scans measure I/O shape, not JIT startup
    Snapshots.readAt(spark, zDir, zv).count()
    Snapshots.readAt(spark, linDir, lv).count()
    timed(s"zlayout: plan box on z ($zFiles of $zTotal files)")(
      Snapshots.prunedFilesBox(spark, zDir, zv, boxAny).size)
    timed(s"zlayout: plan box on linear ($lFiles of $lTotal files)")(
      Snapshots.prunedFilesBox(spark, linDir, lv, boxAny).size)
    timed("zlayout: box scan, Z layout (both dims prune)")(
      Snapshots.prunedScanAtBox(spark, zDir, zv, boxAny).count())
    timed("zlayout: box scan, LINEAR layout (leading dim only)")(
      Snapshots.prunedScanAtBox(spark, linDir, lv, boxAny).count())
    timed("zlayout: box scan, full-scan baseline (no pruning)")(
      Snapshots.readAt(spark, linDir, lv)
        .filter(col("x") >= 8192 && col("x") < 12288 &&
          col("y") >= 8192 && col("y") < 12288).count())
    // the non-leading-dimension window — the case a linear sort
    // CANNOT prune at all (every x-range file spans all of y)
    val yWin = Seq(("y", 8192L, 12288L)).map { case (c, a, b) =>
      (c, a: Any, b: Any) }
    val zY = Snapshots.prunedFilesBox(spark, zDir, zv, yWin).size
    val lY = Snapshots.prunedFilesBox(spark, linDir, lv, yWin).size
    timed(s"zlayout: y-window scan, Z layout ($zY of $zTotal files)")(
      Snapshots.prunedScanAtBox(spark, zDir, zv, yWin).count())
    timed(s"zlayout: y-window scan, LINEAR layout ($lY of $lTotal files)")(
      Snapshots.prunedScanAtBox(spark, linDir, lv, yWin).count())
    }

    if (sections("zcuts")) {
    // r11's weak, measured fixed: exact quantile-cut derivation over a
    // CONTINUOUS double dimension — distinct ≈ rows, so the value
    // histogram is row-count-sized and the old global Window.orderBy
    // would sort all of it on ONE reducer. The banded prefix sum
    // spreads it over ~max(64, shuffle.partitions) bands; the plan is
    // checked to carry NO unpartitioned window.
    import graft.operators.ZOrderTable
    val n = 10000000L
    val cont = spark.range(0, n, 1, 32).select(
      col("id"),
      (sin(col("id").cast("double")) * 1e6 +
        col("id").cast("double") / 7.0).as("price"))
    val (frame, kind, hist) = ZOrderTable.cutsFrame(cont, "price", 256)
    val windows = frame.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    println(s"[stress] zcuts: windows=${windows.size}, unpartitioned=" +
      s"${windows.count(_.partitionSpec.isEmpty)} (must be 0)")
    try timed(s"zcuts: exact 256-quantile cuts over $n CONTINUOUS " +
      s"doubles (kind=$kind, banded prefix sum)")(
      frame.orderBy(col("d")).select("cut").collect().length)
    finally hist.unpersist()
    }

    if (sections("dvdist")) {
    // a table carrying DEEP merge-on-read debt (2.5M dead positions
    // over 32 sidecars) reads with each scan task testing its own
    // file's vector — no (file, position) pairs on the driver.
    import graft.operators.Snapshots
    val n = 10000000L
    val dir = "/tmp/graft_scale_dvdist"
    Snapshots.dropPath(spark, dir)
    val rows = spark.range(0, n, 1, 32).select(col("id").as("k"),
      (col("id") * 31).as("payload"), expr("id div 312500").as("bucket"))
    Snapshots.publish(rows, dir, "bucket", Seq("k"))
    timed("dvdist: vectored erasure of 2.5M scattered keys (zero files)")(
      Snapshots.deleteVectored(
        rows.filter(col("k") % 4 === 1).select("k", "bucket"),
        dir, "bucket", Seq("k")))
    timed("dvdist: read of the erased table")(
      Snapshots.read(spark, dir).count())
    timed("dvdist: filtered fold over the erased table")(
      Snapshots.read(spark, dir).filter(col("k") % 1000 === 0)
        .agg(sum("payload")).collect()(0).getLong(0))
    }

    if (sections("dvwrite")) {
    // a vectored erasure of 10M matched positions (every 4th key of a
    // 40M-row table across 128 files): the hits shuffle by file and
    // each task grows and stores its file's vector — the driver
    // collects one row per file.
    import graft.operators.Snapshots
    val n = 40000000L
    val dir = "/tmp/graft_scale_dvwrite"
    Snapshots.dropPath(spark, dir)
    val rows = spark.range(0, n, 1, 64).select(col("id").as("k"),
      (col("id") * 31).as("payload"), expr("id div 312500").as("bucket"))
    Snapshots.publish(rows, dir, "bucket", Seq("k"))
    val doomed = spark.range(0, n).filter(col("id") % 4 === 1)
      .select(col("id").as("k"), expr("k div 312500").as("bucket"))
    timed("dvwrite: 10M-position erasure, task-side grow + sidecar writes")(
      Snapshots.deleteVectored(doomed, dir, "bucket", Seq("k")))
    timed("dvwrite: erased fold")(Snapshots.read(spark, dir).count())
    }

    if (sections("delwhere")) {
    // the SQL DELETE FROM engine priced the way dv/dvdist priced the
    // commit: a predicate delete over 10M rows with manifest stats
    // pruning doing its job — a range predicate on the stats column
    // scans only the candidate files vs the same delete planned with
    // no usable stats (every file a candidate). Same matched count.
    import graft.operators.Snapshots
    val n = 10000000L
    def build(tag: String, stats: Boolean): String = {
      val dir = s"/tmp/graft_scale_delwhere_$tag"
      Snapshots.dropPath(spark, dir)
      val rows = spark.range(0, n, 1, 32).select(col("id").as("k"),
        (col("id") * 31).as("payload"), expr("id div 156250").as("bucket"))
      Snapshots.publish(rows, dir, "bucket", Seq("k"),
        statsCols = if (stats) Seq("k") else Nil)
      dir
    }
    // no-stats FIRST so JIT/reader warmup is not charged to it
    val dirN = build("nostats", stats = false)
    timed("delwhere: range DELETE over 10M rows with NO stats column " +
      "declared (every file is a candidate)")(
      Snapshots.deleteWhere(spark, dirN,
        col("k") >= 9000000L && col("k") < 9200000L))
    val dirS = build("stats", stats = true)
    // keys are bucket-sorted: [9.0M, 9.2M) lives in ~2 of 64 files
    timed("delwhere: same DELETE WITH typed stats " +
      "(candidate scan pruned to the matching files)")(
      Snapshots.deleteWhere(spark, dirS,
        col("k") >= 9000000L && col("k") < 9200000L))
    timed("delwhere: erased folds match")(
      (Snapshots.read(spark, dirS).count(),
        Snapshots.read(spark, dirN).count()))
    }

    if (sections("feedplan")) {
    // r10's per-trigger planning claim, measured: versions()/latest()
    // are manifest-read-free after warm (parsed manifests and decided
    // committedness cache; both are immutable), so the change feed's
    // admission-control latestOffset — which calls versions() EVERY
    // microbatch trigger — stays FLAT in version count instead of
    // paying O(all versions) small-file reads per trigger. Tables of
    // 64 and 512 versions; the COLD line is the one-time warm a fresh
    // process pays (simulated by clearing the caches), the 200-trigger
    // line is the steady state, the step-plan line is one microbatch's
    // manifest symmetric difference.
    import graft.operators.Snapshots
    for (nv <- Seq(64, 512)) {
      val dir = s"/tmp/graft_scale_feedplan_$nv"
      // reuse a previous run's table when present (the build is the
      // slow part and is not what this leg measures)
      if (!scala.util.Try(Snapshots.latest(spark, dir)).toOption.flatten
          .contains(nv.toLong)) {
        new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(dir), true)
        val base = spark.range(0, 1000, 1, 2).select(
            col("id").as("key"), (col("id") * 31L).as("payload"))
          .withColumn("bucket", expr("key div 1000"))
        timed(s"feedplan $nv: build ($nv single-bucket commits)") {
          Snapshots.publish(base, dir, "bucket", Seq("key"))
          (2 to nv).foreach(_ =>
            Snapshots.append(base.limit(3), dir, "bucket", Seq("key")))
          Snapshots.latest(spark, dir).get
        }
      }
      Snapshots.clearCaches()
      timed(s"feedplan $nv: COLD versions() (fresh-process warm, once)")(
        Snapshots.versions(spark, dir).size)
      // the checkpoint removes even that one-time cost: a fresh
      // process seeds committedness from ONE file
      timed(s"feedplan $nv: checkpoint write")(
        Snapshots.checkpoint(spark, dir))
      Snapshots.clearCaches()
      timed(s"feedplan $nv: COLD versions() WITH checkpoint (1 file read)")(
        Snapshots.versions(spark, dir).size)
      timed(s"feedplan $nv: 200 WARM triggers (versions + latest each)") {
        var s = 0L
        (1 to 200).foreach { _ =>
          s += Snapshots.versions(spark, dir).size + Snapshots.latest(spark, dir).get
        }
        s / 200
      }
      timed(s"feedplan $nv: one-step batch plan (manifest symmetric diff)") {
        val v = Snapshots.latest(spark, dir).get
        (Snapshots.files(spark, dir, v).toSet --
          Snapshots.files(spark, dir, v - 1).toSet).size
      }
    }
    }

    if (sections("skew")) {
    // Hot-key join at 30x nDocs fact rows, ONE key holding 90%: the
    // q17 correctness gate's PERFORMANCE claim, measured. Broadcast
    // is taken off the table (threshold -1) because salting's regime
    // is precisely "dim too big to broadcast"; the three variants
    // must agree on the verification sum. AQE's skew split handles
    // this shape when it can (sort-merge only); Scale.saltedJoin is
    // the explicit lever for when it can't.
    val nFact = 30L * nDocs
    val nKeys = math.max(1000L, nDocs / 10L)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val fact = spark.range(0, nFact, 1, 32).select(
      when(pmod(col("id"), lit(10L)) =!= 0, 0L)
        .otherwise(pmod(conv(substring(md5(concat(lit("sk:"), col("id"))), 1, 15), 16, 10)
          .cast("long"), lit(nKeys))).as("key"),
      (col("id") % 1000L).as("v")).localCheckpoint()
    val dim = spark.range(0, nKeys)
      .select(col("id").as("key"), (col("id") * 7 % 100).as("grp")).localCheckpoint()
    println(s"[stress] skew: ${fact.count()} fact rows over $nKeys keys, key 0 holds 90%")
    def check(df: DataFrame): Long =
      df.agg(sum(col("v") * col("grp"))).head().getLong(0)
    var want = 0L
    timed("hot-key join, AQE skew split ON") {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      want = check(fact.join(dim, "key")); want
    }
    timed("hot-key join, AQE OFF (one reducer owns the hot key)") {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val got = check(fact.join(dim, "key"))
      assert(got == want, s"$got != $want"); got
    }
    timed("Scale.saltedJoin x32, AQE OFF") {
      val got = check(graft.operators.Scale.saltedJoin(fact, dim, "key", 32))
      assert(got == want, s"$got != $want"); got
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }

    if (sections("graph")) {
    // Link-graph ops at nDocs nodes / ~3.5x edges, WITH a celebrity
    // hub (node 0, min(n/10, 40k) distinct neighbors): the shape where q114's
    // (degree, id) orientation earns its keep. An id-ordered
    // orientation hands the hub (lowest id!) its whole neighborhood
    // as out-edges -> C(hubDeg, 2) wedges from ONE node on one
    // reducer; degree-ordering directs every hub edge INTO the hub
    // (its degree is maximal), so the hub emits zero wedges and the
    // wedge space stays O(m^1.5)-bounded. Both variants must agree
    // on the global triangle count.
    val n = nDocs.toLong
    val hubDeg = math.min(n / 10, 40000L)
    val rnd = spark.range(0, 3 * n, 1, 32)
      .select((pmod(conv(substring(md5(concat(lit("ga:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(n))).as("src"),
        (pmod(conv(substring(md5(concat(lit("gb:"), col("id"))), 1, 15), 16, 10).cast("long"), lit(n))).as("dst"))
    val hub = spark.range(0, hubDeg, 1, 8)
      .select(lit(0L).as("src"), (col("id") * 7 % (n - 1) + 1).as("dst"))
    val edges = rnd.unionAll(hub).localCheckpoint()
    val nodes = spark.range(0, n).toDF("id")
    println(s"[stress] graph: $n nodes, ${edges.count()} directed edge draws (hub deg $hubDeg)")
    var degTotal = 0L
    timed("triangleCounts DEGREE-ordered (the q114 operator)") {
      val per = graft.operators.LinkGraph.triangleCounts(edges, nodes, "src", "dst", "id")
      degTotal = per.agg(sum(col("n_tri"))).head().getLong(0)
      s"sum(n_tri) = $degTotal (${degTotal / 3} triangles)"
    }
    timed("triangle count ID-ordered (the naive orientation, hub = worst case)") {
      val u = edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val w1 = u.select(col("a").as("x"), col("b").as("y"))
      val w2 = u.select(col("a").as("x"), col("b").as("z"))
      val tri = w1.join(w2, Seq("x")).filter(col("y") < col("z"))
        .join(u.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"), "left_semi")
        .count()
      assert(tri * 3 == degTotal, s"orientation mismatch: $tri*3 != $degTotal")
      s"$tri triangles (agrees)"
    }
    timed("pageRankFixedPoint 5 iters") {
      graft.operators.LinkGraph.pageRankFixedPoint(edges, nodes,
        "src", "dst", "id", iters = 5).agg(sum(col("rank"))).head().getLong(0)
    }
    timed("kcore k=3, 8 peel rounds") {
      graft.operators.LinkGraph.kcore(edges, nodes, "src", "dst", "id", 3, 8)
        .agg(sum(when(col("in_core"), 1L).otherwise(0L))).head().getLong(0)
    }
    }

    if (sections("window")) {
    // Frame/window analytics at 1M and 10M events: all three are
    // single-shuffle shapes (user-key window or map-side-collapsed
    // aggregate), so 10x events must cost ~10x.
    val dayUs2 = 86400L * 1000000
    def evts(n: Long) = spark.range(0, n, 1, 32).select(
      col("id").as("event_id"),
      (col("id") % lit(math.max(1L, n / 1000))).as("user_id"),
      pmod(xxhash64(col("id")), lit(30 * dayUs2)).as("tus"),
      (pmod(xxhash64(col("id") + 7), lit(10000L)).cast("double") / 100.0).as("value"),
      concat(lit("t"), pmod(xxhash64(col("id") + 9), lit(5L))).as("event_type"))
    def trailRun(n: Long): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000, 0)
      evts(n).withColumn("c", count(lit(1)).over(w))
        .withColumn("s", sum(col("value").cast("decimal(18,6)")).over(w))
        .count()
    }
    def transRun(n: Long): Long = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      evts(n).withColumn("nx", lead(col("event_type"), 1).over(w))
        .filter(col("nx").isNotNull)
        .groupBy(col("event_type"), col("nx")).count().count()
    }
    def slideRun(n: Long): Long =
      graft.streaming.EventStreams.slidingAgg(
        evts(n).withColumn("ts", timestamp_micros(col("tus")))).count()
    // q115/q116 shapes: islands-and-gaps interval union and SCD2 run
    // collapse — both ONE user_id shuffle + windows bounded by
    // per-user event counts, so 10x events must cost ~10x.
    def islandRun(n: Long): Long = {
      val byU = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      evts(n)
        .withColumn("eus", col("tus") + lit(60000000L) * (lit(1L) + pmod(col("event_id"), lit(30L))))
        .withColumn("pme", max(col("eus")).over(
          byU.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        .withColumn("nw", when(col("pme").isNull || col("tus") > col("pme"), 1L).otherwise(0L))
        .withColumn("isl", sum(col("nw")).over(byU.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("tus")).as("s"), max(col("eus")).as("e"))
        .groupBy(col("user_id")).agg(sum(col("e") - col("s"))).count()
    }
    def scd2Run(n: Long): Long = {
      val byU = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      evts(n)
        .withColumn("pv", lag(col("event_type"), 1).over(byU))
        .withColumn("ch", when(col("pv").isNull || col("pv") =!= col("event_type"), 1L).otherwise(0L))
        .withColumn("run", sum(col("ch")).over(byU.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("run"), col("event_type"))
        .agg(min(col("tus"))).count()
    }
    Seq(1000000L, 10000000L).foreach { n =>
      timed(s"trailing RANGE frame $n events")(trailRun(n))
      timed(s"transition counts $n events")(transRun(n))
      timed(s"sliding 1h/15min agg $n events")(slideRun(n))
      timed(s"interval-union islands $n events")(islandRun(n))
      timed(s"SCD2 run collapse $n events")(scd2Run(n))
    }
    }
    spark.stop()
  }
}
