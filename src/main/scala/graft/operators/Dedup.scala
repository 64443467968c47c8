package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftext.ArrayOps

/** Deduplication operators for large-scale text pipelines
  * (SURVEY.md §2.C). All paths are shuffle-bounded: no O(n^2) stage
  * ever materializes; candidate generation is hash-bucketed and only
  * candidates pay the exact-verification cost.
  */
object Dedup {

  /** Distinct non-empty word set per document, kept as an array column
    * (array ops beat a words-table explosion for per-pair math). */
  def wordSet(text: Column): Column =
    array_distinct(filter(split(text, " "), w => length(w) > 0))

  /** Exact dedup: group by md5(text), keep the min-id representative.
    * One hash-partitioned aggregate — the 100 TB workhorse.
    * @return text_hash, group_size, keeper (min id)
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("group_size"), min(col(idCol)).as("keeper"))

  /** 64-bit base hashes of a word set (hash once; permutations and
    * set intersections then work on longs, not strings). */
  def wordHashes(words: Column): Column = transform(words, w => xxhash64(w))

  /** MinHash signatures over pre-hashed words: permutation p rehashes
    * the 8-byte word hash with xxhash64(h, p) — native, fixed-width,
    * and wraparound-free (ANSI mode forbids overflowing multiply-add
    * families). Computed by the codegen'd VecMinhashSig expression
    * (one pass over the words, no per-word array allocation); a spec
    * pins equality with the single-fold HOF formulation it replaced. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    ArrayOps.minhashSig(hashes, numHashes)

  /** LSH candidate pairs from banded minhash signatures.
    *
    * Signature splits into `bands` bands of `rows` hashes; docs
    * sharing >= 2 band buckets become candidates. With rows=6,
    * bands=22 a Jaccard-0.95 pair misses with probability
    * (1-p)^22 + 22p(1-p)^21 ~ 1e-11 (p = 0.95^6) — the candidate set
    * is effectively a superset of all pairs above the target
    * threshold, so exact verification of candidates equals the
    * brute-force answer without the O(n^2) scan.
    *
    * Scale shape: explode is x bands (fixed small factor), the
    * self-join shuffles on (band, bucket) — AQE splits hot buckets.
    */
  def lshCandidates(df: DataFrame, idCol: String, hashes: Column,
                    rows: Int = 6, bands: Int = 22, minBands: Int = 2): DataFrame = {
    val sig = df.select(col(idCol).as("id"), minhashSignature(hashes, rows * bands).as("sig"))
    val banded = sig.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))).as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    // Dedup the per-band emissions with ONE aggregate on the pair
    // key, requiring >= 2 matching bands: at the operating threshold
    // a true pair misses both gates with prob
    // (1-p)^b + b*p*(1-p)^(b-1) ~ 1e-11, while weakly-similar pairs
    // (the candidate bulk) often collide in just one band and are
    // pruned before the exact-verify stage.
    // (Measured alternative: carrying per-band bucket arrays through
    // the join for a map-side first-match dedup avoids this shuffle
    // but costs 7x more — on near-dup-heavy corpora a similar pair
    // collides in MOST bands, so raw emissions are ~5x the deduped
    // pairs and every raw row would pay the 2x22-long array freight.)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      // pair key is a struct, not a packed long: packing assumes
      // non-negative ids < 2^31, and this is a public API — a larger
      // or negative id would overflow (ANSI throw / corrupted pairs)
      .select(struct(col("a.id").as("i"), col("b.id").as("j")).as("pk"))
      // repartition by pk first: most pks are singletons, so map-side
      // partial aggregation gets no reduction and just spills — with
      // the distribution pre-satisfied Catalyst plans one complete
      // aggregate after a cheap 16-byte-row shuffle instead
      .repartition(col("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("nb"))
      // minBands = 1 disables the weak-pair prune — required when
      // (rows, bands) are tuned for MODERATE thresholds, where even
      // true pairs collide in few bands (see minhashParamsFor)
      .filter(col("nb") >= minBands)
      .select(col("pk.i").as("i"), col("pk.j").as("j"))
  }

  /** (rows, bands) for a single-band-gate LSH whose candidate miss
    * probability at Jaccard = `threshold` is below `targetMiss`:
    * miss = (1 - t^r)^b. Fewer rows per band keep per-band collision
    * probability workable at moderate thresholds (t^6 at t = 0.6 is
    * 0.047 — the 0.95-tuned default shape would need ~300 bands);
    * more rows sharpen bands at high thresholds. */
  def minhashParamsFor(threshold: Double, targetMiss: Double = 1e-6): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1), got $threshold")
    require(targetMiss > 0 && targetMiss < 1, s"targetMiss must be in (0,1), got $targetMiss")
    val r = if (threshold >= 0.8) 6 else if (threshold >= 0.5) 4 else 3
    val p = math.pow(threshold, r)
    val b = math.ceil(math.log(targetMiss) / math.log1p(-p)).toInt
    (r, math.max(b, 2))
  }

  /** Exact set Jaccard for given pairs over pre-hashed element arrays
    * (long intersections are ~10x cheaper than string ones; a 64-bit
    * collision would need ~2^32 distinct elements to matter).
    * @param pairs (i, j) ; @param docs (id, h array<long>)
    * @return i, j, jacc
    */
  def verifyJaccard(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val a = docs.select(col("id").as("i"), array_sort(col("h")).as("ha"))
    val b = docs.select(col("id").as("j"), array_sort(col("h")).as("hb"))
    pairs.join(a, "i").join(b, "j")
      .withColumn("c", ArrayOps.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jacc",
        col("c").cast("double") /
          (size(col("ha")) + size(col("hb")) - col("c")).cast("double"))
      .select(col("i"), col("j"), col("jacc"))
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified at `threshold`.
    * Equals brute-force all-pairs Jaccard >= threshold (up to the
    * ~1e-11 LSH miss probability) at shuffle-bounded cost.
    *
    * Documents with IDENTICAL word sets first collapse to one
    * representative (their pairwise Jaccard is exactly 1.0 and their
    * LSH behavior is identical, so the dup-class rides the banded join
    * once); verified representative pairs then expand back to member
    * pairs, and within-class pairs emit directly at jacc = 1.0. On
    * near-dup-heavy corpora this cuts the quadratic bucket emissions
    * by the square of the collapse factor.
    */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, rows: Int = 6, bands: Int = 22): DataFrame =
    duplicatesViaCollapse(df, idCol, textCol, threshold,
      reps => lshCandidates(reps, "id", col("h"), rows, bands))

  /** Exact high-threshold Jaccard near-dup pairs via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al., WWW'07). Under a
    * fixed global token order (rarest-first), any pair with
    * jacc >= t must share a token within each side's first
    * n - ceil(t*n) + 1 tokens, so candidates are pairs sharing a
    * prefix token (plus the size-compatibility bound
    * min(n) >= t*max(n)); each candidate is exact-verified.
    *
    * Unlike the minhash path this is EXACT — no LSH miss probability
    * — and at high thresholds it is also cheaper: prefixes are the
    * RAREST ~(1-t) fraction of each doc's tokens, so on near-dup-heavy
    * corpora (where similar docs share their FREQUENT template tokens
    * and band buckets explode quadratically) prefix buckets stay
    * small and no signature computation happens at all. Prefer this
    * for t >~ 0.9; prefer [[minhashDuplicates]] for moderate
    * thresholds where prefixes grow long.
    */
  def prefixJaccardDuplicates(df: DataFrame, idCol: String, textCol: String,
                              threshold: Double): DataFrame =
    duplicatesViaCollapse(df, idCol, textCol, threshold,
      reps => prefixJaccardCandidates(reps, threshold))

  /** Prefix-filter candidate pairs over (id, h array<long>) docs: an
    * exact superset of all pairs with Jaccard >= threshold.
    *
    * Scale shape: token frequency is one aggregate over the exploded
    * tokens; the per-doc rarest-first ranking is a window (shuffle by
    * id); the candidate join shuffles only the short (tok, id, n)
    * prefix rows on tok — no signatures, no O(n^2), and the frequency
    * table is joined (not broadcast), so a 100 TB vocabulary works.
    *
    * CORPUS-SHAPE CAVEAT: prefix filtering relies on frequency SKEW —
    * rare tokens must exist for prefixes to discriminate. On a corpus
    * whose token frequencies are near-uniform (measured: 100k docs x
    * 120 words over a uniform 5k vocabulary), every prefix bucket
    * holds ~df*L/n docs and candidates explode quadratically while
    * minhash's random band buckets stay small. Use
    * [[prefixCandidateEstimate]] (as [[dedupCorpus]] does) to predict
    * the volume for a few cents of compute before committing.
    */
  def prefixJaccardCandidates(docs: DataFrame, threshold: Double): DataFrame =
    prefixRows(docs, threshold).as("a").join(prefixRows(docs, threshold).as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        least(col("a.n"), col("b.n")) >= lit(threshold) * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()

  /** The (id, n, tok) prefix rows of the AllPairs join: each doc's
    * n - ceil(t*n) + 1 rarest tokens under the corpus-wide
    * (frequency, token) order. */
  private def prefixRows(docs: DataFrame, threshold: Double): DataFrame = {
    val toks = docs.select(col("id"), size(col("h")).as("n"), explode(col("h")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
    toks.join(freq, "tok")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("f"), col("tok"))))
      .filter(col("rnk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("id"), col("n"), col("tok"))
  }

  /** Upper bound on the prefix join's candidate-pair volume:
    * sum over tokens of C(bucket, 2) where bucket = docs carrying the
    * token in their prefix. One cheap aggregate over the prefix rows
    * — the cost-based dispatch signal for choosing prefix vs LSH
    * (frequency-skewed corpora score low, uniform ones explode). */
  def prefixCandidateEstimate(docs: DataFrame, threshold: Double): Double = {
    // c casts to double BEFORE the multiply: under ANSI mode a long
    // c*(c-1) throws past ~3e9 docs per bucket — exactly the
    // degenerate-skew case this estimate exists to detect; in double
    // it degrades gracefully instead of failing.
    val Array(row) = prefixRows(docs, threshold)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("double") * (col("c") - 1).cast("double") / 2)
        .cast("double").as("est"))
      .collect()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Bipartite (cross-corpus) exact Jaccard join at a high
    * threshold: all pairs (i from `left`, j from `right`) with
    * word-set Jaccard >= threshold — "dedup the new crawl against
    * the existing corpus". Same prefix-filter theorem as
    * [[prefixJaccardDuplicates]] under ONE global token order
    * computed over the union of both sides (any fixed total order is
    * correct; union rarest-first keeps prefixes selective on both).
    *
    * Scale shape: one union-wide frequency aggregate (checkpointed —
    * it feeds both sides' prefix rankings), per-side prefix windows,
    * a tok-keyed candidate join of short prefix rows, exact verify
    * on survivors. Empty word sets are excluded (0/0 undefined), as
    * in the self-join path.
    */
  def prefixJaccardJoin(left: DataFrame, right: DataFrame,
                        idCol: String, textCol: String, threshold: Double): DataFrame = {
    def docsOf(df: DataFrame) = df
      .select(col(idCol).as("id"), wordHashes(wordSet(col(textCol))).as("h"))
      .filter(size(col("h")) > 0)
    val dl = docsOf(left)
    val dr = docsOf(right)
    def toksOf(d: DataFrame) =
      d.select(col("id"), size(col("h")).as("n"), explode(col("h")).as("tok"))
    val toksL = toksOf(dl)
    val toksR = toksOf(dr)
    val freq = toksL.unionAll(toksR).groupBy("tok").agg(count(lit(1)).as("f"))
      .localCheckpoint()
    def prefixOf(toks: DataFrame) = toks.join(freq, "tok")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("f"), col("tok"))))
      .filter(col("rnk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("id"), col("n"), col("tok"))
    val cand = prefixOf(toksL).as("a").join(prefixOf(toksR).as("b"),
        col("a.tok") === col("b.tok") &&
        least(col("a.n"), col("b.n")) >= lit(threshold) * greatest(col("a.n"), col("b.n")))
      .select(col("a.id").as("i"), col("b.id").as("j")).distinct()
    val a = dl.select(col("id").as("i"), array_sort(col("h")).as("ha"))
    val b = dr.select(col("id").as("j"), array_sort(col("h")).as("hb"))
    cand.join(a, "i").join(b, "j")
      .withColumn("c", ArrayOps.sortedIntersectCount(col("ha"), col("hb")))
      .withColumn("jacc",
        col("c").cast("double") /
          (size(col("ha")) + size(col("hb")) - col("c")).cast("double"))
      .select(col("i"), col("j"), col("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Shared near-dup shell: collapse identical word sets to one
    * representative, generate candidate rep pairs with `candidates`,
    * exact-verify at `threshold`, then expand back to member pairs
    * (within-class pairs emit directly at jacc = 1.0).
    *
    * Documents with IDENTICAL word sets collapse first — their
    * pairwise Jaccard is exactly 1.0 and their candidate behavior is
    * identical, so the dup-class rides candidate generation once; on
    * near-dup-heavy corpora this cuts quadratic bucket emissions by
    * the square of the collapse factor.
    *
    * Empty word sets (whitespace-only docs) are excluded from dup
    * semantics by convention: their pairwise Jaccard is 0/0 —
    * undefined — and the brute-force oracle's 0-element sets never
    * join, so emitting jacc = 1.0 for them would diverge. They fall
    * through dedupCorpus as singletons.
    */
  private def duplicatesViaCollapse(df: DataFrame, idCol: String, textCol: String,
                                    threshold: Double,
                                    candidates: DataFrame => DataFrame): DataFrame = {
    val docs = df
      .select(col(idCol).as("id"), wordHashes(wordSet(col(textCol))).as("h"))
    // materialized once: groups feeds three downstream subplans (reps
    // for candidates+verify, members twice for expansion) —
    // recomputing the word hashing per use costs more than the
    // checkpoint
    val groups = docs.filter(size(col("h")) > 0).groupBy(array_sort(col("h")).as("h"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("members"))
      .localCheckpoint()
    val reps = groups.select(col("rep").as("id"), col("h"))

    val repPairs = verifyJaccard(candidates(reps), reps).filter(col("jacc") >= threshold)

    val membersOf = groups.select(col("rep"), explode(col("members")).as("m"))
    val cross = repPairs
      .join(membersOf.select(col("rep").as("i"), col("m").as("mi")), "i")
      .join(membersOf.select(col("rep").as("j"), col("m").as("mj")), "j")
      .select(least(col("mi"), col("mj")).as("i"),
        greatest(col("mi"), col("mj")).as("j"), col("jacc"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("mi"), col("members"))
      .select(col("mi"), explode(col("members")).as("mj"))
      .filter(col("mi") < col("mj"))
      .select(col("mi").as("i"), col("mj").as("j"), lit(1.0).as("jacc"))
    cross.unionAll(within)
  }

  /** 64-bit SimHash over the word set: bit k is set when the sum of
    * sign contributions (words whose xxhash64 has bit k) is positive.
    * Each word is string-hashed exactly once, then the codegen'd
    * VecSimhash expression folds the 64 bit-sums in one pass; a spec
    * pins equality with the HOF formulation it replaced. */
  def simhash(words: Column): Column = ArrayOps.simhash(wordHashes(words))

  /** PORTABLE per-word vote hash for signature plane `seg`: fold 15
    * hex chars of md5 into a 60-bit long — conv(substring(md5(w),
    * 1, 15), 16, 10). Every step (md5 of UTF-8 bytes, hex substring,
    * base-16 fold) exists verbatim in DuckDB/Python, so an
    * independent engine reproduces the signatures bit-for-bit and a
    * simhash query becomes fully hash-checkable instead of rows-only
    * — the same portability trick as Similarity.hyperplaneSign.
    * Plane seg > 0 re-digests md5(w || ":seg") for independent bits.
    * Top 4 bits of each plane always vote -1 (60 < 64) — identically
    * in both engines; xxhash64 stays the performance default. */
  private def portableWordHash(w: Column, seg: Int): Column = {
    val digest = if (seg == 0) md5(w) else md5(concat(w, lit(s":$seg")))
    conv(substring(digest, 1, 15), 16, 10).cast("long")
  }

  /** Per-word bit masks for a set of global bit positions over an
    * nWords x 64-bit signature. Mask-based block values (sig[w] & m)
    * replace shift/width arithmetic: equality on the masked words IS
    * equality on the block's bits, and the same representation serves
    * any signature width. */
  private def masksOf(bits: Seq[Int], nWords: Int): IndexedSeq[Long] = {
    val m = Array.fill(nWords)(0L)
    bits.foreach(k => m(k / 64) |= (1L << (k % 64)))
    m.toIndexedSeq
  }

  /** Uneven pigeonhole block masks covering exactly bits
    * [0, 64*nWords): block b holds [b*W/n, (b+1)*W/n). */
  private def simhashBlockMasks(nBlocks: Int, nWords: Int): IndexedSeq[IndexedSeq[Long]] = {
    val w = 64 * nWords
    (0 until nBlocks).map(b => masksOf(b * w / nBlocks until (b + 1) * w / nBlocks, nWords))
  }

  /** Sub-range masks for hot block b: the bits OUTSIDE block b,
    * chunked into nBlocks groups. */
  private def simhashSubMasks(nBlocks: Int, nWords: Int): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val w = 64 * nWords
    (0 until nBlocks).map { b =>
      val range = b * w / nBlocks until (b + 1) * w / nBlocks
      val others = (0 until w).filterNot(range.contains)
      (0 until nBlocks).map { s =>
        masksOf(others.slice(s * others.length / nBlocks,
          (s + 1) * others.length / nBlocks), nWords)
      }
    }
  }

  /** struct(sig[0] & m(0), ..., sig[n-1] & m(n-1)) — the join-key
    * value of a masked signature. */
  private def maskedVal(sig: Column, mask: IndexedSeq[Long]): Column =
    struct(mask.indices.map(w => sig(w).bitwiseAND(lit(mask(w))).as(s"m$w")): _*)

  /** (id, sig array<long>, block, value struct) rows — one per input
    * row per pigeonhole block, checkpointed (feeds the size aggregate
    * + both join sides). */
  private def simhashBlockedFrame(sigs: DataFrame,
                                  blockMasks: IndexedSeq[IndexedSeq[Long]]): DataFrame = {
    sigs.select(col("id"), col("sig"),
        explode(array(blockMasks.indices.map { b => struct(
          lit(b).as("block"), maskedVal(col("sig"), blockMasks(b)).as("value"))
        }: _*)).as("bv"))
      .select(col("id"), col("sig"), col("bv.block"), col("bv.value"))
      .localCheckpoint()
  }

  /** Hot rows expanded by second-level sub-range: adds (sub, subval =
    * masked sig under subMask(block, sub)) — each word's mask
    * dispatches on the row's block via a coalesce-of-whens. */
  private def simhashSubFrame(hot: DataFrame,
                              subMasks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame = {
    val nBlocks = subMasks.length
    val nWords = subMasks.head.head.length
    def subVal(s: Int): Column = struct((0 until nWords).map { w =>
      col("sig")(w).bitwiseAND(coalesce(subMasks.indices.map { b =>
        when(col("block") === b, lit(subMasks(b)(s)(w)))
      }: _*)).as(s"m$w")
    }: _*)
    hot.select(col("id"), col("sig"), col("block"), col("value"),
        explode(array((0 until nBlocks).map(s =>
          struct(lit(s).as("sub"), subVal(s).as("subval"))): _*)).as("sv"))
      .select(col("id"), col("sig"), col("block"), col("value"),
        col("sv.sub"), col("sv.subval"))
  }

  /** The (block, value) buckets where the second-level split actually
    * WINS: size above hotBudget AND the exact sub-bucket histogram
    * says the split's raw join volume (Σ C(c_sub, 2) over all
    * nBlocks sub-levels) beats the plain bucket join's C(c, 2).
    * The comparison matters because hot buckets arise two ways with
    * opposite answers: saturation of the ~7-bit value space by
    * DISSIMILAR signatures (sub-ranges discriminate → split wins big)
    * vs genuinely near-identical signatures (template corpora: docs
    * agree on most sub-ranges too, so the nBlocks-fold row
    * replication only multiplies cost → plain join wins). Both
    * histograms are bounded-size aggregates (value space <=
    * nBlocks * 256 buckets; sub histogram only over candidate-hot
    * rows), so the dispatch costs two cheap jobs, mirroring
    * dedupCorpus's prefixCandidateEstimate. */
  private def simhashHotSet(blocked: DataFrame, hotBudget: Int,
                            subMasks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame = {
    val counts = blocked.groupBy(col("block"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val candHot = counts.filter(col("cnt") > hotBudget)
    def c2(c: Column): Column = c.cast("double") * (c - 1).cast("double") / 2
    val splitCost = simhashSubFrame(
        blocked.join(broadcast(candHot.select(col("block"), col("value"))),
          Seq("block", "value"), "left_semi"), subMasks)
      .groupBy(col("block"), col("value"), col("sub"), col("subval"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("block"), col("value"))
      .agg(sum(c2(col("c"))).as("split_cost"))
    candHot.join(splitCost, Seq("block", "value"))
      .filter(col("split_cost") < c2(col("cnt")))
      .select(col("block"), col("value"))
  }

  /** (groups, reps): docs collapsed by IDENTICAL signature.
    * On near-dup-heavy corpora (templated text, planted clones) large
    * doc classes share one exact signature — the very thing that
    * makes pigeonhole buckets hot — and a class rides the block join
    * once through its min-id representative. Mirrors the word-set
    * collapse in [[duplicatesViaCollapse]]; measured on a 100k-doc
    * 50-template corpus this cuts raw join emissions by ~5 orders of
    * magnitude where the second-level split alone made things WORSE
    * (identical-signature docs agree on every sub-range too, so the
    * split's row replication just multiplied). Caveat shared with the
    * minhash path: emitting all pairs of a c-member class is C(c,2)
    * OUTPUT — inherent to pair semantics, not to the join shape. */
  private def simhashGroups(df: DataFrame, idCol: String, textCol: String,
                            nWords: Int, portableHash: Boolean): (DataFrame, DataFrame) = {
    val ws = wordSet(col(textCol))
    // portable planes compose the codegen'd 64-bit VecSimhash over
    // per-plane md5-fold hashes (word 0 of the xxhash64 path is the
    // same composition with a different word hash)
    val sigCol =
      if (!portableHash) ArrayOps.simhashWide(wordHashes(ws), nWords)
      else array((0 until nWords).map { seg =>
        ArrayOps.simhash(transform(ws, w => portableWordHash(w, seg)))
      }: _*)
    val groups = df.select(col(idCol).as("id"), sigCol.as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("members"))
      .localCheckpoint()
    (groups, groups.select(col("rep").as("id"), col("sig")))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    *
    * Pigeonhole banding: split the signature bits into maxHamming+1
    * blocks — any pair within the budget must agree exactly on at
    * least one block, so candidates come from equi-joins on masked
    * block values (shuffle on (block, value)), then exact popcount
    * verification. No O(n^2) across the corpus. Two defenses against
    * quadratic hot buckets, each engaged only where measurement says
    * it wins: identical-signature classes collapse to one
    * representative before banding (template corpora), and buckets
    * above `hotBudget` re-apply the pigeonhole on the bits OUTSIDE
    * the block (second-level split — any within-budget pair agreeing
    * on the hot block has <= maxHamming diffs outside it and so
    * agrees on a whole sub-range) when the exact sub-bucket histogram
    * shows the split's join volume beats C(c, 2). Each pair surfaces
    * exactly once (earliest agreeing block; sub-level duplicates die
    * in one distinct over survivors). */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 8, hotBudget: Int = 512,
                        portableHash: Boolean = false): DataFrame =
    simhashWideDuplicates(df, idCol, textCol, nWords = 1, maxHamming, hotBudget,
      portableHash)

  /** 128-bit variant: signature WIDTH is the simhash scale lever —
    * blocks are ~14 bits instead of ~7, so the value space grows by
    * 2^7 per block and bucket saturation (the quadratic hot-bucket
    * regime, measured at ~100k docs for 64-bit signatures) is pushed
    * out by orders of magnitude; template-mates also disagree on the
    * wider blocks more often, shrinking genuinely-hot buckets. Same
    * pigeonhole guarantee at the same maxHamming. */
  def simhash128Duplicates(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 8, hotBudget: Int = 512,
                           portableHash: Boolean = false): DataFrame =
    simhashWideDuplicates(df, idCol, textCol, nWords = 2, maxHamming, hotBudget,
      portableHash)

  def simhashWideDuplicates(df: DataFrame, idCol: String, textCol: String,
                            nWords: Int, maxHamming: Int, hotBudget: Int,
                            portableHash: Boolean = false): DataFrame = {
    // fail at the API boundary, not deep in mask construction
    // (nWords <= 0 would hit subMasks.head.head on empty structures)
    // or at execution time (the expression rejects nWords > 8)
    require(nWords >= 1 && nWords <= 8, s"nWords must be in [1, 8], got $nWords")
    val (groups, reps) = simhashGroups(df, idCol, textCol, nWords, portableHash)
    expandRepPairs(hammingPairs(reps, nWords, maxHamming, hotBudget), groups)
  }

  /** Expand representative pairs back to member pairs (hamming is a
    * pure function of the two signatures, so class-mates inherit
    * it), and emit within-class pairs directly at hamming 0.
    * @param groups (sig, rep, members) as simhashGroups builds */
  private def expandRepPairs(repPairs: DataFrame, groups: DataFrame): DataFrame = {
    val membersOf = groups.select(col("rep"), explode(col("members")).as("m"))
    val cross = repPairs
      .join(membersOf.select(col("rep").as("i"), col("m").as("mi")), "i")
      .join(membersOf.select(col("rep").as("j"), col("m").as("mj")), "j")
      .select(least(col("mi"), col("mj")).as("i"),
        greatest(col("mi"), col("mj")).as("j"), col("hamming"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("mi"), col("members"))
      .select(col("mi"), explode(col("members")).as("mj"))
      .filter(col("mi") < col("mj"))
      .select(col("mi").as("i"), col("mj").as("j"), lit(0).as("hamming"))
    cross.unionAll(within)
  }

  /** [[hammingPairs]] with identical-signature classes collapsed to
    * one representative BEFORE banding and expanded after — the
    * right entry for duplicate-heavy signature spaces (templated /
    * low-entropy media where many items share a perceptual hash:
    * the banding join then works on distinct signatures instead of
    * grinding each hamming-0 class quadratically; q152's corpus
    * measured ~3× on exactly this, 7.7 → 2.3 s at sf0.1). Same
    * output contract as [[hammingPairs]]. */
  def hammingPairsCollapsed(sigs: DataFrame, nWords: Int, maxHamming: Int,
                            hotBudget: Int = 512): DataFrame = {
    val groups = sigs.groupBy(col("sig"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("members"))
      .localCheckpoint()
    val reps = groups.select(col("rep").as("id"), col("sig"))
    expandRepPairs(hammingPairs(reps, nWords, maxHamming, hotBudget), groups)
  }

  /** Banded hamming pairs over ARBITRARY wide signatures — the
    * simhash pigeonhole machinery as a standalone entry point
    * (extracted so NON-TEXT signatures reuse the identical join
    * discipline: q152 runs it over image dHashes). Input: (id, sig)
    * with sig an array<long> of `nWords` words; output every i < j
    * pair within `maxHamming`, exactly once, with the exact
    * distance. Same two hot-bucket defenses as the text path EXCEPT
    * identical-signature collapsing, which stays the caller's choice
    * (simhashWideDuplicates pre-collapses; a caller with mostly
    * distinct signatures — perceptual hashes — skips the pass). */
  def hammingPairs(sigs: DataFrame, nWords: Int, maxHamming: Int,
                   hotBudget: Int = 512): DataFrame = {
    require(nWords >= 1 && nWords <= 8, s"nWords must be in [1, 8], got $nWords")
    val nBlocks = maxHamming + 1
    val blockMasks = simhashBlockMasks(nBlocks, nWords)
    val subMasks = simhashSubMasks(nBlocks, nWords)
    val reps = sigs.select(col("id"), col("sig"))
    val blocked = simhashBlockedFrame(reps, blockMasks)
    val hotSet = simhashHotSet(blocked, hotBudget, subMasks)
    val cold = blocked.join(broadcast(hotSet), Seq("block", "value"), "left_anti")
    val hot = blocked.join(broadcast(hotSet), Seq("block", "value"), "left_semi")

    // Both signatures ride the join output, so pair-dedup needs no
    // distinct(): keep a row only when NO EARLIER block also matches.
    // The check is an UNROLLED boolean chain (higher-order `exists`
    // is interpreted per row — fatal on tens of millions of rows);
    // each term is nWords mask-compares, fully codegen'd (~16 terms —
    // small enough to stay under the codegen method-size limit).
    val anyEarlierBlockMatches = blockMasks.indices.init.map { b =>
      col("block") > b && (0 until nWords).map { w =>
        col("si")(w).bitwiseAND(lit(blockMasks(b)(w))) ===
          col("sj")(w).bitwiseAND(lit(blockMasks(b)(w)))
      }.reduce(_ && _)
    }.reduce(_ || _)

    val coldRaw = cold.as("a").join(cold.as("b"),
        col("a.block") === col("b.block") && col("a.value") === col("b.value") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        col("a.sig").as("si"), col("b.sig").as("sj"), col("a.block").as("block"))
      .filter(!anyEarlierBlockMatches)
      .select(col("i"), col("j"), col("si"), col("sj"))

    // Hot side: add (sub, sig & subMask(block, sub)) to the join key.
    // Pair-dedup differs from the cold side: a pair can surface from
    // up to nBlocks sub-levels of its (earliest agreeing) hot bucket,
    // and an unrolled earliest-agreeing-SUB filter would need
    // nBlocks^2*(nBlocks-1)/2 ~ 300 mask-compare terms — measured to
    // knock the join stage out of whole-stage codegen (method-size
    // limit) and run 18x slower interpreted. Instead: the cheap
    // 8-term earliest-BLOCK filter first (after it a pair survives in
    // exactly one (block, value) bucket), then one distinct() over
    // the few surviving rows removes the sub-level duplicates.
    val sub = simhashSubFrame(hot, subMasks)
    val hotRaw = sub.as("a").join(sub.as("b"),
        col("a.block") === col("b.block") && col("a.value") === col("b.value") &&
        col("a.sub") === col("b.sub") && col("a.subval") === col("b.subval") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        col("a.sig").as("si"), col("b.sig").as("sj"),
        col("a.block").as("block"))
      .filter(!anyEarlierBlockMatches)
      .select(col("i"), col("j"), col("si"), col("sj"))
      .distinct()

    val hammingCol = (0 until nWords)
      .map(w => bit_count(col("si")(w).bitwiseXOR(col("sj")(w))))
      .reduce(_ + _)
    coldRaw.unionAll(hotRaw)
      .withColumn("hamming", hammingCol)
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming"))
  }

  /** Diagnostic for [[simhashDuplicates]]: the raw candidate-pair
    * volume its joins emit at a given hot budget — Σ C(c, 2) over
    * cold (block, value) buckets plus Σ C(c, 2) over hot sub-buckets,
    * computed over the identical-signature-collapsed representatives
    * exactly as the operator joins them. Bucket-size aggregates only
    * (no join runs), so the cost-vs-budget curve of the second-level
    * split can be measured cheaply at any corpus size
    * (tools/ScaleStress). */
  def simhashEmissionCount(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 8, hotBudget: Int = 512,
                           nWords: Int = 1): Long = {
    require(nWords >= 1 && nWords <= 8, s"nWords must be in [1, 8], got $nWords")
    val nBlocks = maxHamming + 1
    val blockMasks = simhashBlockMasks(nBlocks, nWords)
    val subMasks = simhashSubMasks(nBlocks, nWords)
    val (_, reps) = simhashGroups(df, idCol, textCol, nWords, portableHash = false)
    val blocked = simhashBlockedFrame(reps, blockMasks)
    val hotSet = simhashHotSet(blocked, hotBudget, subMasks)
    def pairSum(grouped: DataFrame): Long = {
      val Array(row) = grouped
        .agg(sum(col("c").cast("double") * (col("c") - 1).cast("double") / 2)
          .cast("long").as("p")).collect()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    val cold = pairSum(blocked.join(broadcast(hotSet), Seq("block", "value"), "left_anti")
      .groupBy(col("block"), col("value")).agg(count(lit(1)).as("c")))
    val hot = pairSum(
      simhashSubFrame(blocked.join(broadcast(hotSet), Seq("block", "value"), "left_semi"),
          subMasks)
        .groupBy(col("block"), col("value"), col("sub"), col("subval"))
        .agg(count(lit(1)).as("c")))
    cold + hot
  }

  /** Pair count up to which [[connectedComponents]] runs its rounds on
    * the driver (see its size dispatch). */
  val SmallPairs = 200000

  /** Connected components over a similarity-pair edge list:
    * min-label propagation with POINTER DOUBLING — each round first
    * takes the min label over the neighborhood, then replaces every
    * label by its label's label (path halving), so label information
    * travels ~2^round hops after `round` rounds instead of one hop
    * per round. A near-dup CHAIN of diameter d (templated corpora
    * produce these: A~B~C~... each within threshold of the next)
    * converges in O(log d) rounds; cliques converge in 1-2.
    *
    * Terminates at the exact fixpoint (no-change round) and THROWS if
    * the round cap is hit — silently returning unconverged labels
    * would mis-cluster without any signal. The default cap of 50
    * doubling rounds covers any graph that fits in storage.
    *
    * SIZE DISPATCH: the pairs are materialized once (a shuffle-free
    * `localCheckpoint`, so the upstream pair join runs exactly once
    * on either side), and a list of at most [[SmallPairs]] pairs is
    * collected and run through the same rounds on the driver's arrays
    * ([[localRounds]]); a larger one runs the distributed rounds
    * ([[componentRounds]]) from the checkpoint. A distributed round
    * runs three Spark jobs (two checkpoints and a count), so even a
    * 1,350-pair graph takes ~30 jobs with their own generated classes;
    * a driver round is a pass over two int arrays. Both sides compare ids
    * under Spark's ordering for the id type, keep a null id as a
    * (null, null) row that joins nothing, and throw at `maxIter`, so
    * their rows and schema are equal (DedupPropertySpec).
    * Crossover, measured with the pairs already checkpointed, both
    * sides timed from their own checkpoint (`local[4]`, 4 vCPUs, host
    * load 2–4, median of 3 warm calls), driver vs distributed:
    * chain 10k pairs 0.48 vs 8.4 s, 100k 0.67 vs 18.1 s, 1M 6.8 vs
    * 65.5 s; clique 10k 0.21 vs 1.04 s, 100k 0.30 vs 1.21 s, 1M 1.9 vs
    * 3.4 s. The driver wins at every size measured, by less as a
    * clique grows; SmallPairs = 200k caps what the driver holds and
    * what a larger list ships to it for the size check alone
    * (SmallPairs + 1 rows).
    *
    * @param pairs (i, j) undirected edges
    * @return (id, component) — component = min id reachable
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // the id type the rounds' union widens i and j to
    val idType = undirected(pairs).schema("i").dataType
    val cp = pairs.select(col("i").cast(idType).as("i"), col("j").cast(idType).as("j"))
      .localCheckpoint()
    // one partition of the checkpoint: the size check is one job
    graft.PlanUtil.collectIfSmall(cp.coalesce(1), SmallPairs) match {
      case None => componentRounds(cp, maxIter)
      case Some(rows) => localComponents(cp, rows, maxIter)
    }
  }

  /** [[connectedComponents]] on the driver: `rows` are the collected
    * `pairs`, whose i and j share one type. */
  private def localComponents(pairs: DataFrame, rows: Array[Row],
                              maxIter: Int): DataFrame = {
    val idType = pairs.schema("i").dataType
    val ends = rows.flatMap(r => Seq(r.get(0), r.get(1)))
    val keys = Borders.catalystKeys(ends, idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    // node = rank of a distinct non-null id in Spark's order, so the
    // min node is the min id; firsts(node) = an end holding that id
    val node = Array.fill(ends.length)(-1)
    val firsts = scala.collection.mutable.ArrayBuffer.empty[Int]
    keys.indices.filter(keys(_) != null).sortWith((a, b) => ord.lt(keys(a), keys(b)))
      .foreach { e =>
        if (firsts.isEmpty || ord.compare(keys(firsts.last), keys(e)) != 0) firsts += e
        node(e) = firsts.length - 1
      }
    val edges = rows.indices.filter(k => node(2 * k) >= 0 && node(2 * k + 1) >= 0)
    val label = localRounds(firsts.length, edges.map(k => node(2 * k)).toArray,
      edges.map(k => node(2 * k + 1)).toArray, maxIter)
    val out = firsts.indices.map(n => Row(ends(firsts(n)), ends(firsts(label(n))))) ++
      (if (keys.contains(null)) Seq(Row(null, null)) else Nil)
    // the distributed rounds' schema, nullability included, from their own columns
    val edgeList = undirected(pairs)
    val schema = jump(propagate(edgeList, initialLabels(edgeList))).select("id", "component").schema
    pairs.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** The distributed rounds: [[connectedComponents]] above
    * [[SmallPairs]] pairs. Same output. */
  private[graft] def componentRounds(pairs: DataFrame, maxIter: Int): DataFrame = {
    val edges = undirected(pairs).localCheckpoint()
    var labels = initialLabels(edges).localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // checkpointFlat per round (NOT bare localCheckpoint): inherited
      // stats estimates would compound geometrically across rounds and
      // stall the planner (see PlanUtil.checkpointFlat).
      val prop = graft.PlanUtil.checkpointFlat(propagate(edges, labels))
      val jumped = graft.PlanUtil.checkpointFlat(jump(prop))
      changed = jumped.filter(col("component") =!= col("old")).count()
      labels = jumped.select("id", "component")
      it += 1
    }
    if (changed > 0) throw notConverged(maxIter)
    labels
  }

  /** The rounds of [[componentRounds]] on the driver: `n` nodes whose
    * order is the ids' order, edges `src(e)`–`dst(e)` in both
    * directions. Same propagate, jump and no-change test.
    * @return each node's component node */
  private def localRounds(n: Int, src: Array[Int], dst: Array[Int],
                          maxIter: Int): Array[Int] = {
    var label = Array.range(0, n)
    var changed = 1
    var it = 0
    while (changed > 0 && it < maxIter) {
      val prop = label.clone()
      for (e <- src.indices) {
        val (a, b) = (src(e), dst(e))
        prop(a) = math.min(prop(a), label(b))
        prop(b) = math.min(prop(b), label(a))
      }
      val jumped = prop.map(prop(_))
      changed = (0 until n).count(k => jumped(k) != label(k))
      label = jumped
      it += 1
    }
    if (changed > 0) throw notConverged(maxIter)
    label
  }

  private def notConverged(maxIter: Int) = new IllegalStateException(
    s"connectedComponents did not converge in $maxIter doubling rounds " +
      "(graph diameter beyond ~2^maxIter) — raise maxIter")

  /** (i, j) in both directions, deduplicated. */
  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("i"), col("j"))
      .unionAll(pairs.select(col("j").as("i"), col("i").as("j")))
      .distinct()

  /** Every node labeled with itself. */
  private def initialLabels(edges: DataFrame): DataFrame =
    edges.select(col("i").as("id")).distinct().withColumn("component", col("id"))

  /** Pass 1 — propagate: min(own, min over neighbors' labels). */
  private def propagate(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nbMin = edges
      .join(labels.withColumnRenamed("id", "j"), "j")
      .groupBy(col("i").as("id")).agg(min(col("component")).as("nb_component"))
    labels.join(nbMin, Seq("id"), "left")
      .select(col("id"), col("component").as("old"),
        least(col("component"), coalesce(col("nb_component"), col("component")))
          .as("component"))
  }

  /** Pass 2 — pointer-jump: component <- label(component). Labels are
    * node ids and label(x) <= x, so the jump only decreases; this
    * squares the distance already-propagated labels cover. */
  private def jump(prop: DataFrame): DataFrame =
    prop.join(
        prop.select(col("id").as("component"), col("component").as("grand")),
        Seq("component"), "left")
      .select(col("id"), col("old"),
        coalesce(col("grand"), col("component")).as("component"))

  /** End-to-end near-dup dedup: near-dup pairs -> connected
    * components -> keep the min-id representative per cluster.
    *
    * Pair mining is COST-dispatched: at high thresholds the exact
    * prefix-filter join is usually far cheaper (short rare-token
    * prefixes, no signatures, no miss probability) — but only when
    * token frequencies are skewed enough for prefixes to
    * discriminate. A cheap candidate-volume estimate (one aggregate
    * over the prefix rows) guards the choice: corpora with
    * near-uniform frequencies, where prefix buckets explode
    * quadratically, fall back to MinHash-LSH whose random band
    * buckets are insensitive to frequency shape.
    * @return id, component, keep (true for the cluster representative;
    *         singletons — docs with no near-dup — are all keepers)
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double): DataFrame = {
    val usePrefix = threshold >= 0.9 && {
      val docs = df.select(col(idCol).as("id"), wordHashes(wordSet(col(textCol))).as("h"))
        .filter(size(col("h")) > 0)
      val n = docs.count()
      // The estimate pays a frequency aggregate + prefix window, so
      // it only runs where a blowup is possible; small corpora go
      // straight to the prefix path (their candidate space is bounded
      // anyway, and measured prefix wins at up to ~2.7k est/doc).
      // For large corpora the budget is calibrated from 100k-doc
      // measurements (tools/ScaleStress): ~40 est/doc runs in
      // seconds, ~550 est/doc already degenerates past LSH (the
      // estimate undercounts the verify/distinct shuffle freight that
      // grows with doc length), and the near-uniform-frequency shape
      // measures ~5k est/doc.
      n <= 20000 || prefixCandidateEstimate(docs, threshold) <= 200.0 * n
    }
    val pairs =
      if (usePrefix) prefixJaccardDuplicates(df, idCol, textCol, threshold)
      else minhashDuplicates(df, idCol, textCol, threshold)
    val comps = connectedComponents(pairs.select(col("i"), col("j")))
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
      .withColumn("keep", col("id") === col("component"))
  }

  /** Canonical-document selection: per cluster, keep the row with the
    * HIGHEST score, ties by smallest id — the retention policy behind
    * "keep the longest/highest-quality copy" dedup (RefinedWeb keeps
    * the longest document of each duplicate class; [[dedupCorpus]]'s
    * min-id keep is the degenerate score≡const case).
    *
    * Scale shape: the winner is a per-component argmax collapsed IN
    * THE PARTIAL AGGREGATE (min of a (-score, id) struct — the
    * semanticScreen discipline), so a pathological cluster holding
    * half the corpus still contributes one struct per map task to the
    * shuffle, never a single-reducer window sort. The winner table
    * (one row per component) joins back on the component key.
    *
    * Numeric note: a Double score of NaN sorts after every real
    * number in Spark's ordering, so NaN-scored rows only win a
    * cluster whose scores are all NaN. A NULL score LOSES to every
    * scored row (the leading is-null struct field sorts scored rows
    * first under min — without it a null negated score would sort
    * FIRST and a null-scored row would steal its cluster); a cluster
    * whose scores are all null falls back to min-id.
    *
    * @param labeled (idCol, compCol, scoreCol, ...) — e.g.
    *                [[dedupCorpus]] output joined with a score
    * @return labeled's columns + keep (true for the cluster winner)
    */
  def keepBest(labeled: DataFrame, idCol: String, compCol: String,
               scoreCol: String): DataFrame = {
    val winners = labeled.groupBy(col(compCol))
      .agg(min(struct(col(scoreCol).isNull.as("nu"),
        (-col(scoreCol)).as("ns"), col(idCol).as("wid"))).as("w"))
      .select(col(compCol), col("w.wid").as("__winner"))
    labeled.join(winners, Seq(compCol))
      .withColumn("keep", col(idCol) === col("__winner"))
      .drop("__winner")
  }

  /** [[dedupCorpus]] composed with [[keepBest]]: near-dup clusters
    * with a quality-aware canonical pick instead of min-id.
    * @param score evaluated against df's columns (e.g. a token count
    *              or q51-style quality blend)
    * @return id, component, score, keep
    */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, score: Column): DataFrame = {
    val comps = dedupCorpus(df, idCol, textCol, threshold)
      .select(col("id"), col("component"))
    val scored = df.select(col(idCol).as("id"), score.as("score"))
    keepBest(comps.join(scored, Seq("id")), "id", "component", "score")
      .select(col("id"), col("component"), col("score"), col("keep"))
  }

  /** Ordered word sequence (split on spaces, empties dropped) — gram
    * building needs order, unlike [[wordSet]]. */
  private def wordSeq(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** Distinct hashed word n-grams of a document, empty for docs
    * shorter than n words (the when-guard matters: sequence(1, stop)
    * DESCENDS for stop < 1 and would fabricate grams). Gram identity
    * is the space-joined word window — injective, since words
    * contain no spaces. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = wordSeq(text)
    array_distinct(transform(
      when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => xxhash64(concat_ws(" ", slice(ws, i, lit(n))))))
  }

  /** Benchmark decontamination — the standard LLM-pipeline step:
    * find corpus documents sharing any word n-gram with a benchmark
    * (evaluation) set, so they can be dropped before training.
    *
    * @return doc_id, n_bench_docs (distinct benchmark docs sharing a
    *         gram), n_shared_grams (distinct grams shared with ANY
    *         benchmark doc) — only contaminated docs appear.
    *
    * Scale shape: both sides shingle map-side into fixed-width hashed
    * grams; the join shuffles (gram, id) rows on the gram hash — and
    * benchmark sets are eval-sized, so Catalyst broadcasts that side
    * and the corpus never shuffles at all. No O(n^2); contamination
    * cost is corpus-linear.
    */
  def contamination(corpus: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val cg = corpus.select(col(idCol).as("doc_id"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val bg = bench.select(col(idCol).as("bench_id"),
      explode(wordNgrams(col(textCol), n)).as("g"))
    cg.join(bg, "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
        countDistinct(col("g")).as("n_shared_grams"))
  }

  /** Distinct RAW word n-gram shingles (space-joined windows) — the
    * un-hashed sibling of [[wordNgrams]] for operators that must
    * surface the offending text (boilerplate reports), with the same
    * short-doc guard. */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = wordSeq(text)
    array_distinct(transform(
      when(size(ws) >= n, sequence(lit(1), size(ws) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", slice(ws, i, lit(n)))))
  }

  /** Cross-document boilerplate accounting — the C4/RefinedWeb
    * repeated-content signal at CORPUS granularity: a unit (line,
    * paragraph, shingle) is boilerplate when it occurs in more than
    * `maxDocs` distinct documents. Returns every (doc, unit) with
    * its corpus doc-frequency and the keep verdict; callers drop
    * units (line-level dedup) or docs with high boilerplate
    * fractions (doc-level filter).
    *
    * Scale shape: distinct (id, unit) pairs → one partial-agg
    * frequency shuffle → a JOIN back on the unit (the frequency
    * table is content-cardinality-sized, so it is joined, never
    * broadcast). No all-pairs stage at any corpus size.
    * @param units exploded (idCol, unitCol) rows
    * @return id, unit, n_docs, keep (n_docs <= maxDocs)
    */
  def boilerplate(units: DataFrame, idCol: String, unitCol: String,
                  maxDocs: Long): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val u = units.select(col(idCol).as("id"), col(unitCol).as("unit")).distinct()
    val freq = u.groupBy(col("unit")).agg(count(lit(1)).as("n_docs"))
    u.join(freq, "unit")
      .select(col("id"), col("unit"), col("n_docs"),
        (col("n_docs") <= maxDocs).as("keep"))
  }

  /** Exact-substring duplicate SPANS (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * policy at word granularity): for every document, the maximal
    * token ranges covered by word-`k`-gram windows that occur more
    * than once in the corpus (across documents OR repeated within
    * one). These are the ranges ExactSubstr CUTS — span output lets
    * a caller excise substrings instead of dropping whole docs, which
    * at 100 TB preserves far more unique text than doc-level dedup.
    *
    * The reference paper builds a corpus-wide suffix array; a suffix
    * array is a sequential construction that does not shard. The
    * fixed-k window formulation computes the SAME covered ranges for
    * duplicated substrings of length >= k (any such substring is a
    * run of duplicated k-windows) entirely with corpus-linear
    * relational ops:
    * one gram-keyed frequency aggregate (map-side partials collapse
    * repeats), one join back onto (doc, pos) window rows — the
    * frequency table is content-cardinality-sized, joined never
    * broadcast — then a per-DOCUMENT interval merge (running-max
    * window; groups are doc-length-bounded, so the window never
    * serializes more than one document onto a reducer). Substrings
    * duplicated at length < k are below the policy threshold by
    * definition, exactly as in the paper.
    *
    * Gram identity is the space-joined window (injective — words
    * contain no spaces), so an oracle reproduces counts exactly;
    * at production scale the gram column would hash to 8 bytes
    * before the shuffle at ~2^-64 collision odds, but the gate's
    * business is stating the exact answer.
    *
    * @return id, span_id (1.. per doc, in position order), start_tok,
    *         end_tok (1-based inclusive token indices), n_windows
    *         (duplicated windows merged into the span)
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    dupSpans(df, idCol, textCol, k, hashGrams = false)

  /** `hashGrams = true` is the 100 TB freight lever: the frequency
    * shuffle and join key become xxhash64 of the gram (8 bytes)
    * instead of the ~k-word string — identical spans unless two
    * DISTINCT grams collide at 2^-64 per pair, which at 10^12
    * windows is a ~0.03 expected extra duplicated position corpus-
    * wide (it can only ADD a false duplicated window, never lose
    * one). The gated q68 pins the exact-string path; the stress
    * harness measures both. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
               hashGrams: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val wins = windowGrams(df, idCol, textCol, k, hashGrams)
    val freq = wins.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
    val dup = wins.join(freq, "g").filter(col("cnt") >= 2).select(col("id"), col("pos"))
    mergeWindowSpans(dup, k)
  }

  /** (id, pos, g) rows: every word-`k`-gram window of every doc. */
  private def windowGrams(df: DataFrame, idCol: String, textCol: String,
                          k: Int, hashGrams: Boolean): DataFrame = {
    val tk = wordSeq(col(textCol))
    val gramExpr = { (i: Column) =>
      val s = concat_ws(" ", slice(col("tk"), i, lit(k)))
      if (hashGrams) xxhash64(s) else s
    }
    df.select(col(idCol).as("id"), tk.as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("tk")) - (k - 1)),
        i => struct(i.as("pos"), gramExpr(i).as("g"))))
        .as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.g").as("g"))
  }

  /** Merge flagged window start positions (id, pos) into maximal
    * covered token ranges — per-DOC interval merge: groups are
    * doc-length-bounded, so the window never serializes more than
    * one document onto a reducer. */
  private def mergeWindowSpans(flagged: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    flagged
      .withColumn("prev_end",
        max(col("pos") + (k - 1)).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("span_id",
        sum(when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1L)
          .otherwise(0L)).over(w))
      .groupBy(col("id"), col("span_id"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + (k - 1)).as("end_tok"),
        count(lit(1)).as("n_windows"))
  }

  /** Benchmark-contamination SPANS (the GPT-3 decontamination policy
    * at span granularity): for every corpus doc, the maximal token
    * ranges covered by word-`k`-gram windows that appear ANYWHERE in
    * the benchmark set — the ranges to excise so evaluation text
    * never reaches training, without dropping the surrounding
    * document the way the doc-level [[contamination]] filter does.
    *
    * Scale shape: corpus windows map-side; the bench side collapses
    * to DISTINCT grams (eval-set-sized, so Catalyst broadcasts it —
    * the corpus never shuffles for the probe), then the same per-doc
    * interval merge as [[dupSpans]].
    * @return id, span_id, start_tok, end_tok, n_windows */
  def contaminationSpans(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, k: Int,
                         hashGrams: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cw = windowGrams(corpus, idCol, textCol, k, hashGrams)
    val bg = windowGrams(bench, idCol, textCol, k, hashGrams)
      .select(col("g")).distinct()
    mergeWindowSpans(cw.join(bg, "g").select(col("id"), col("pos")), k)
  }

  /** Apply step over [[contaminationSpans]]: the corpus with every
    * benchmark-overlapping range cut (same rebuild as
    * [[exciseDupSpans]] — fully-covered and token-less docs survive
    * with empty text).
    * @return id, clean_text, n_tokens, n_removed */
  def exciseContamination(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, k: Int,
                          hashGrams: Boolean = false): DataFrame =
    exciseCovered(corpus, idCol, textCol,
      contaminationSpans(corpus, bench, idCol, textCol, k, hashGrams))

  /** Span EXCISION — the apply step over [[dupSpans]] (RefinedWeb's
    * exact-substring policy: duplicated spans are REMOVED from the
    * text, docs survive with their unique remainder). Every
    * occurrence is cut: occurrence-level "keep one copy" requires
    * electing a canonical owner per duplicate class — a different,
    * heavier shuffle — and cutting all copies is the published
    * RefinedWeb choice; the keep-one policy at doc granularity is
    * [[exact]]/[[dedupCorpus]]'s business.
    *
    * Scale shape on top of dupSpans' (already corpus-linear) plan:
    * spans explode to covered (id, pos) rows — output-bounded, at
    * most the corpus token count — then one EQUI anti-join against
    * the token stream (no range predicate reaches the join), and one
    * per-doc sorted-array rebuild (collect_list into array_sort is
    * doc-length-bounded, same bound as the dupSpans window).
    *
    * @return id, clean_text (kept tokens joined by ' '), n_tokens
    *         (original), n_removed (tokens cut)
    */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame =
    exciseDupSpans(df, idCol, textCol, k, hashGrams = false)

  /** See [[dupSpans]]'s `hashGrams` — same lever, same caveat. */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, hashGrams: Boolean): DataFrame =
    exciseCovered(df, idCol, textCol, dupSpans(df, idCol, textCol, k, hashGrams))

  /** Rebuild each doc of `df` with the token ranges of `spans`
    * (id, start_tok, end_tok rows) cut — shared apply step of
    * [[exciseDupSpans]] and [[exciseContamination]]. */
  private def exciseCovered(df: DataFrame, idCol: String, textCol: String,
                            spans: DataFrame): DataFrame = {
    val covered = spans
      .select(col("id"), explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
    val toks = df
      .select(col(idCol).as("id"), wordSeq(col(textCol)).as("tk"))
      .select(col("id"), size(col("tk")).as("n_tokens"), explode_outer(
        when(size(col("tk")) > 0,
          transform(sequence(lit(1), size(col("tk"))),
            i => struct(i.as("pos"), element_at(col("tk"), i).as("w"))))
          .otherwise(array().cast("array<struct<pos:int,w:string>>"))).as("t"))
      .select(col("id"), col("n_tokens"), col("t.pos").as("pos"), col("t.w").as("w"))
    // LEFT join + marker (not an anti-join): a fully-covered doc must
    // still emit a row with empty clean_text, and the explode_outer
    // null row keeps token-less docs present too.
    val kept = when(col("cut").isNull && col("pos").isNotNull,
      struct(col("pos"), col("w")))
    toks.join(covered.withColumn("cut", lit(1)), Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(kept)),
          s => s.getField("w")), " ").as("clean_text"),
        sum(when(col("cut").isNull && col("pos").isNotNull, 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("id"), col("clean_text"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens").cast("long") - col("n_kept")).as("n_removed"))
  }

  /** Distinct hashed character n-grams of a text column.
    *
    * Guard short texts: sequence(1, stop) DESCENDS when stop < 1
    * (sequence(1,-1) = [1,0,-1]), which would fabricate grams at
    * position 0/negative instead of the empty set an oracle's
    * generate_series produces. A doc shorter than n chars has NO
    * n-grams. */
  def charGramHashes(text: Column, n: Int): Column =
    array_distinct(transform(
      when(length(text) >= n, sequence(lit(1), length(text) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => xxhash64(text.substr(i, lit(n)))))

  /** Exact character-n-gram Jaccard pairs at `threshold`.
    *
    * Set semantics over hashed grams make this the same problem as
    * word-set Jaccard, so the AllPairs/PPJoin prefix-filter machinery
    * ([[prefixJaccardCandidates]] / [[verifyJaccard]]) applies
    * unchanged — candidates are pairs sharing a rarest-first prefix
    * gram, shuffle-bounded, no O(n^2) stage. Slices small enough to
    * broadcast (`<= bruteForceMaxDocs` rows after gram filtering)
    * take an all-pairs broadcast join instead: for a few hundred docs
    * the pair space is tiny and the prefix path's ~5 jobs of fixed
    * overhead (frequency aggregate, rank window, candidate join)
    * dominate. Both paths compute the identical answer; the one-row
    * count that picks between them is the explicit guard keeping the
    * quadratic path off unbounded inputs.
    *
    * Threshold note: prefix lengths grow as ~(1-t)·|grams|, so the
    * filter is sharpest at high t. At moderate t on frequency-skewed
    * gram distributions it still discriminates; see the corpus-shape
    * caveat on [[prefixJaccardCandidates]].
    *
    * GRAM-SPACE caveat (the n-gram version of that corpus-shape
    * caveat): small n means a CLOSED gram space — 26^3 ~ 17.6k values
    * at n=3 — so past ~10^4..10^5 docs every gram lands in a
    * corpus-proportional fraction of documents, no rare grams exist,
    * and candidate volume (for any set-similarity algorithm — and
    * typically the true pair output itself) grows ~quadratically.
    * That is a property of the SEMANTICS, not the plan: use n >= 5
    * (open space, rare grams at any corpus size) or a bounded slice
    * for smaller n; [[prefixCandidateEstimate]] over
    * [[charGramHashes]] predicts the volume for a few cents of
    * compute before committing. Even on open spaces, LONG docs
    * (hundreds of grams) make the prefix verify stage carry heavy
    * array freight when candidates number in the tens of millions
    * (measured spill-regime superlinearity at 100k x 600-gram docs —
    * BENCH.md r4 correction); [[ngramJaccardAuto]] dispatches to
    * [[ngramJaccardLSH]] on the same estimate probe for exactly that
    * shape.
    *
    * Gram-less docs are excluded entirely — their 0/0 Jaccard is
    * undefined (NaN compares TRUE under Spark's >=). */
  /** The (id, gram-hash array) frame every n-gram Jaccard route works
    * over, materialized ONCE: it feeds the dispatch count/estimate
    * plus 2 (brute) or ~5 (prefix rows x2, verify x2) downstream
    * subplans — recomputing the gram hashing per use costs more than
    * the checkpoint, and the dispatch wrappers thread this single
    * frame into whichever route they pick so the most expensive
    * intermediate is never built twice. */
  private def gramDocs(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    df.select(col(idCol).as("id"), charGramHashes(col(textCol), n).as("h"))
      .filter(size(col("h")) > 0)
      .localCheckpoint()

  /** Char-n-gram Jaccard pairs via threshold-tuned MinHash-LSH over
    * the hashed gram arrays — the scale route for gram distributions
    * where prefix filtering cannot discriminate (near-uniform gram
    * frequencies at moderate thresholds; see the corpus-shape caveat
    * on [[ngramJaccard]]). APPROXIMATE: a true pair at exactly the
    * threshold is missed with probability <= targetMiss (default
    * 1e-6; band collisions get no weak-pair prune at these
    * parameters); every found pair is exact-verified, so there are no
    * false positives. Band buckets are random in gram space, so
    * candidate volume tracks true similarity structure, not gram
    * frequency shape — the property the prefix path lacks. */
  def ngramJaccardLSH(df: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      targetMiss: Double = 1e-6): DataFrame =
    ngramJaccardLSHPrepared(gramDocs(df, idCol, textCol, n), threshold, targetMiss)

  private def ngramJaccardLSHPrepared(docs: DataFrame, threshold: Double,
                                      targetMiss: Double): DataFrame = {
    val (rows, bands) = minhashParamsFor(threshold, targetMiss)
    verifyJaccard(lshCandidates(docs, "id", col("h"), rows, bands, minBands = 1), docs)
      .filter(col("jacc") >= threshold)
      .select(col("i"), col("j"), col("jacc"))
  }

  /** Cost-dispatched n-gram Jaccard: brute-force on bounded slices,
    * the EXACT prefix path where the candidate estimate says gram
    * frequencies discriminate, and the [[ngramJaccardLSH]] route
    * (~1e-6 miss) where they don't — the n-gram analogue of
    * [[dedupCorpus]]'s dispatch. `estBudgetPerDoc` mirrors its
    * calibration (~200 candidates/doc; the near-uniform shapes that
    * defeat prefixes measure thousands). */
  def ngramJaccardAuto(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       bruteForceMaxDocs: Long = 2000L,
                       estBudgetPerDoc: Double = 200.0): DataFrame = {
    val docs = gramDocs(df, idCol, textCol, n)
    val cnt = docs.count()
    if (cnt <= bruteForceMaxDocs ||
        prefixCandidateEstimate(docs, threshold) <= estBudgetPerDoc * cnt)
      ngramJaccardPrepared(docs, cnt, threshold, bruteForceMaxDocs)
    else
      ngramJaccardLSHPrepared(docs, threshold, targetMiss = 1e-6)
  }

  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   bruteForceMaxDocs: Long = 2000L): DataFrame = {
    val docs = gramDocs(df, idCol, textCol, n)
    ngramJaccardPrepared(docs, docs.count(), threshold, bruteForceMaxDocs)
  }

  private def ngramJaccardPrepared(docs: DataFrame, cnt: Long,
                                   threshold: Double,
                                   bruteForceMaxDocs: Long): DataFrame = {
    val pairs =
      if (cnt <= bruteForceMaxDocs) {
        val a = docs.select(col("id").as("i"), array_sort(col("h")).as("ha"))
        val b = docs.select(col("id").as("j"), array_sort(col("h")).as("hb"))
        a.join(broadcast(b), col("i") < col("j"))
          .withColumn("c", ArrayOps.sortedIntersectCount(col("ha"), col("hb")))
          .withColumn("jacc", col("c").cast("double") /
            (size(col("ha")) + size(col("hb")) - col("c")).cast("double"))
          .select(col("i"), col("j"), col("jacc"))
      } else {
        verifyJaccard(prefixJaccardCandidates(docs, threshold), docs)
      }
    pairs.filter(col("jacc") >= threshold)
      .select(col("i"), col("j"), col("jacc"))
  }

  /** EXACT edit-distance-1 fuzzy pairs over the DISTINCT value space
    * via symmetric-delete blocking (Garbe's SymSpell idea, public):
    * if levenshtein(a, b) <= 1 then deleting at most one character
    * from each side reaches a common string — a substitution pair
    * meets at the string with the substituted position deleted, an
    * insert/delete pair meets at the shorter string itself. So the
    * candidate set is the self-join of the delete-<=1 variant table
    * (len+1 variants per distinct value, the value itself included)
    * on the variant key, and every candidate is verified with the
    * built-in codegen'd `levenshtein` — zero misses structurally,
    * zero false positives by verification.
    *
    * Scale shape: variants per value grow linearly with string
    * length, the join is an equi-join on the variant hash (shuffle
    * bounded by n·(len+1), NEVER the all-pairs product), and the
    * distinct() collapses multi-variant candidate repeats before the
    * cheap verify. Working on distinct values first is the
    * entity-resolution discipline: dedupe the value space, run the
    * quadratic-looking step only against blocked candidates.
    * Distance k needs delete-<=k neighborhoods (O(len^k) variants) —
    * the same join, bigger freight: k=1 covers the one-typo/one-digit
    * entity-match workload this gate models; [[fuzzyPairs2]] ships
    * k=2 for record linkage (gated by q139, freight measured in
    * BENCH.md).
    *
    * @return (a, b, dist) with a < b, one row per distinct unordered
    *         pair at levenshtein distance exactly 1 (distance 0 is
    *         impossible across distinct values)
    */
  /** EXACT edit-distance-≤2 fuzzy pairs — [[fuzzyPairs1]]'s k = 2
    * sibling (the r6 backlog's record-linkage ask): the
    * delete-neighborhood theorem generalizes — lev(a, b) ≤ k ⇒
    * del≤k(a) ∩ del≤k(b) ≠ ∅ — so candidates are the self-join of
    * the delete-≤2 variant table (1 + len + len·(len−1)/2 variants
    * per value, O(len²) — the freight the k=1 docstring priced) and
    * every candidate is verified with the threshold-form codegen'd
    * levenshtein. Verify-before-distinct matters MORE here: a true
    * distance-d pair shares many delete-variants, so the raw join
    * multiplicity grows with k while verified pairs stay sparse.
    * Variant generation is one imperative UDF per distinct value
    * (a nested-position loop; the pure-Column form needs
    * descending-sequence guards that obscure it) — off the per-token
    * hot path by construction, since it runs once per DISTINCT
    * value.
    *
    * WORKLOAD FIT (measured — BENCH.md r7): on SPARSE key spaces
    * (hashed/name-like ids, the record-linkage shape k=2 exists
    * for) delete-≤2 buckets stay near-singleton and the join is
    * n-linear. On DENSE key spaces (zero-padded sequential
    * numerics) a variant deleting the varying positions collapses
    * ~radix² consecutive keys into ONE bucket — the join goes
    * bucket-quadratic AND key-skewed, and the TRUE distance-≤2
    * output is itself ~50× the k=1 volume; for such spaces use
    * [[fuzzyPairs1]] or pre-block on a discriminating prefix.
    *
    * @return (a, b, dist) with a < b, dist ∈ {1, 2}
    */
  def fuzzyPairs2(df: DataFrame, strCol: String): DataFrame = {
    val del2 = udf((s: String) => {
      val out = scala.collection.mutable.LinkedHashSet[String](s)
      val n = s.length
      var i = 0
      while (i < n) { out += s.substring(0, i) + s.substring(i + 1); i += 1 }
      var a = 0
      while (a < n) {
        var b = a + 1
        while (b < n) {
          out += s.substring(0, a) + s.substring(a + 1, b) + s.substring(b + 1)
          b += 1
        }
        a += 1
      }
      out.toArray
    })
    val vals = df.select(col(strCol).as("s")).filter(col("s").isNotNull).distinct()
    val variants = vals.select(col("s"), explode(del2(col("s"))).as("v"))
      .localCheckpoint()
    val left = variants.select(col("s").as("a"), col("v"))
    val right = variants.select(col("s").as("b"), col("v"))
    left.join(right, Seq("v"))
      .filter(col("a") < col("b") && levenshtein(col("a"), col("b"), 2) >= 0)
      .select(col("a"), col("b")).distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")))
  }

  def fuzzyPairs1(df: DataFrame, strCol: String): DataFrame = {
    val vals = df.select(col(strCol).as("s")).filter(col("s").isNotNull).distinct()
    // delete-one variants plus the string itself; array_distinct
    // collapses repeated variants from equal adjacent characters
    // materialized once (the gramDocs discipline): both sides of the
    // self-join read the checkpointed variants instead of re-running
    // the distinct + explode lineage twice
    val variants = vals.select(col("s"), explode(array_distinct(concat(
      array(col("s")),
      transform(sequence(lit(1), length(col("s"))),
        i => concat(col("s").substr(lit(1), i - 1),
          col("s").substr(i + 1, length(col("s")))))))).as("v"))
      .localCheckpoint()
    val left = variants.select(col("s").as("a"), col("v"))
    val right = variants.select(col("s").as("b"), col("v"))
    // verify BEFORE the pair-distinct: the threshold form of
    // levenshtein early-exits past distance 1, and true pairs have
    // candidate multiplicity ~1 while false candidates (distance-2
    // shapes meeting at a shared variant) dominate the raw join
    // output — filtering first measured ~3x on the 100k entity-id
    // stress (the distinct shuffles 2.25M rows instead of 10.4M)
    left.join(right, Seq("v"))
      .filter(col("a") < col("b") && levenshtein(col("a"), col("b"), 1) >= 0)
      .select(col("a"), col("b")).distinct()
      .withColumn("dist", levenshtein(col("a"), col("b")))
  }
}
