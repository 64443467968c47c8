package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.ArrayOps

/** Text analysis operators for training-data pipelines
  * (SURVEY.md §2.E). Everything is built from codegen'd native
  * functions (regexp/array/higher-order) — no UDFs — and all ratios
  * divide exact integers so results are engine-portable.
  */
object TextAnalysis {

  /** Whitespace tokens (non-empty). */
  def wsTokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Lowercase alphabetic words. */
  def alphaWords(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** TF-IDF keyword extraction under a QUANTIZED integer idf — the
    * q137/q59 float/integer split applied to the classic retrieval
    * score: idf16(t) = ilog16(N) − ilog16(df(t)) with
    * [[Unigram.ilog2Fixed16]]'s exact shift-and-square binary log
    * (floor(16·log2), pure integer ops — both engines price terms
    * bit-identically, where a double log could flip a rank at a
    * representation boundary), score = tf · idf16, top-k terms per
    * doc by (score DESC, term ASC). N = corpus row count (requires
    * N < 2^33 per the ilog domain — any real corpus).
    *
    * Scale shape: one (doc, term) partial-agg shuffle, one
    * vocabulary-bounded df aggregate, a term-keyed join back
    * (broadcast when the vocabulary allows, co-partitioned shuffle
    * otherwise), and the rank-filter window gets a map-side
    * WindowGroupLimit — the q47 shape.
    * @return idCol, rank (1..k), term, tf, df, score
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = df.count()
    val ilogN = Unigram.ilog2Fixed16(math.max(1L, n))
    val dw = df.select(col(idCol), explode(wsTokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfc = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idfU = udf((d: Long) => ilogN - Unigram.ilog2Fixed16(d))
    val scored = dw.join(dfc, "w")
      .withColumn("score", col("tf") * idfU(col("df")))
    val win = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("w"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("w").as("term"), col("tf"),
        col("df"), col("score"))
  }

  /** HTML tag pattern: the regex-extraction contract every
    * crawl-to-text pipeline starts from — matches `<...>` runs with
    * no '>' inside, which covers well-formed markup; a literal '>'
    * inside a quoted attribute truncates that tag's match (the
    * documented regex-extractor limitation, same in trafilatura-lite
    * passes; a full HTML5 tokenizer is the upgrade path). Identical
    * leftmost semantics in Java regex and RE2. */
  val TagRe = "<[^>]*>"

  /** Tag-stripped text: every tag match removed (no replacement —
    * markup-adjacent text concatenates, which the q119 fixture gates
    * byte-exactly). Map-side codegen'd regexp, no shuffle. */
  def stripTags(html: Column): Column =
    regexp_replace(html, TagRe, "")

  /** The five core character entities + nbsp decoded, `&amp;` LAST
    * (the standard order — decoding it first would re-decode
    * `&amp;lt;` into a phantom `<`). */
  def decodeEntities(text: Column): Column = {
    val pairs = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    pairs.foldLeft(text) { case (c, (e, v)) => regexp_replace(c, lit(e), lit(v)) }
  }

  /** HTML → text extraction report: tag count + the cleaned
    * (tag-stripped, entity-decoded) text per row. */
  def htmlToText(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(htmlCol), lit(TagRe), lit(0))).cast("long").as("n_tags"),
      decodeEntities(stripTags(col(htmlCol))).as("clean_text"))

  /** URL canonicalization — the key-normalization step before
    * URL-level dedup and domain accounting (the same page arrives
    * from a crawl as `HTTP://Host:80/p?utm_source=x&id=1#frag` and
    * `http://host/p?id=1`; curation must see ONE key). Rules, each
    * deliberately restatable in portable SQL so the whole chain is
    * hash-gateable:
    *  - scheme and host lowercase; default ports stripped
    *    (http:80, https:443);
    *  - fragment dropped (never sent to the server);
    *  - tracking params dropped (utm_*, fbclid, gclid — the public
    *    Analytics/Facebook/Google click ids);
    *  - remaining query params SORTED (param order is
    *    transport-insignificant), empty query dropped;
    *  - empty path becomes "/".
    * Non-URL strings (no scheme match) pass through unchanged —
    * report, don't destroy. Pure map-side. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, UrlRe, 1))
    val host0 = lower(regexp_extract(url, UrlRe, 2))
    val hostStripped =
      when(scheme === "http", regexp_replace(host0, lit(":80$"), lit("")))
        .when(scheme === "https", regexp_replace(host0, lit(":443$"), lit("")))
        .otherwise(host0)
    val path0 = regexp_extract(url, UrlRe, 3)
    val path = when(length(path0) === 0, lit("/")).otherwise(path0)
    val query = regexp_extract(url, UrlRe, 4)
    val kept = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 && !p.startsWith("utm_") &&
        !p.startsWith("fbclid=") && !p.startsWith("gclid=")))
    val q = when(size(kept) > 0, concat(lit("?"), concat_ws("&", kept)))
      .otherwise(lit(""))
    when(length(scheme) > 0,
      concat(scheme, lit("://"), hostStripped, path, q)).otherwise(url)
  }

  /** scheme://host[:port]path[?query][#fragment] — RFC 3986's
    * first-match-wins split, leftmost-greedy identical in Java regex
    * and RE2. */
  val UrlRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)#?.*$"

  /** Match-key fold: NFD-decompose, strip combining marks (\p{Mn}),
    * lowercase, NFC-recompose — "Café" and "cafe" become the SAME
    * dedup/join key (the accent-insensitive normalization fuzzy
    * matching and cross-source entity joins run on; ICU's
    * strip_accents ships the same transform, which is what lets the
    * DuckDB oracle replicate it for Latin-script text). Pure
    * map-side over the codegen'd UnicodeNormalize. */
  def matchKey(text: Column): Column =
    org.apache.spark.sql.graftext.TextNorm.normalize(
      lower(regexp_replace(
        org.apache.spark.sql.graftext.TextNorm.normalize(text, "NFD"),
        lit("\\p{Mn}"), lit(""))), "NFC")

  /** Email-address pattern for PII scrubbing — the conservative
    * local@domain.tld shape; identical leftmost-greedy semantics in
    * Java regex and RE2, which is what lets the DuckDB oracle
    * replicate redaction byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (7+): phone/account/id-number shapes. */
  val LongDigitsRe = "[0-9]{7,}"

  /** PII-scrubbed text: emails first, then long digit runs, each
    * replaced by `token`. Order matters and is part of the contract
    * (an email's digits must not be half-redacted first). Map-side
    * codegen'd regexp — no shuffle at any scale. */
  def redact(text: Column, token: String = "<PII>"): Column =
    regexp_replace(regexp_replace(text, EmailRe, token), LongDigitsRe, token)

  /** Per-doc PII accounting: match counts per category plus the
    * redacted length — the audit artifact a curation run keeps.
    * Digit runs are counted on the EMAIL-REDACTED text so an
    * address's embedded digits aren't double-counted (mirrors the
    * category each character actually redacts under).
    * @return id, n_emails, n_digit_runs, red_len */
  def piiStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(regexp_replace(col(textCol), EmailRe, "<PII>"),
        lit(LongDigitsRe), lit(0))).as("n_digit_runs"),
      length(redact(col(textCol))).as("red_len"))

  /** Within-document repetition score — the C4/Gopher-style quality
    * filter: the fraction of a doc's word n-gram windows that are
    * repeats of an earlier window (templated/boilerplate text scores
    * high). Map-side only; no shuffle at any scale.
    * @return id, n_grams (total windows), n_distinct, rep_frac
    *         (1 - distinct/total; 0.0 for docs shorter than n words)
    */
  def repetitionScore(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val total = greatest(size(wsTokens(col(textCol))) - (n - 1), lit(0))
    val distinct = size(Dedup.wordNgrams(col(textCol), n))
    df.select(col(idCol).as("id"),
      total.cast("long").as("n_grams"),
      distinct.cast("long").as("n_distinct"),
      when(total > 0,
          lit(1.0) - distinct.cast("double") / total.cast("double"))
        .otherwise(lit(0.0)).as("rep_frac"))
  }

  /** Corpus vocabulary: top-k tokens by document frequency — the
    * tokenizer-training (BPE prep) scan of LLM data pipelines.
    * @return token, doc_freq (docs containing it), term_freq (total
    *         occurrences), deterministically ordered by
    *         (doc_freq desc, term_freq desc, token).
    *
    * Scale shape: one explode + one token-keyed aggregate (map-side
    * partial counts collapse the per-doc repeats), then a global
    * top-k — no per-doc state, corpus-linear. */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(wsTokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("id")).as("doc_freq"), count(lit(1)).as("term_freq"))
      .orderBy(col("doc_freq").desc, col("term_freq").desc, col("token"))
      .limit(k)

  /** BPE-ish token estimate: each alphabetic word contributes
    * ceil(len/4) pieces, digits and other non-space symbols one each
    * (a common fast proxy for LLM token budgeting). */
  def tokenEstimate(text: Column): Column =
    aggregate(
      transform(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)),
        t => when(t.rlike("^[A-Za-z]+$"), ceil(length(t).cast("double") / 4.0).cast("int"))
          .otherwise(1)),
      lit(0), (acc, x) => acc + x)

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
      "was", "for", "on", "with", "as", "at", "by", "from", "that", "this")

  /** Count of tokens present in a stopword list. */
  def stopwordCount(tokens: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens, t => array_contains(sw, t)))
  }

  /** Quality-score feature frame: deterministic ratios per doc.
    * score = 0.4*stop + 0.3*(1-punct) + 0.3*short-doc penalty — a
    * simple public-heuristic blend (C4/Gopher-style rules). */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
        col(idCol),
        length(t).as("n_chars"),
        size(wsTokens(t)).as("n_tokens"),
        length(regexp_replace(t, "[^.,;:!?'\"()]", "")).as("n_punct"),
        stopwordCount(wsTokens(lower(t)), StopwordsEn).as("n_stop"))
      .withColumn("punct_ratio",
        col("n_punct").cast("double") / col("n_chars").cast("double"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality_score",
        lit(0.4) * col("stop_ratio") +
        lit(0.3) * (lit(1.0) - col("punct_ratio")) +
        lit(0.3) * when(col("n_tokens") >= 20, 1.0).otherwise(col("n_tokens").cast("double") / 20.0))
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic (public common-word lists). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "en" -> Seq("the", "a", "and", "is", "of", "to", "in", "that", "with", "for"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "de", "que", "en", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "que", "dans", "avec", "pour"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "he", "wo", "ta", "men", "zhe"))

  /** Language-ID scores: one count column per language (s_de, s_en,
    * ...), prediction = argmax with alphabetical tie-break. */
  def langIdFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val withScores = LangProfiles.foldLeft(
      df.select(col(idCol), col(textCol))) { case (acc, (lang, words)) =>
        acc.withColumn(s"s_$lang", stopwordCount(toks, words))
    }
    // alphabetical CASE chain = smallest language name wins ties
    val langs = LangProfiles.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (lang, els) =>
      val others = langs.filterNot(_ == lang).map(l => col(s"s_$l"))
      when(col(s"s_$lang") >= greatest(others: _*), lang).otherwise(els)
    }
    withScores.withColumn("pred_lang", pred)
  }

  /** Winnowing-style document fingerprint: lexicographic min of md5
    * over all character n-grams — stable under content moves, cheap,
    * portable (same hex in any engine). */
  def fingerprint(text: Column, n: Int = 8): Column =
    array_min(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => md5(text.substr(i, lit(n)))))

  /** BM25 retrieval scoring (Robertson-Walker Okapi, the classic
    * k1/b formulation) of every corpus doc against a bag-of-terms
    * query — full-text retrieval over the corpus at rest (dataset
    * search, curation-time "find docs about X"), complementing the
    * embedding-side ANN operators.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N−df+0.5)/(df+0.5) + 1) — the Lucene-style
    * always-positive variant.
    *
    * Scale shape: ONE (doc, term) aggregate over the corpus filtered
    * to the query terms map-side (membership compiles to InSet's O(1)
    * hash probe — the corpus explodes only matching tokens), a df
    * aggregate at
    * query-term cardinality broadcast back, and a per-doc sum. The
    * corpus shuffles (doc, term) rows for matching terms only.
    *
    * Engine-portability: same split as [[lmScore]] — `ln` is libm
    * territory, so `score` is spec-checked against closed forms and
    * the q80 gate pins the exact integer surface (tf, df, dl) plus
    * N/avgdl via the portable signature.
    *
    * @return id, n_terms (matched query terms), sig (md5-fold of
    *         every (term, tf, df) triple + dl), dl (doc length),
    *         score (0.0 for docs matching no term)
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct
    val toks = df.select(col(idCol).as("id"), wsTokens(lower(col(textCol))).as("tk"))
      .select(col("id"), size(col("tk")).as("dl"), col("tk"))
    val nd = toks.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    val tf = toks
      .select(col("id"), col("dl"),
        // isInCollection compiles to InSet's O(1) hash probe past the
        // optimizer threshold (the blocklist shape) — a long query
        // costs O(1) per token, not a linear array_contains scan
        explode(filter(col("tk"), t => t.isInCollection(terms))).as("t"))
      .groupBy(col("id"), col("dl"), col("t")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val h = conv(substring(md5(concat_ws(":", col("t"), col("tf"), col("df"))), 1, 15), 16, 10)
      .cast("long")
    val scored = tf.join(broadcast(dfreq), "t").crossJoin(broadcast(nd))
      .withColumn("idf",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n").cast("double"))
      .withColumn("s", col("idf") * (col("tf") * lit(k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    val perDoc = scored.groupBy(col("id")).agg(
      count(lit(1)).as("n_terms"),
      sum(pmod(h, lit(1000000000000L))).as("sig"),
      sum(col("s")).as("score"))
    toks.select(col("id"), col("dl").cast("long").as("dl"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("sig"), lit(0L)).as("sig"),
        col("dl"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Approximate heavy hitters with a VERIFIED error envelope: the
    * top-k corpus tokens by exact occurrence count, each annotated
    * with whether a count-min sketch's estimate respects the CMS
    * guarantees (estimate >= true count always; estimate <= true +
    * eps·N with the configured confidence). The q64x discipline
    * applied to the third classic sketch: counts themselves are exact
    * and hash-checked, the sketch's envelope becomes booleans the
    * oracle states TRUE.
    *
    * Scale shape: the CMS is MERGEABLE — partial sketches build
    * map-side and add counterwise (commutative, so parallelism
    * doesn't change the result for a fixed seed), constant bytes per
    * partition regardless of corpus size. At 100 TB a deployment
    * keeps the sketch plus per-partition candidate heaps instead of
    * the exact token groupBy — which here rides along as the
    * verification surface. The top-k table is driver-resident by
    * construction (k rows).
    */
  def heavyHitters(df: DataFrame, idCol: String, textCol: String, k: Int = 20,
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // three consumers (total count, CMS build, exact groupBy) read the
    // exploded tokens — materialize once rather than re-tokenizing the
    // corpus three times (the gramDocs/trainKmeans discipline)
    val toks = df.select(col(idCol).as("id"),
        explode(wsTokens(lower(col(textCol)))).as("t"))
      .localCheckpoint()
    val exact = toks.groupBy(col("t").as("token"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("id")).as("ndocs"))
    val total = toks.count()
    val sketch = toks.stat.countMinSketch("t", eps, confidence, seed)
    val margin = math.ceil(eps * total).toLong
    val top = exact.orderBy(col("cnt").desc, col("token")).limit(k).collect()
    top.toSeq.map { r =>
      val token = r.getString(0); val cnt = r.getLong(1); val ndocs = r.getLong(2)
      val est = sketch.estimateCount(token)
      (token, cnt, ndocs, est >= cnt, est <= cnt + margin)
    }.toDF("token", "cnt", "ndocs", "lower_ok", "upper_ok")
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Skip-gram co-occurrence statistics (the GloVe/word2vec/PPMI
    * preprocessing pass): symmetric-window (token, context) counts
    * over the corpus, joined with unigram counts — the integer
    * surface from which PMI/PPMI and co-occurrence matrices derive.
    * PMI itself (ln(n_wc·N / (n_w·n_c))) is libm territory, so the
    * q59/q72 split applies: counts are the gated surface, the float
    * lives in spec-land via [[pmiOf]].
    *
    * Scale shape: pair generation is PURE MAP-SIDE (per-row nested
    * transform over the token array — no self-join, no shuffle of
    * positions); the corpus shuffles once keyed by (w, c) for the
    * pair aggregate and once by token for unigrams, both with
    * map-side partial combine. The unigram table joins (never
    * broadcast — vocabulary scales with the corpus). Common-token
    * blowup is bounded by the window: exactly
    * min(2·window, len-1) contexts per position, corpus-linear.
    *
    * @return w, c, n_wc, n_w, n_c, n (total pair count) for pairs
    *         with n_wc >= minCount, ordered (n_wc desc, w, c), top
    *         `k` rows
    */
  def cooccur(df: DataFrame, idCol: String, textCol: String,
              window: Int = 2, minCount: Long = 2, k: Int = 100): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val tk = wsTokens(lower(col(textCol)))
    val prs = df.select(col(idCol).as("id"), tk.as("tk"))
      .select(explode(flatten(transform(sequence(lit(1), size(col("tk"))), i =>
        transform(
          filter(sequence(greatest(i - window, lit(1)),
            least(i + window, size(col("tk")))), j => j =!= i),
          j => struct(element_at(col("tk"), i).as("w"),
            element_at(col("tk"), j).as("c")))))).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
    val pairCnt = prs.groupBy(col("w"), col("c")).agg(count(lit(1)).as("n_wc"))
    val uni = prs.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = pairCnt.agg(sum(col("n_wc")).as("n"))
    pairCnt
      .join(uni, Seq("w"))
      .join(uni.select(col("w").as("c"), col("n_w").as("n_c")), Seq("c"))
      .crossJoin(total)
      .filter(col("n_wc") >= minCount)
      .orderBy(col("n_wc").desc, col("w"), col("c")).limit(k)
      .select(col("w"), col("c"), col("n_wc"), col("n_w"), col("n_c"), col("n"))
  }

  /** The PMI of a [[cooccur]] row — the float the gate deliberately
    * leaves to spec-land. Unigram normalization follows the PPMI
    * convention of counting each token's appearances AS A CENTER
    * (n_w over pair emissions / n), so probabilities sum to 1. */
  def pmiOf(nWc: Column, nW: Column, nC: Column, n: Column): Column =
    log((nWc.cast("double") * n.cast("double")) /
      (nW.cast("double") * nC.cast("double")))

  /** The Gopher rules' 8-stopword set (Rae et al. 2021, app. A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher document-quality rules (Rae et al. 2021, MassiveWeb
    * filtering, Appendix A1.1) — the published threshold bundle most
    * LLM curation stacks start from. Per doc: word count in
    * [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    * ('#' or '...') < 0.1, >80% of words contain an alphabetic
    * character, and >= 2 distinct stopwords from the 8-word list
    * (the "real prose" test). Line-shape rules (bullet/ellipsis
    * line fractions) apply to multi-line documents and are the
    * caller's business at line granularity.
    *
    * Entirely map-side (no shuffle at any corpus size); every ratio
    * divides exact integers, so the doubles are IEEE-exact and
    * engine-portable.
    *
    * @return id, n_words, mean_wlen, symbol_ratio, alpha_frac,
    *         n_stopwords (distinct hits), passes
    */
  def gopherFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = wsTokens(col(textCol))
    val sw = array(GopherStopwords.map(lit): _*)
    df.select(col(idCol).as("id"), tk.as("tk"),
        size(regexp_extract_all(col(textCol), lit("#|\\.\\.\\."), lit(0)))
          .as("n_sym"))
      .select(col("id"),
        size(col("tk")).cast("long").as("n_words"),
        aggregate(col("tk"), lit(0L), (acc, w) => acc + length(w)).as("sum_len"),
        size(filter(col("tk"), w => w.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
        size(array_intersect(transform(col("tk"), w => lower(w)), sw))
          .cast("long").as("n_stopwords"),
        col("n_sym").cast("long").as("n_sym"))
      .select(col("id"), col("n_words"),
        when(col("n_words") > 0,
          col("sum_len").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("mean_wlen"),
        when(col("n_words") > 0,
          col("n_sym").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("symbol_ratio"),
        when(col("n_words") > 0,
          col("n_alpha").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("alpha_frac"),
        col("n_stopwords"))
      .withColumn("passes",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0 &&
        col("symbol_ratio") < 0.1 &&
        col("alpha_frac") > 0.8 &&
        col("n_stopwords") >= 2)
  }

  /** C4-style blocklist filter (Raffel et al. 2020, §2.2: drop any
    * page containing a word from a blocklist — C4 also drops docs
    * containing "lorem ipsum" or a curly brace). Token-exact matching
    * on the lowercased whitespace tokens; phrase and substring rules
    * are a caller-side `rlike` away and deliberately not conflated
    * with the token gate here.
    *
    * Entirely map-side (no shuffle at any corpus size). Membership
    * compiles to Catalyst's `InSet` hash lookup once the list passes
    * the optimizer's In→InSet threshold, so a realistic few-hundred
    *-term list costs O(1) per token, not a linear scan.
    *
    * @return id, n_blocked (total blocklisted-token occurrences),
    *         n_terms_hit (distinct list terms present), keep
    *         (n_blocked == 0 — C4 drops on ANY hit)
    */
  def blocklist(df: DataFrame, idCol: String, textCol: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "blocklist: empty term list")
    val t = terms.map(_.toLowerCase).distinct
    val toks = wsTokens(lower(col(textCol)))
    val blocked = size(filter(toks, w => w.isInCollection(t)))
    df.select(col(idCol).as("id"),
      blocked.as("n_blocked"),
      size(array_intersect(array_distinct(toks),
        array(t.map(lit): _*))).as("n_terms_hit"),
      (blocked === 0).as("keep"))
  }

  /** C4 LINE-level cleaning (Raffel et al. 2020, §2.2 — the rules the
    * doc-level q74/q86 gates don't cover): a line is RETAINED iff it
    *  - ends in a terminal punctuation mark (period, exclamation
    *    mark, question mark, or end quotation mark),
    *  - has at least `minWords` whitespace words, and
    *  - does not contain the word "javascript" (case-insensitive) —
    * and the PAGE is kept only if at least 3 lines survive (C4's
    * "fewer than 3 sentences" drop, applied at retained-line
    * granularity). The curly-brace / lorem-ipsum / blocklist page
    * rules are [[blocklist]]'s job and deliberately not duplicated.
    *
    * Entirely map-side (split + filter + joins of the retained lines
    * — no shuffle at any corpus size); the cleaned text is
    * byte-exact, so the gate restates it verbatim.
    *
    * @return id, n_lines, n_kept, keep (n_kept >= 3), clean_text
    *         (retained lines joined by newline; empty when none)
    */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 5): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
      size(filter(split(l, " "), w => length(w) > 0)) >= minWords &&
      !lower(l).contains("javascript"))
    df.select(col(idCol).as("id"), lines.as("ls"), kept.as("ks"))
      .select(col("id"),
        size(col("ls")).as("n_lines"),
        size(col("ks")).as("n_kept"),
        (size(col("ks")) >= 3).as("keep"),
        concat_ws("\n", col("ks")).as("clean_text"))
  }

  /** Gopher WITHIN-DOC duplicate-line statistics (Rae et al. 2021,
    * App. A1.1's repetition rules at line granularity — the
    * counterpart of [[repetitionScore]]'s n-gram windows): the
    * fraction of a doc's lines that are repeats of an earlier line,
    * by line count and by character mass. Gopher drops docs with
    * duplicate-line fraction > 0.30 or duplicate-line character
    * fraction > 0.20; thresholds are the caller's `when` — this is
    * the exact integer surface.
    *
    * Entirely map-side; every ratio divides exact integers.
    *
    * @return id, n_lines, n_dup_lines (occurrences beyond each
    *         line's first), dup_line_frac, n_chars (total line
    *         chars), n_dup_chars (chars of those repeat occurrences),
    *         dup_char_frac (0.0 for line-less docs)
    */
  def lineRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = filter(split(col(textCol), "\n"), l => length(l) > 0)
    val sumLen = (xs: Column) =>
      aggregate(xs, lit(0L), (acc, l) => acc + length(l))
    df.select(col(idCol).as("id"), lines.as("ls"),
        array_distinct(lines).as("ds"))
      .select(col("id"),
        size(col("ls")).cast("long").as("n_lines"),
        (size(col("ls")) - size(col("ds"))).cast("long").as("n_dup_lines"),
        when(size(col("ls")) > 0,
            (size(col("ls")) - size(col("ds"))).cast("double") /
              size(col("ls")).cast("double"))
          .otherwise(lit(0.0)).as("dup_line_frac"),
        sumLen(col("ls")).as("n_chars"),
        (sumLen(col("ls")) - sumLen(col("ds"))).as("n_dup_chars"),
        when(sumLen(col("ls")) > 0,
            (sumLen(col("ls")) - sumLen(col("ds"))).cast("double") /
              sumLen(col("ls")).cast("double"))
          .otherwise(lit(0.0)).as("dup_char_frac"))
  }

  /** Per-doc out-of-vocabulary statistics under a FIXED vocabulary
    * (the tokenizer-coverage metric: how much of each document a
    * truncated vocabulary — e.g. [[vocabTopK]]'s head, or a trained
    * tokenizer's word list — fails to cover). Token-exact whitespace
    * matching; membership compiles to InSet's O(1) probe, entirely
    * map-side (the vocabulary is driver-resident by construction —
    * top-k output or a shipped tokenizer list).
    * @return id, n_tokens, n_oov (occurrences outside vocab),
    *         oov_rate (0.0 for empty docs) */
  def oovStats(df: DataFrame, idCol: String, textCol: String,
               vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "oovStats: empty vocabulary")
    val v = vocab.distinct
    df.select(col(idCol).as("id"), wsTokens(col(textCol)).as("tk"))
      .select(col("id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(filter(col("tk"), t => !t.isInCollection(v))).cast("long").as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0,
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Character-diversity quality surface — the ln-free form of the
    * char-entropy gibberish filter: one codegen'd pass per doc
    * (graftext.CharHistStats) yields code-point count, distinct code
    * points and Σc² over per-code-point counts; `simpson` = Σ(c/n)²
    * (Herfindahl concentration — keyboard mash and repeated-symbol
    * spam spike it, normal prose sits low). Exact int64 surfaces +
    * one IEEE division, so the whole row hash-gates; zero shuffle
    * beyond the caller's ordering (the histogram never leaves the
    * row — the q50 map-side discipline).
    * @return id, n_chars, n_distinct, sum_sq, simpson (0.0 empty) */
  def charDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftext.TextNorm
    df.select(col(idCol).as("id"), TextNorm.charStats(col(textCol)).as("st"))
      .select(col("id"),
        coalesce(col("st.n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("st.n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("st.sum_sq"), lit(0L)).as("sum_sq"))
      .withColumn("simpson",
        when(col("n_chars") > 0,
            col("sum_sq").cast("double") /
              (col("n_chars").cast("double") * col("n_chars").cast("double")))
          .otherwise(lit(0.0)))
  }

  /** Sharded inverted-index construction — the retrieval-index BUILD
    * step [[bm25]] scores against but never materializes. Per
    * (token, doc-shard): shard-local document frequency, term
    * frequency, and the doc-sorted posting list serialized
    * "docId:tf,...". Sharding postings by doc-id residue is the
    * 100 TB design: a hot token's list splits across `shards`
    * bounded rows (global merge = concatenation in shard-then-doc
    * order; global df/tf = sums over shards), so no single reducer
    * ever materializes a corpus-wide posting list. Two shuffles,
    * both bounded by distinct (doc, token): the per-doc tf
    * aggregate, then the shard roll-up whose map-side partials
    * collapse per (token, shard). */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    shards: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(wsTokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("id")).agg(count(lit(1)).as("tf"))
      .withColumn("shard", pmod(col("id"), lit(shards.toLong)))
      .groupBy(col("token"), col("shard"))
      .agg(count(lit(1)).as("doc_freq"),
        sum(col("tf")).as("term_freq"),
        array_join(
          transform(array_sort(collect_list(struct(col("id"), col("tf")))),
            s => concat(s.getField("id").cast("string"), lit(":"),
              s.getField("tf").cast("string"))), ",").as("postings"))

  /** zlib compression-ratio quality signal (the Gopher/RefinedWeb
    * family's compressibility filter): per doc, UTF-8 byte count,
    * DEFLATE-compressed byte count (codegen'd [[org.apache.spark.sql.graftext.DeflateSize]],
    * thread-local Deflater — one map-side pass, zero shuffle), and
    * their ratio. LOW ratio flags templated/repetitive boilerplate,
    * ratio near/above 1 flags high-entropy noise (random strings,
    * encoded binaries); both tails are drop candidates. Spec-bound,
    * not oracle-gated — DEFLATE output length is
    * implementation-defined (see DeflateSize). */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        octet_length(col(textCol)).cast("long").as("n_bytes"),
        org.apache.spark.sql.graftext.TextNorm.deflateLen(col(textCol)).as("deflate_bytes"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
            col("deflate_bytes").cast("double") / col("n_bytes").cast("double"))
          .otherwise(lit(0.0)))

  /** N-gram NOVELTY of a candidate slice against a base corpus — the
    * dataset-iteration metric (how much genuinely new text does an
    * incoming crawl/source add?) that drives keep/drop decisions
    * before paying dedup+training cost on redundant data.
    *
    * Per candidate doc: total gram windows, distinct grams, distinct
    * grams unseen ANYWHERE in the base corpus, and the novel/distinct
    * rate. Gram identity is the hashed space-joined word window
    * ([[graft.operators.Dedup.wordNgrams]] — collision odds 2^-64,
    * the q33/q37 freight discipline: the join carries longs, never
    * gram strings).
    *
    * Scale shape: both sides shingle map-side; the base reduces to
    * ONE distinct-gram-key table (map-side partial distinct), which
    * JOINS back on the hashed key — never broadcast, the base gram
    * vocabulary scales with the corpus; one id-keyed aggregate.
    * Corpus-linear, no pair space — the q37 decontamination shape
    * with the verdict inverted (novelty, not overlap).
    *
    * @return id, n_windows, n_distinct, n_novel, novelty_rate
    *         (0.0 for gram-less docs; every doc in `candidate` kept)
    */
  def ngramNovelty(base: DataFrame, candidate: DataFrame,
                   idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"ngramNovelty: n must be >= 1, got $n")
    import graft.operators.Dedup.wordNgrams
    val candDocs = candidate.select(col(idCol).as("id"),
      wordNgrams(col(textCol), n).as("gs"),
      greatest(size(filter(split(col(textCol), " "), w => length(w) > 0))
        - (n - 1), lit(0)).cast("long").as("n_windows"))
    val candG = candDocs.select(col("id"), explode(col("gs")).as("g"))
    val baseG = base.select(explode(wordNgrams(col(textCol), n)).as("g"))
      .distinct()
      .withColumn("seen", lit(1))
    val counts = candG.join(baseG, Seq("g"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    candDocs.select(col("id"), col("n_windows"))
      .join(counts, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_rate",
        when(col("n_distinct") > 0,
            col("n_novel").cast("double") / col("n_distinct").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Cross-document frequent-line EXCISION (the RefinedWeb/CCNet
    * line-dedup pass: a line appearing in `minDocs`+ distinct
    * documents is boilerplate — nav bars, cookie banners, license
    * headers — and is cut from every document containing it). The
    * line-granularity APPLY step beside [[c4LineClean]]'s per-line
    * rules and q58's shingle accounting.
    *
    * Scale shape: lines explode with their position (map-side), ONE
    * line-keyed count aggregate (map-side partials collapse repeats),
    * the frequency table JOINS back on the line key (never broadcast
    * — line vocabulary scales with the corpus), and the rebuild is
    * one id-keyed aggregate whose groups are doc-length-bounded.
    * Corpus-linear, no pair space — the q58/q68 discipline.
    *
    * @return id, n_lines, n_cut (lines removed), clean_text
    *         (surviving lines in original order, byte-exact)
    */
  def exciseCommonLines(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    val pos = base.select(col("id"),
      posexplode(filter(split(col("__t"), "\n"), l => length(l) > 0)))
      .select(col("id"), col("pos"), col("col").as("line"))
    val freq = pos.groupBy(col("line"))
      .agg(countDistinct(col("id")).as("__nd"))
    val rebuilt = pos.join(freq, Seq("line"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__nd") >= minDocs, 1L).otherwise(0L)).as("n_cut"),
        concat_ws("\n", transform(
          filter(array_sort(collect_list(struct(col("pos"),
            (col("__nd") < minDocs).as("keep"), col("line")))),
            s => s.getField("keep")),
          s => s.getField("line"))).as("clean_text"))
    base.select(col("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * doc by how much more likely its hashed n-gram features are under
    * a TARGET distribution (e.g. curated/high-quality text) than
    * under the raw corpus — then resample by weight (compose with
    * Sampling.weightedSample for the selection step).
    *
    * Features are unigrams + bigrams of the lowercased text, hashed
    * into `buckets` buckets by the portable md5 fold (so an
    * independent engine reproduces bucket ids bit-for-bit); both
    * bag-of-buckets models are add-1 smoothed:
    * p(b) = (c(b) + 1) / (total + buckets), and
    * logw_d = sum over d's feature occurrences of ln pt(b) - ln pr(b).
    *
    * Scale shape: feature explode is map-side; ONE (id, bucket)
    * partial-agg shuffle for per-doc counts; the two bucket tables
    * aggregate to `buckets` rows and BROADCAST back (the target side
    * never joins row-by-row — only its B-sized histogram travels);
    * one per-doc aggregate. Corpus-linear, no pair space, skew-free
    * (bucket cardinality is fixed).
    *
    * Engine-portability: same split as [[lmScore]] — libm `ln`
    * bitpatterns differ across engines, so `logw` is spec territory;
    * the q72 gate pins `sig`, the md5-fold signature of every
    * (bucket, n_db, ct, cr) count quadruple the weight is a function
    * of.
    *
    * @param target the target-distribution sample (same schema cols)
    * @return id, n_feats (feature occurrences), sig (portable
    *         signature), logw (0.0 for featureless docs)
    */
  def importanceWeights(corpus: DataFrame, target: DataFrame,
                        idCol: String, textCol: String,
                        buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // the fused VecGramBuckets kernel hashes unigram+bigram features
    // straight from token bytes (bit-identical bucket ids to the
    // md5-HOF chain, spec-pinned) -- the explode carries longs, never
    // gram strings
    def feats(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"),
          ArrayOps.gramBuckets(wsTokens(lower(col(textCol))), buckets.toLong).as("bs"))
        .select(col("id"), explode(col("bs")).as("b"))
    val docB = feats(corpus).groupBy(col("id"), col("b"))
      .agg(count(lit(1)).as("n"))
    val rawB = docB.groupBy(col("b")).agg(sum(col("n")).as("cr"))
    val tgtB = feats(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val tots = rawB.agg(sum(col("cr")).as("tr"))
      .crossJoin(tgtB.agg(sum(col("ct")).as("tt")))
    val h = conv(substring(md5(concat_ws(":",
      col("b"), col("n"), coalesce(col("ct"), lit(0L)), col("cr"))), 1, 15), 16, 10)
      .cast("long")
    val scored = docB.join(broadcast(rawB), "b")
      .join(broadcast(tgtB), Seq("b"), "left").crossJoin(broadcast(tots))
    val perDoc = scored.groupBy(col("id")).agg(
      sum(col("n")).as("n_feats"),
      sum(pmod(h, lit(1000000000000L))).as("sig"),
      sum(col("n").cast("double") *
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
          (col("tt") + buckets).cast("double")) -
         log((col("cr") + 1).cast("double") /
           (col("tr") + buckets).cast("double")))).as("logw"))
    corpus.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("sig"), lit(0L)).as("sig"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** Trained quality classifier — the CCNet/GPT-3-pipeline component
    * (score every doc with a model TRAINED on a curated-vs-raw
    * label) as a BATCH PERCEPTRON over hashed unigram+bigram count
    * features. Perceptron rather than logistic regression,
    * deliberately: every margin, update and weight is an exact
    * integer (no sigmoid/exp), so training is order-independent,
    * partition-invariant and bit-replayable by a SQL oracle — the
    * q48 BPE discipline applied to model training. A float GD loop
    * would compound libm differences round over round and could
    * gate nothing.
    *
    * Features: the q72/DSIR featurization — lowercased whitespace
    * unigrams + chr(1)-joined bigrams, portable md5-fold into
    * `buckets` buckets — materialized as a per-doc dense count
    * histogram plus a constant bias slot. Rounds: w starts at zero;
    * each round flags docs with y·margin <= 0 and adds
    * sum over flagged docs of y·x to w (the classic batch update,
    * margin-0 docs count as misclassified so round 1 updates on
    * everything).
    *
    * Scale shape: tokens hash straight to bucket ids in one fused
    * kernel (VecGramBuckets — the md5 fold runs over token bytes, no
    * gram strings materialize) and the histogram is one codegen'd
    * bincount pass (VecBincount — O(grams), not O(buckets·grams));
    * the feature frame is checkpointed ONCE (no round re-reads
    * text); each round is
    * one aggregate of buckets+1 integer sums whose map-side partials
    * bound the shuffle at (buckets+1)·partitions longs, plus a
    * driver-side weight update — the k-means loop shape. The margin
    * is a codegen'd integer dot (VecDotLongConst) whose weight vector
    * rides in the codegen references table, so the generated source
    * is identical across rounds and whole-stage codegen COMPILES
    * ONCE for the whole training loop. The corpus never
    * shuffles. Overflow headroom: |w| grows per round by at most the
    * flagged docs' total feature count, so margins stay far inside
    * int64 for any plausible (buckets, iters, corpus) — a 10^12-
    * feature corpus at 5 rounds peaks near 10^13·max_count « 2^63.
    *
    * @param label boolean column over df's columns — the curated
    *              (positive) class, e.g. lang === "en"
    * @return id, y (+1/-1), margin (integer dot under the final
    *         weights), pred (margin > 0)
    */
  def qualityPerceptron(df: DataFrame, idCol: String, textCol: String,
                        label: Column, buckets: Int = 64,
                        iters: Int = 5): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val fx = df.select(col(idCol).as("id"),
        when(label, 1L).otherwise(-1L).as("y"),
        wsTokens(lower(col(textCol))).as("tk"))
      .select(col("id"), col("y"),
        ArrayOps.bincount(
          ArrayOps.gramBuckets(col("tk"), buckets.toLong),
          buckets, bias = true).as("x"))
      .localCheckpoint()
    def marginOf(w: Array[Long]): Column =
      ArrayOps.vecDotLong(col("x"), w)
    var w = Array.fill(buckets + 1)(0L)
    for (_ <- 1 to iters) {
      val upd = fx.withColumn("m", marginOf(w))
        .filter(col("y") * col("m") <= 0)
        .agg(sum(col("y") * element_at(col("x"), 1)).as("u0"),
          (1 to buckets).map(i =>
            sum(col("y") * element_at(col("x"), i + 1)).as(s"u$i")): _*)
        .collect()(0)
      w = Array.tabulate(buckets + 1)(i =>
        w(i) + (if (upd.isNullAt(i)) 0L else upd.getLong(i)))
    }
    fx.select(col("id"), col("y"), marginOf(w).as("margin"))
      .withColumn("pred", col("margin") > 0)
  }

  /** TRAINED language identification — [[qualityPerceptron]]'s
    * machinery lifted to ONE-VS-REST MULTICLASS over hashed
    * CHARACTER n-gram features (the fastText/CCNet lid shape: char
    * grams survive scripts whitespace tokenization butchers; the
    * q52 heuristic stays the zero-training bootstrap). One binary
    * batch perceptron per label, all trained simultaneously: each
    * round computes every class's integer margin (C codegen'd
    * integer dots over the SAME cached histogram) and folds ALL
    * C·(buckets+1) flagged-update sums into ONE aggregate — per
    * round the corpus is read once however many classes exist.
    * Every margin/update/weight is an exact integer (the q87
    * discipline), so a SQL oracle replays the full multiclass
    * trajectory bit-for-bit.
    *
    * Scale shape: featurize = one fused char-gram hash +
    * one bincount pass, checkpointed ONCE; each round shuffles
    * C·(buckets+1)·partitions longs of map-side partials (classes
    * and buckets are fixed — corpus-size-independent) and the
    * corpus never shuffles; final margins are C more map-side dots.
    * Class count is bounded by the label domain (languages), so the
    * C-way explode of the output is a constant fan-out.
    *
    * @param labelCol string label column (the language)
    * @return (id, cls, margin, is_pred) — the FULL final margin
    *         matrix, one row per (doc, class); is_pred marks the
    *         argmax row (ties to the lexicographically smaller
    *         class — pinned). Rows with a NULL label train nothing
    *         but are still scored (their y is −1 for every class).
    */
  def langIdPerceptron(df: DataFrame, idCol: String, textCol: String,
                       labelCol: String, gramLen: Int = 3,
                       buckets: Int = 64, iters: Int = 3): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    val fx = df.select(col(idCol).as("id"), col(labelCol).as("lang"),
        ArrayOps.bincount(
          ArrayOps.charGramBuckets(lower(col(textCol)), gramLen, buckets.toLong),
          buckets, bias = true).as("x"))
      .localCheckpoint()
    // Below a feature-matrix size threshold the training replay runs
    // ON THE DRIVER over one collect of the checkpointed features
    // (guide §1.2/§5 — the Dorling.run small-n discipline): each
    // distributed round is ONE tiny aggregate job whose wall is
    // scheduling overhead (~0.8 s/round measured at 2.5K docs × 65
    // buckets while the arithmetic itself is microseconds), so an
    // iters-round loop pays iters job round-trips for nothing. The
    // integer update rule is replayed bit-identically (long sums
    // commute exactly); the margin matrix and argmax still compute
    // distributed from the same checkpoint. Above the threshold —
    // feature matrices that no longer comfortably fit one driver —
    // the one-aggregate-per-round distributed loop below is the path.
    val driverCells = 4L << 20
    val nRows = fx.count()
    val (classes, ws) =
      if (nRows * (buckets + 1) <= driverCells)
        driverTrain(fx, buckets, iters)
      else distributedTrain(fx, buckets, iters)
    val margins = fx.select(col("id") +:
      classes.map(c => ArrayOps.vecDotLong(col("x"), ws(c)).as(s"m_$c")): _*)
    val stacked = margins.select(col("id"), explode(array(classes.map(c =>
      struct(lit(c).as("cls"), col(s"m_$c").as("margin"))): _*)).as("e"))
      .select(col("id"), col("e.cls").as("cls"), col("e.margin").as("margin"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("margin").desc, col("cls"))
    stacked.withColumn("is_pred", (row_number().over(w) === 1).cast("int"))
  }

  /** The small-n training replay ON THE DRIVER (guide §1.2/§5 — the
    * Dorling.run discipline): one collect of the checkpointed
    * features, then the exact integer update rule per round — long
    * sums commute, so weights are bit-identical to the distributed
    * aggregate's. Rounds cost microseconds where each distributed
    * round is a full job round-trip (~0.8 s measured at 2.5K docs ×
    * 65 buckets). */
  private def driverTrain(fx: DataFrame, buckets: Int, iters: Int)
      : (Seq[String], collection.Map[String, Array[Long]]) = {
    val data = fx.select(col("lang"), col("x")).collect().map(r =>
      (if (r.isNullAt(0)) null else r.getString(0),
        r.getSeq[Long](1).toArray))
    val cls = data.map(_._1).filter(_ != null).distinct.sorted.toSeq
    require(cls.nonEmpty, "langIdPerceptron: no non-null labels")
    val ws = scala.collection.mutable.Map(
      cls.map(c => c -> Array.fill(buckets + 1)(0L)): _*)
    for (_ <- 1 to iters) {
      val upd = cls.map(c => c -> new Array[Long](buckets + 1)).toMap
      data.foreach { case (lang, x) =>
        cls.foreach { c =>
          // y = when(lang === c, 1).otherwise(-1): a NULL label is -1
          val y = if (lang != null && lang == c) 1L else -1L
          val wc = ws(c)
          var dot = 0L
          var i = 0
          val n = math.min(x.length, wc.length)
          while (i < n) { dot += x(i) * wc(i); i += 1 }
          if (y * dot <= 0L) {
            val u = upd(c)
            var j = 0
            val m = math.min(x.length, u.length)
            while (j < m) { u(j) += y * x(j); j += 1 }
          }
        }
      }
      cls.foreach { c =>
        val wc = ws(c)
        val u = upd(c)
        var i = 0
        while (i < wc.length) { wc(i) += u(i); i += 1 }
      }
    }
    (cls, ws)
  }

  /** The distributed training loop — one aggregate job per round:
    * every class's flagged update sums ride the same map-side
    * partials (C·(buckets+1) columns, one pass). The per-class
    * margin dot is HOISTED into a projection first — each class's
    * (buckets+1)-term dot is evaluated ONCE per row, and the
    * C·(buckets+1) sums reference a boolean flag column instead of
    * each carrying its own copy of the dot (pre-hoist the expression
    * tree held C·(buckets+1) dots and q158 ran ~7× slower than its
    * C=1 twin q87). */
  private def distributedTrain(fx: DataFrame, buckets: Int, iters: Int)
      : (Seq[String], collection.Map[String, Array[Long]]) = {
    val classes = fx.select(col("lang")).filter(col("lang").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(classes.nonEmpty, "langIdPerceptron: no non-null labels")
    val ws = scala.collection.mutable.Map(
      classes.map(c => c -> Array.fill(buckets + 1)(0L)): _*)
    def yOf(c: String): Column =
      when(col("lang") === c, 1L).otherwise(-1L)
    for (_ <- 1 to iters) {
      val flaggedRows = fx.select(col("x") +: classes.flatMap { c =>
        Seq(yOf(c).as(s"y_$c"),
          (yOf(c) * ArrayOps.vecDotLong(col("x"), ws(c)) <= 0).as(s"f_$c"))
      }: _*)
      val aggCols = classes.flatMap { c =>
        (0 to buckets).map(i =>
          sum(when(col(s"f_$c"), col(s"y_$c") * element_at(col("x"), i + 1))
            .otherwise(0L)).as(s"u_${c}_$i"))
      }
      val upd = flaggedRows.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      classes.zipWithIndex.foreach { case (c, ci) =>
        val base = ci * (buckets + 1)
        ws(c) = Array.tabulate(buckets + 1)(i =>
          ws(c)(i) + (if (upd.isNullAt(base + i)) 0L else upd.getLong(base + i)))
      }
    }
    (classes, ws)
  }

  /** AUC of an integer classifier score via the Mann–Whitney rank
    * statistic — the evaluation step that closes the train→score→
    * evaluate loop ([[qualityPerceptron]]'s integer margins make it
    * EXACT: tied scores get average ranks, which live on the 1/2
    * grid, so `r2_pos` = twice the positive rank sum is an exact
    * int64 and AUC = (r2_pos − n_pos(n_pos+1)) / (2·n_pos·n_neg) is
    * one IEEE division — bit-portable, no approximation anywhere).
    *
    * Scale shape: ONE (score → n_pos, n_neg) histogram aggregate
    * (map-side partials collapse the corpus; the shuffle carries
    * distinct scores only), then the rank prefix runs over the
    * HISTOGRAM — cardinality = distinct integer margins, orders of
    * magnitude below the corpus (bounded by the reachable weight·
    * feature dot products, in practice thousands). A corpus whose
    * margin cardinality itself outgrew one reducer would reuse the
    * q46 banded two-phase prefix over margin bands; at that point
    * the histogram rows, not the docs, are the data. Final reduce
    * is a 1-row aggregate.
    *
    * @param yCol ±1 label column; @param scoreCol integer score
    * @return one row: n_pos, n_neg, r2_pos (2× positive rank sum),
    *         auc (0.5 when either class is empty — the convention
    *         that an undefined ranking carries no signal)
    */
  def marginAuc(df: DataFrame, yCol: String, scoreCol: String): DataFrame = {
    val h = df.groupBy(col(scoreCol).cast("long").as("m"))
      .agg(sum(when(col(yCol) === 1, 1L).otherwise(0L)).as("np"),
        sum(when(col(yCol) === -1, 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(col("m")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = h.withColumn("cum_below",
      coalesce(sum(col("np") + col("nn")).over(w), lit(0L)))
    // ties at score m occupy ranks cum_below+1 .. cum_below+np+nn;
    // average rank = cum_below + (np+nn+1)/2, so each positive
    // contributes 2·cum_below + np + nn + 1 to r2_pos — integer.
    ranked.agg(
        sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * (lit(2L) * col("cum_below") + col("np") + col("nn") + 1))
          .as("r2_pos"))
      .select(
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        coalesce(col("r2_pos"), lit(0L)).as("r2_pos"))
      .withColumn("auc",
        when(col("n_pos") > 0 && col("n_neg") > 0,
            (col("r2_pos") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
              (lit(2L) * col("n_pos") * col("n_neg")).cast("double"))
          .otherwise(lit(0.5)))
  }

  /** CCNet-style corpus language-model scoring: train an add-1
    * smoothed bigram LM on the corpus itself, then score every doc's
    * average negative log-likelihood under it — the classic
    * perplexity quality filter (docs far from the corpus
    * distribution score high).
    *
    * p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V): corpus bigram/unigram
    * occurrence counts and vocabulary size V (distinct unigrams).
    *
    * Scale shape: bigram arrays are built map-side (zip of the token
    * array with itself shifted), then ONE unigram-keyed and ONE
    * bigram-keyed count aggregate (map-side partials collapse
    * repeats), two count-table equi-joins back onto the exploded
    * bigrams, and a per-doc aggregate — all shuffles are keyed on
    * tokens/bigrams/doc ids, no per-key pair space anywhere, so the
    * plan is corpus-linear. V rides along as a 1-row aggregate that
    * Catalyst broadcasts.
    *
    * Engine-portability: `nll` sums `ln` terms, and libm bitpatterns
    * differ across engines (measured: 3/14400 inputs differ between
    * JVM `Math.log` and DuckDB `ln`), so `nll` is NOT hash-gateable.
    * What q59 gates instead is `sig` — the per-doc sum of portable
    * md5-fold hashes of (bigram, c2, c1) — which pins every count
    * the score is a function of, exactly; `nll` itself is
    * spec-checked against hand-computed values.
    *
    * @return id, n_bigrams, n_hapax (bigrams unique in the corpus),
    *         v (vocabulary size), sig (portable signature: sum of
    *         60-bit md5 folds mod 1e12 — each term < 1e12, so the
    *         per-doc sum stays inside int64 on any engine for docs up
    *         to ~9.2M bigrams (~18M whitespace tokens); longer single
    *         documents would need a second mod on the sum),
    *         nll (0.0 for docs with < 2 tokens)
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sep = "\u0001" // never inside a whitespace token
    val toks = df.select(col(idCol).as("id"), wsTokens(lower(col(textCol))).as("tk"))
    val nBg = greatest(size(col("tk")) - 1, lit(0))
    val bg = toks.select(col("id"),
        explode(zip_with(
          slice(col("tk"), lit(1), nBg), slice(col("tk"), lit(2), nBg),
          (a, b) => struct(a.as("w1"), concat(a, lit(sep), b).as("bgk")))).as("p"))
      .select(col("id"), col("p.bgk").as("bgk"), col("p.w1").as("w1"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vTbl = uni.agg(count(lit(1)).as("v"))
    val bgc = bg.groupBy(col("bgk")).agg(count(lit(1)).as("c2"))
    val scored = bg.join(bgc, "bgk").join(uni, col("w1") === col("w")).crossJoin(vTbl)
    val h = conv(substring(md5(concat_ws(":", col("bgk"), col("c2"), col("c1"))), 1, 15), 16, 10)
      .cast("long")
    val perDoc = scored.groupBy(col("id")).agg(
      count(lit(1)).as("n_bigrams"),
      sum(when(col("c2") === 1, 1L).otherwise(0L)).as("n_hapax"),
      sum(pmod(h, lit(1000000000000L))).as("sig"),
      (-avg(log((col("c2") + 1).cast("double") / (col("c1") + col("v")).cast("double"))))
        .as("nll"))
    df.select(col(idCol).as("id")).crossJoin(vTbl)
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        col("v"),
        coalesce(col("sig"), lit(0L)).as("sig"),
        coalesce(col("nll"), lit(0.0)).as("nll"))
  }
}
