package graft.textstats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §7.5): language ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions — codegen'd, no
  * UDFs in the hot path, and every op is per-row (embarrassingly
  * parallel; no shuffle at all).
  */
object TextStats {

  /** Tiny per-language function-word lists for the n-gram/stopword
    * heuristic language detector. Public-knowledge word lists.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "que", "es", "una", "por", "con", "para"))

  // the text tier's one shared tokenizer — BM25/dedup/quality stay in
  // lockstep by construction
  private def tokens(c: Column): Column =
    graft.text.TextPipeline.tokenize(c)

  /** Language-ID heuristic: fraction of tokens that are function words of
    * each candidate language; argmax with a deterministic tiebreak (score
    * desc, language asc). Emits (lang, score).
    */
  def langId(c: Column): Column = {
    val scores = graft.functions.TextFunctions.langMarkerScores(tokens(c),
      langMarkers)
    // struct sort is lexicographic, so a desc sort on (score, lang)
    // would break ties toward the LARGEST language code; carrying the
    // NEGATED alphabetical rank between score and lang makes the desc
    // sort pick the smallest lang on ties — the documented
    // (score desc, language asc) contract
    val scored = langMarkers.keys.toSeq.sorted.zipWithIndex.map {
      case (lang, i) =>
        struct(scores.getItem(i).as("score"), lit(-i).as("__nrank"),
          lit(lang).as("lang"))
    }
    val pick = sort_array(array(scored: _*), asc = false).getItem(0)
    struct(pick.getField("score").as("score"),
      pick.getField("lang").as("lang"))
  }

  /** Quality-scoring features: char/word counts, mean word length,
    * punctuation / digit / stopword / uppercase ratios, plus a composite
    * [0,1] score. Thresholds follow common published heuristics (e.g.
    * C4/Gopher-style rules) simplified to ratio features.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    val toks = tokens(c)
    val nChars = length(c).cast("double")
    val nTokens = size(toks).cast("double")
    val safeTokens = greatest(nTokens, lit(1.0))
    val punct = length(regexp_replace(c, "[^.,;:!?]", "")).cast("double")
    val digits = length(regexp_replace(c, "[^0-9]", "")).cast("double")
    val upper = length(regexp_replace(c, "[^A-Z]", "")).cast("double")
    val stops = size(filter(toks, t => t.isInCollection(langMarkers("en")))).cast("double")
    df.withColumn("n_chars_calc", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_word_len", nChars / safeTokens)
      .withColumn("punct_ratio", punct / greatest(nChars, lit(1.0)))
      .withColumn("digit_ratio", digits / greatest(nChars, lit(1.0)))
      .withColumn("upper_ratio", upper / greatest(nChars, lit(1.0)))
      .withColumn("stopword_ratio", stops / safeTokens)
      .withColumn("quality_score",
        when(nTokens < 5, 0.0).otherwise(
          lit(1.0)
            - least(col("digit_ratio") * 2, lit(0.5))
            - least(col("punct_ratio") * 2, lit(0.3))
            + least(col("stopword_ratio"), lit(0.2))))
  }

  /** Gopher document-level quality rules (Rae et al. 2021 §A1.1) as an
    * explicit keep/reject filter with a per-rule REASONS bitmask — the
    * published-thresholds composite a curation run actually gates on,
    * versus [[qualityFeatures]]' soft score. The word-stream-applicable
    * subset (the paper's bullet/ellipsis LINE rules need line structure
    * a flat word stream lacks — documented, not silently faked):
    *
    *  - bit 1: word count outside [minWords, maxWords]
    *  - bit 2: mean word length outside [minMeanLen, maxMeanLen]
    *  - bit 4: fraction of words containing an alphabetic char below
    *    minAlphaFrac
    *  - bit 8: symbol-to-word ratio ('#' chars + '...' runs) above
    *    maxSymbolRatio
    *  - bit 16: fewer than minStopHits DISTINCT stop words present
    *
    * `keep` = reasons == 0. Everything derives from integer counts and
    * single divisions in one scan — order-free, bit-stable,
    * cross-engine-pinnable; the length-range tests compare integers
    * (sum vs bound·n), never floats. Empty documents fail bits
    * 1|2|4|16 (no evidence ≠ passing).
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Int = 3, maxMeanLen: Int = 10,
      minAlphaFrac: Double = 0.8, maxSymbolRatio: Double = 0.1,
      stopWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minStopHits: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    require(minMeanLen >= 1 && maxMeanLen >= minMeanLen,
      s"need 1 <= minMeanLen <= maxMeanLen, got [$minMeanLen, $maxMeanLen]")
    require(stopWords.nonEmpty && minStopHits >= 1,
      "need a non-empty stop list and minStopHits >= 1")
    val c = col(textCol)
    val toks = tokens(c)
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, v) => a + v)
    val alphaW = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val hashes = length(regexp_replace(c, "[^#]", "")).cast("long")
    val dots = ((length(c) - length(replace(c, lit("..."), lit("")))) /
      lit(3)).cast("long")
    val stopHits = size(array_intersect(array_distinct(toks),
      array(stopWords.map(lit): _*))).cast("long")
    val wordsBad = n < minWords.toLong || n > maxWords.toLong
    // integer cross-compare: mean in [lo, hi] <=> lo*n <= sum <= hi*n
    val meanBad = n === 0L || sumLen < lit(minMeanLen.toLong) * n ||
      sumLen > lit(maxMeanLen.toLong) * n
    val alphaBad = n === 0L ||
      alphaW.cast("double") < lit(minAlphaFrac) * n.cast("double")
    val symBad = n > 0L &&
      (hashes + dots).cast("double") > lit(maxSymbolRatio) * n.cast("double")
    val stopBad = stopHits < minStopHits.toLong
    val reasons = when(wordsBad, 1L).otherwise(0L) +
      when(meanBad, 2L).otherwise(0L) +
      when(alphaBad, 4L).otherwise(0L) +
      when(symBad, 8L).otherwise(0L) +
      when(stopBad, 16L).otherwise(0L)
    df.select(col(idCol), n.as("n_words"),
      when(n > 0L, sumLen.cast("double") / n.cast("double"))
        .as("mean_word_len"),
      when(n > 0L, alphaW.cast("double") / n.cast("double"))
        .as("alpha_frac"),
      when(n > 0L, (hashes + dots).cast("double") / n.cast("double"))
        .as("symbol_ratio"),
      stopHits.as("n_stop_hits"),
      reasons.as("reasons"),
      (reasons === 0L).as("keep"))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: word-piece regex `\p{L}+|\p{N}+|[^\p{L}\p{N}\s]`
    * matches (letters runs, digit runs, single punctuation) — a cheap,
    * deterministic proxy for tokenizer counts at scale.
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Canonical-form document fingerprint: lowercase, strip non-alnum,
    * collapse whitespace, md5 — identical normalization is expressible in
    * any engine, so exact dedup on the fingerprint is portable.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(trim(regexp_replace(lower(c), "[^a-z0-9\\s]", "")),
      "\\s+", " "))

  /** [[fingerprint]] with Unicode NFC composition FIRST: composed
    * (U+00E9) and decomposed (e + U+0301) spellings of the same text
    * canonicalize identically — without it the ASCII strip deletes the
    * composed form's 'é' but keeps the decomposed form's base 'e',
    * so the two fingerprints diverge and exact dedup misses the pair
    * on a real multilingual crawl. DuckDB twin: `nfc_normalize`.
    */
  def fingerprintNfc(c: Column): Column =
    fingerprint(graft.functions.UnicodeFunctions.nfc(c))

  /** Tokens of the canonical form above — the token basis for shingling /
    * minhash / simhash so near-dup detection ignores case & punctuation.
    */
  def fingerprintTokens(c: Column): Column =
    filter(split(trim(regexp_replace(lower(c), "[^a-z0-9\\s]", "")), "\\s+"),
      t => length(t) > 0)

  /** TF-IDF over a document table (SURVEY.md §7.5 token/count analytics):
    * tf = term count / doc length (exact integer ratio), df = documents
    * containing the term, idf = ln(N / df), tfidf = tf · idf. Two hash
    * aggregations (term-per-doc, term-df) + one broadcast-able join —
    * the canonical map-side-combinable shape; no collect. N rides as a
    * one-row scalar aggregate broadcast back via cross join (the
    * lastYearsGlobal pattern) instead of an eager df.count() — one job,
    * not two, and no driver round-trip in the lineage.
    */
  def tfidf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val corpusN = df.agg(count(lit(1)).cast("double").as("__corpus_n"))
    // no widen on the tokenize scan: r17 paired A/Bs (byte-sized widen,
    // tmpfs scratch) split one-win-one-loss — not taken
    val terms = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
    val perDoc = terms.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("term_count"))
    // doc_len = Σ term_count per doc — derived from perDoc instead of a
    // second corpus-sized explode+shuffle of the raw token stream: the
    // (doc, term) table is the smaller input (ties collapse) and its
    // exchange already exists (guide §2.4 — share exchanges, don't
    // re-derive). Identical value by definition.
    val docLen = perDoc.groupBy("doc_id")
      .agg(sum(col("term_count")).as("doc_len"))
    val docFreq = perDoc.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    perDoc.join(docLen, Seq("doc_id"))
      .join(docFreq, Seq("token"))
      .crossJoin(broadcast(corpusN))
      .withColumn("tf", col("term_count").cast("double") / col("doc_len"))
      .withColumn("idf", log(col("__corpus_n") / col("doc_freq")))
      .withColumn("tfidf", col("tf") * col("idf"))
      .drop("__corpus_n")
  }

  /** Corpus-trained bigram language-model score — the CCNet-style
    * quality signal (Wenzek et al. 2020 score documents by LM perplexity
    * and keep the well-modeled ones; a corpus-trained n-gram LM is the
    * classic engine-portable stand-in for the external LM). Counts are
    * TRAINED on the deterministic train split of the corpus
    * (hash-of-id bucket < trainBuckets of 100, the same discipline as
    * [[graft.ops.Sampling.hashSplit]]) and every document is SCORED
    * against them, so held-out documents genuinely exercise the backoff:
    *
    *   score(doc) = (1/B) · Σ_i log p(w_{i+1} | w_i)
    *   p(w2|w1)   = c(w1 w2) / c(w1)                 seen bigram
    *              = 0.4 · (c(w2) + 1) / (T + V)      backoff (stupid
    *                backoff with an add-one floor so unseen unigrams
    *                score finitely; T = train tokens, V = train vocab)
    *
    * Scale shape: two integer-count aggregations (unigrams, bigrams —
    * map-side combinable, order-free), equi-joins of the per-position
    * bigram stream against them, then ONE per-document fold of the
    * log-probs in position order (sorted inside the row), so the float
    * sum has a fixed order — deterministic on any partitioning and
    * oracle-checkable. Nothing collects; the count tables shuffle on
    * their natural keys.
    *
    * Returns one row per input document: (id, n_bigrams, lm_score),
    * lm_score null for documents with fewer than two tokens.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      trainBuckets: Int = 80): DataFrame = {
    // 0 would train on nothing (T = sum over empty = null → every score
    // null); 100+ scores nothing held-out. Both are misconfigurations,
    // not models.
    require(trainBuckets >= 1 && trainBuckets <= 100,
      s"trainBuckets must be in [1, 100], got $trainBuckets")
    val toks = df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__tk"),
      (graft.ops.Sampling.hashBucket(col(idCol), 100) < trainBuckets)
        .as("__train"))
    // per-position bigram stream: (doc, pos, w1, w2)
    val bi = toks.filter(size(col("__tk")) >= 2)
      .select(col("__id"), col("__train"),
        posexplode(arrays_zip(
          slice(col("__tk"), lit(1), size(col("__tk")) - 1),
          slice(col("__tk"), lit(2), size(col("__tk")) - 1)))
          .as(Seq("__pos", "__bg")))
      .select(col("__id"), col("__train"), col("__pos"),
        col("__bg.0").as("__w1"), col("__bg.1").as("__w2"))
    val trainToks = toks.filter(col("__train"))
      .select(explode(col("__tk")).as("__w"))
    // MATERIALIZE the unigram table once: it feeds three consumers (the
    // w1 lookup, the w2 lookup, and the T/V scalar) and Spark does not
    // reuse the exchange across them — without the cut each consumer
    // re-runs the full corpus token explode+count (verified in the
    // physical plan: three identical aggregation subtrees). The table is
    // vocab-bounded (≪ corpus), so the checkpoint is cheap; same
    // reliable-or-local discipline as the CC rounds
    // (graft.dedup.Dedup.cut).
    val uni0 = trainToks.groupBy("__w").agg(count(lit(1)).as("__cu"))
    val uni = graft.ops.Lineage.cut(uni0)
    val biCounts = bi.filter(col("__train")).groupBy("__w1", "__w2")
      .agg(count(lit(1)).as("__cb"))
    // T (train tokens) and V (train vocab) are integer scalars —
    // order-free aggregations, broadcast as one row
    val tv = broadcast(uni.agg(sum(col("__cu")).as("__T"),
      count(lit(1)).as("__V")))
    val logp = bi
      .join(uni.select(col("__w").as("__w1"), col("__cu").as("__c1")),
        Seq("__w1"), "left")
      .join(biCounts, Seq("__w1", "__w2"), "left")
      .join(uni.select(col("__w").as("__w2"), col("__cu").as("__c2")),
        Seq("__w2"), "left")
      .crossJoin(tv)
      .select(col("__id"), col("__pos"),
        when(col("__cb").isNotNull,
          log(col("__cb").cast("double") / col("__c1")))
          .otherwise(log(lit(0.4) *
            (coalesce(col("__c2"), lit(0L)) + lit(1L)).cast("double") /
            (col("__T") + col("__V"))))
          .as("__lp"))
    // fold the log-probs in POSITION order inside the row: float sums
    // must not depend on shuffle arrival order
    val scored = logp.groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__pos"), col("__lp"))))
        .as("__ps"))
      .select(col("__id"),
        size(col("__ps")).cast("long").as("n_bigrams"),
        (aggregate(transform(col("__ps"), x => x("__lp")),
          lit(0.0), (a, v) => a + v) / size(col("__ps"))).as("lm_score"))
    df.select(col(idCol)).join(scored, df(idCol) === scored("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }

  /** CCNet-style quality buckets: within each language, rank documents
    * by the corpus LM score ([[lmScore]], higher = more fluent) and
    * label the top `headPct` percent "head", the next `midPct` percent
    * "middle", the rest "tail" — the published head/middle/tail split
    * CCNet (Wenzek et al. 2020 §4.3) uses to stage training data by
    * quality. Documents the LM cannot score (< 2 tokens) get a null
    * bucket, left to the caller's policy.
    *
    * Determinism: buckets are EXACTLY the ones the rank formulation
    * assigns — order by (score ROUNDED to 6 decimals desc, id asc),
    * head iff `rank·100 ≤ n·headPct` — but computed WITHOUT ranking
    * documents: integer arithmetic only, bit-stable on any
    * partitioning and engine.
    *
    * Scale (the histogram-percentile formulation, replacing the
    * original per-language document sort): the only corpus-sized
    * exchange is a hash aggregation on (lang, score6) — map-side
    * combinable, ties collapse, a hot language SPREADS across tasks by
    * score instead of sorting in one partition. Cumulative counts then
    * run over the per-language HISTOGRAM (distinct rounded scores —
    * ≪ documents whenever scores tie; the window input is the
    * histogram, never the corpus). Score groups that land entirely
    * inside one bucket are labeled by histogram lookup; only the ≤ 2
    * groups per language that STRADDLE a percentile cut rank their
    * members by id (a window over just those tie groups) to split the
    * boundary exactly as the rank formulation does. Degenerate hatch:
    * a language where one rounded score covers a cut-straddling
    * majority of documents sorts that tie group — strictly less work
    * than the old always-sort, and impossible to avoid while the
    * boundary is id-ranked.
    */
  def lmQualityBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String, headPct: Int = 33, midPct: Int = 33,
      trainBuckets: Int = 80): DataFrame =
    lmBuckets(df, lmScore(df, idCol, textCol, trainBuckets), idCol,
      langCol, headPct, midPct)

  /** [[lmQualityBuckets]] over an already-scored corpus: `scores` is
    * [[lmScore]]'s output for `df`, so a caller holding the scored
    * table (e.g. a session-memoized one) buckets it without re-scoring.
    */
  def lmBuckets(df: DataFrame, scores: DataFrame, idCol: String,
      langCol: String, headPct: Int, midPct: Int): DataFrame = {
    require(headPct > 0 && midPct >= 0 && headPct + midPct <= 100,
      s"percent splits must satisfy 0 < headPct, 0 <= midPct, " +
        s"headPct + midPct <= 100; got $headPct/$midPct")
    val scored = scores
      .filter(col("lm_score").isNotNull)
      .select(col(idCol).as("__sid"), round(col("lm_score"), 6).as("__s"))
    val docs = df.select(col(idCol), col(langCol))
      .join(scored, col(idCol) === col("__sid"))
      .select(col(idCol).as("__bid"), col(langCol).as("__lg"), col("__s"))
    // per-(lang, score6) histogram — the one corpus-sized exchange
    val hist = docs.groupBy(col("__lg"), col("__s"))
      .agg(count(lit(1)).as("__cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__lg")).orderBy(col("__s").desc)
    val wLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__lg"))
    // each (lang, s) group occupies ranks __cs+1 .. __ce of the
    // (score desc, id) order; head = ranks 1..__H, middle to __M
    // (rank <= floor(n·pct/100) ⇔ the rank·100 <= n·pct test)
    val cum = hist.select(col("__lg"), col("__s"), col("__cnt"),
        sum(col("__cnt")).over(wCum).as("__ce"),
        sum(col("__cnt")).over(wLang).as("__n"))
      .withColumn("__cs", col("__ce") - col("__cnt"))
      .withColumn("__H", expr(s"(__n * $headPct) div 100"))
      .withColumn("__M", expr(s"(__n * ${headPct + midPct}) div 100"))
    // one corpus join on (lang, s) whose exchange the tie window then
    // REUSES (same partition key): groups entirely inside one bucket
    // label by histogram lookup, only the cut-straddling tie groups
    // consult the id rank — the window sorts tie groups (bounded),
    // never a language partition
    val wTie = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__lg"), col("__s")).orderBy(col("__bid"))
    val rn = col("__cs") + row_number().over(wTie)
    val ranked = docs.join(cum, Seq("__lg", "__s"))
      .select(col("__bid"),
        when(col("__ce") <= col("__H"), "head")
          .when(col("__cs") >= col("__M"), "tail")
          .when(col("__cs") >= col("__H") && col("__ce") <= col("__M"),
            "middle")
          .otherwise(when(rn <= col("__H"), "head")
            .when(rn <= col("__M"), "middle")
            .otherwise("tail")).as("bucket"))
    df.select(col(idCol), col(langCol))
      .join(ranked, col(idCol) === col("__bid"), "left")
      .select(col(idCol), col(langCol), col("bucket"))
  }

  /** Repetition signals in the Gopher/MassiveText style (duplicate-token
    * and top-n-gram fractions, published in Rae et al. 2021 §A1.1 as
    * filtering heuristics): how much of the document is the same token
    * or bigram repeated. Emitted as exact integer counts (not ratios) so
    * the numbers are engine-portable; callers derive fractions.
    *
    * Shape: the stats are per-document, i.e. row-local — so this is ONE
    * walk of the token array per row (functions.GramStats: two per-row
    * hash maps, unigrams and bigrams in the same pass). No explode, no
    * shuffle, empty docs get zeros naturally. The first cut exploded the
    * gram stream through groupBy(doc, gram) — that pushed the whole
    * corpus through an exchange for arithmetic that never needed to
    * leave the row.
    */
  def repetitionFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NULL text counts as an empty doc (zeros), matching the oracle's
    // left-join + coalesce shape — without this a nullable corpus column
    // would yield NULL stats instead
    val toks = coalesce(tokens(col(textCol)),
      array().cast("array<string>"))
    val g = graft.functions.TextFunctions.gramStats(toks)
    df.select(col(idCol).as("doc_id"), g.as("__g"))
      .select(col("doc_id"),
        col("__g.n_tokens").as("n_tokens"),
        col("__g.n_distinct_tokens").as("n_distinct_tokens"),
        (col("__g.n_tokens") - col("__g.n_distinct_tokens"))
          .as("dup_token_count"),
        col("__g.top_token_count").as("top_token_count"),
        col("__g.n_bigrams").as("n_bigrams"),
        col("__g.n_distinct_bigrams").as("n_distinct_bigrams"),
        col("__g.top_bigram_count").as("top_bigram_count"))
  }

  /** PII patterns (email, dotted-quad IP, short phone) — deliberately in
    * the common subset of Java regex and RE2 (no backrefs, no lookaround)
    * so scrubbing is reproducible across engines.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** Count matches of a PII pattern (pre-redaction audit column). */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** Redact PII in place: emails, then IPs, then phone fragments —
    * email first so an address is consumed whole before the narrower
    * numeric patterns can bite into its domain. Pure codegen'd
    * expressions, embarrassingly parallel.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Polynomial rolling hash over word shingles (Rabin-Karp style, base
    * 1000003 mod 2^61−1) — returns the array of shingle hashes, the basis
    * for content-defined chunking / near-dup candidates.
    */
  def rollingShingleHashes(c: Column, shingle: Int): Column = {
    val toks = tokens(c)
    val n = size(toks)
    when(n >= shingle,
      transform(sequence(lit(0), n - shingle),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(shingle))))))
      .otherwise(array().cast("array<bigint>"))
  }
}
