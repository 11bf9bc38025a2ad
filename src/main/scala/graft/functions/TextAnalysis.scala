package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, document
  * fingerprinting, shingling, and portable content hashing.
  *
  * Everything is built from codegen'd built-in expressions (split /
  * higher-order functions / md5) — no UDFs — so a 100 TB corpus scan
  * stays a single whole-stage-codegen pass with full column pruning.
  *
  * Cross-engine determinism: content hashes are derived from md5 hex
  * (bit-identical everywhere) rather than engine-private hash functions
  * (Spark xxhash64 / DuckDB hash), so oracle checks can reproduce them.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space corpus convention). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-style subword-ish token count: letter runs, single digits,
    * and single punctuation marks each count as one token (a portable
    * RE2/Java-common subset of GPT-2's pre-tokenizer regex).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text.cast("string"),
      lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).cast("long")

  /** Portable 60-bit content hash: first 15 hex chars of md5, as long.
    * Max value 16^15−1 < 2^60 — no sign/overflow issues in any engine.
    * Fused native expression (digest bytes → long, no hex-string
    * round-trip); bit-identical to [[hash60Hof]] and to the DuckDB
    * oracle form `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
    */
  def hash60(c: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.Hash60Expr(
      Bridge.expression(c.cast("string"))))
  }

  /** The pure-built-in composition [[hash60]] fuses — kept as the
    * cross-implementation reference (Hash60Spec asserts equality).
    */
  def hash60Hof(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Lower-cased md5 document fingerprint (exact-dedup key). */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** Character n-gram shingles (default 5-gram), as an array column.
    * `sequence` + `transform` keep it inside codegen; empty array for
    * texts shorter than n.
    */
  def shingles(text: Column, n: Int = 5): Column = {
    val t = text.cast("string")
    val cnt = length(t) - (n - 1)
    // sequence(1, 0) is DESCENDING [1,0] in Spark, not empty — guard
    // short inputs explicitly (DuckDB's generate_series(1,0) IS empty,
    // so the guard is also what keeps the oracle semantics aligned)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => substring(t, i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles (default trigram): space-joined runs of n
    * consecutive tokens. The dedup default — on natural text, unrelated
    * documents almost never share a word n-gram, so inverted-index
    * joins stay near-linear (character shingles collide on any shared
    * vocabulary and degrade toward O(n²) candidates).
    */
  def wordShingles(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.WordShinglesExpr(
      Bridge.expression(tokens(text)), n))
  }

  /** Native word shingles from an already-materialized token array —
    * the codegen'd form of [[wordShinglesOf]] (WordShinglesExpr; one
    * generated loop over UTF8String slices). Use this on hot paths.
    */
  def wordShinglesOfNative(w: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.WordShinglesExpr(Bridge.expression(w), n))
  }

  /** Array-level content hashing: `array<string>` → `array<long>` in
    * one codegen loop (Hash60ArrayExpr) — element-identical to
    * `transform(w, s => hash60(s))` without the interpreted lambda.
    */
  def hash60Array(w: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.plans.Hash60ArrayExpr(Bridge.expression(w)))
  }

  /** Word shingles from an already-materialized token array, as pure
    * built-ins — kept as the cross-implementation reference for
    * [[wordShinglesOfNative]]. A token expression inlined here is
    * re-evaluated for every element_at reference inside the
    * (interpreted) lambda, an n·|d|× blowup — project tokens first.
    */
  def wordShinglesOf(w: Column, n: Int): Column = {
    val cnt = size(w) - (n - 1)
    // see shingles: sequence(1, 0) is descending in Spark, and the
    // out-of-range element_at would throw under ANSI mode
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => concat_ws(" ",
        (0 until n).map(o => element_at(w, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** C4-style text normalization for dedup keys and model input:
    * strip everything outside [A-Za-z0-9 ], lowercase, collapse runs
    * of spaces, trim. The strip happens BEFORE the lowercase on
    * purpose: Java (full Unicode case mapping, 'İ' → "i̇") and
    * RE2/utf8proc (simple mapping, 'İ' → 'i') disagree on some
    * non-ASCII lowercasings, so lowering is only ever applied to pure
    * ASCII — where every engine agrees — keeping the cleaned text and
    * its fingerprint oracle-reproducible on any input.
    */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      lower(regexp_replace(text, "[^A-Za-z0-9 ]", " ")), " +", " "))

  /** Token-level quality metrics: character count, token count, average
    * token length, ratio of tokens found in `stopwords`.
    */
  def qualityMetrics(text: Column,
                     stopwords: Seq[String]): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val sw = stopwords.map(lit(_))
    val nStop = size(filter(toks, t => sw.map(t === _).reduce(_ || _)))
    Seq(
      "n_chars" -> length(text).cast("long"),
      "n_tokens" -> nTokens.cast("long"),
      "avg_token_len" ->
        (length(regexp_replace(text, " ", "")).cast("double") /
          nTokens.cast("double")),
      "stopword_ratio" ->
        (nStop.cast("double") / nTokens.cast("double")))
  }

  /** Gopher-style repetition metrics per document — the standard
    * quality gates a training-data pipeline filters on (a doc whose
    * most-frequent n-gram dominates is boilerplate/spam):
    *
    *  - `ttr`: type-token ratio (distinct/total tokens)
    *  - `top_unigram_frac`: share of tokens taken by the most frequent
    *    token
    *  - `top_bigram_frac`: same for bigrams
    *
    * Shape: explode → two-level aggregate per n-gram order — two
    * shuffles keyed on doc_id, partial aggregation map-side, no per-doc
    * quadratic work (an array-only form would be O(|d|²) per doc).
    * All outputs are exact-integer ratios → engine-portable doubles.
    */
  def repetitionMetrics(docs: org.apache.spark.sql.DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("w"))
    def topFreq(grams: Column, out: String) =
      toks.select(col("doc_id"), explode(grams).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          max(col("c")).as(s"top_$out"),
          sum(col("c")).as(s"n_$out"),
          count(lit(1)).as(s"d_$out"))
    val uni = topFreq(col("w"), "uni")
    val bi = topFreq(wordShinglesOfNative(col("w"), 2), "bi")
    uni.join(bi, "doc_id")
      .select(col("doc_id"),
        col("n_uni").cast("long").as("n_tokens"),
        (col("d_uni").cast("double") / col("n_uni").cast("double"))
          .as("ttr"),
        (col("top_uni").cast("double") / col("n_uni").cast("double"))
          .as("top_unigram_frac"),
        (col("top_bi").cast("double") / col("n_bi").cast("double"))
          .as("top_bigram_frac"))
  }

  /** PII patterns — a deliberately portable RE2/Java-common subset
    * (character classes, bounded quantifiers, `\b`; no lookarounds), so
    * the same pattern string runs in Spark, DuckDB, and RE2-based
    * scanners. Order of application matters: emails first (their local
    * parts contain digit/dot runs the looser patterns would shred),
    * then phones, then IPs.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction for training corpora: replace emails, phone numbers,
    * and IPv4 addresses with typed placeholder tokens. Pure
    * `regexp_replace` composition — codegen'd, one pass per pattern,
    * no UDF — so a corpus-wide redaction scan stays a single
    * whole-stage-codegen projection.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Per-document PII hit counts (audit/filter signal: drop or review
    * documents above a PII-density threshold rather than only masking).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" ->
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long"),
    "n_phones" ->
      size(regexp_extract_all(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(PhonePattern), lit(0))).cast("long"),
    "n_ips" ->
      size(regexp_extract_all(
        regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"),
        lit(Ipv4Pattern), lit(0))).cast("long"))

  /** Token–class MUTUAL INFORMATION for supervised feature selection
    * (the classic MI keyword ranking feeding a quality/domain
    * classifier): for each token, MI between the doc-level presence
    * indicator and the `labelCol` class over the corpus —
    * Σ over (present/absent × class) of p·ln(p/(p_t·p_c)), zero
    * cells contributing 0. Counts come from three hash aggregates
    * (doc-distinct token presence, per-class sizes, per-(token,class)
    * presence) joined on a words × classes grid — classes are
    * bounded, so the grid is ~vocabulary-sized and the only big
    * shuffle is the presence aggregate (map-side combinable).
    * Determinism: each additive term is integer-quantized at 1e-12
    * before the per-token sum (float summation order never appears),
    * the result rounds to 6 decimals, and the top-k cut breaks ties
    * on the token text — the DuckDB oracle replays every step.
    */
  def tokenClassMi(docs: org.apache.spark.sql.DataFrame, k: Int,
                   labelCol: String = "lang",
                   textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col(labelCol).as("cls"),
      explode(array_distinct(tokens(col(textCol)))).as("word"))
    val n = docs.agg(count(lit(1)).as("n"))
    val nc = docs.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n_c"))
    val nt = base.groupBy("word").agg(count(lit(1)).as("n_t"))
    val ntc = base.groupBy("word", "cls").agg(count(lit(1)).as("n_tc"))
    val grid = nt.crossJoin(broadcast(nc))
      .join(ntc, Seq("word", "cls"), "left")
      .select(col("word"), col("cls"), col("n_t"), col("n_c"),
        coalesce(col("n_tc"), lit(0L)).as("n_tc"))
      .crossJoin(broadcast(n))
    // one MI term: cell count `m`, token marginal `tm`, class marginal
    // `cm`; x·ln(x) → 0 as the cell empties
    def term(m: Column, tm: Column, cm: Column): Column =
      when(m === 0, lit(0.0)).otherwise(
        (m.cast("double") / col("n")) *
          log((m.cast("double") * col("n")) / (tm.cast("double") * cm)))
    def q(t: Column): Column =
      floor(t * 1000000000000.0 + 0.5).cast("long")
    grid
      .select(col("word"),
        (q(term(col("n_tc"), col("n_t"), col("n_c"))) +
          q(term(col("n_c") - col("n_tc"), col("n") - col("n_t"),
            col("n_c")))).as("qmi"))
      .groupBy("word")
      .agg((round(sum("qmi").cast("double") / 1000000000000.0, 6) +
        lit(0.0)).as("mi"))
      .orderBy(col("mi").desc, col("word")).limit(k)
  }

  /** Corpus vocabulary: the `k` most frequent whitespace tokens, ties
    * broken by token text so the cut is deterministic. Shape: explode →
    * hash-aggregate (map-side partial) → global top-k
    * (TakeOrderedAndProject — only k rows cross the final exchange, no
    * full sort of the vocabulary).
    */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, k: Int,
                 textCol: String = "text"):
      org.apache.spark.sql.DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(k)

  /** TF-IDF per (document, term): `tf · ln(N / df)` with raw counts.
    * Two hash aggregations (doc-term, then term) and one broadcast of
    * the single-row corpus size — no window functions, no full sorts;
    * at 100 TB the doc-term aggregate is the only big shuffle and it
    * combines map-side. `ln` is a transcendental — engines may differ
    * in the last ulp — so the score is rounded to 6 decimals (the
    * library's standard cross-engine contract for non-exact doubles,
    * same as the cosine scores).
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame,
            idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // idf side joins UN-hinted (same posture as bigramLmScore): the
    // vocabulary is unbounded on noisy corpora — typos/URLs make
    // distinct "words" grow with corpus size — so forcing a broadcast
    // is a 100 TB OOM; AQE still broadcasts at runtime when the
    // aggregated side is actually small. Only the 1-row count is
    // hint-broadcast.
    tf.join(df.crossJoin(broadcast(n)), "word")
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("score"))
  }

  /** Count-based bigram language-model score: each document scored by
    * the summed corpus-wide frequency of its word bigrams (a cheap
    * fluency/typicality signal — boilerplate scores high, garbled text
    * scores low). Integer totals plus an exact-ratio mean, so the
    * output is engine-portable. Shape: one bigram aggregate, one
    * re-join on the bigram, one per-doc aggregate — all hash-based.
    */
  def bigramLmScore(docs: org.apache.spark.sql.DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(wordShinglesOfNative(tokens(col(textCol)), 2)).as("g"))
    val counts = grams.groupBy("g").agg(count(lit(1)).as("c"))
    grams.join(counts, "g")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("c")).cast("long").as("score"))
      .withColumn("avg_count",
        col("score").cast("double") / col("n_bigrams").cast("double"))
  }

  /** CCNet-style perplexity quality filter (Wenzek et al. 2020):
    * score every document by its cross-entropy under a
    * Lidstone-smoothed (α = ½) bigram language model trained on a
    * REFERENCE corpus, then bucket by fixed thresholds — the
    * published recipe for sorting a web crawl by closeness to a
    * trusted corpus (CCNet trains KenLM on Wikipedia and splits the
    * crawl into head/middle/tail; the model here is the bigram LM
    * this engine trains in one pass).
    *
    *   P(w₂|w₁) = (c(w₁w₂) + ½) / (ctx(w₁) + ½·V)
    *            = (2·c(w₁w₂) + 1) / (2·ctx(w₁) + V)
    *
    * with c = reference bigram count, ctx = reference bigram-START
    * count (occurrences of w₁ followed by any token) and V = the
    * reference's distinct-token vocabulary size — integer numerator
    * and denominator by construction, so the only floating-point step
    * is the final `ln`.
    *
    * Determinism at scale: each bigram's log-probability is quantized
    * to fixed-point micro-nats (`round(ln·10⁶)` as long) BEFORE the
    * per-document sum — integer addition is order-independent, so the
    * score is invariant to partitioning and shuffle order (the
    * [[scoreLinearModel]] posture). Cross-entropy = −Σ/(10⁶·n),
    * rounded to 6 places.
    *
    * Plan shape: two hash aggregates over the reference, two shuffle
    * joins on word keys — UN-hinted, the [[tfidf]] posture: a
    * vocabulary is unbounded on noisy corpora (typos/URLs grow
    * distinct "words" with corpus size), so forcing a broadcast is a
    * 100 TB OOM while AQE still broadcasts a genuinely small model at
    * runtime — one broadcast of the 1-row V scalar, and one
    * per-document hash aggregate. Everything before the aggregates is
    * whole-stage codegen ([[wordShinglesOfNative]] + substring_index;
    * no interpreted lambdas).
    *
    * Documents with fewer than two tokens have no bigrams:
    * `n_bigrams` 0, NULL `xent`, bucket `'unscored'`.
    */
  def perplexityFilter(docs: org.apache.spark.sql.DataFrame,
                       ref: org.apache.spark.sql.DataFrame,
                       headMax: Double, middleMax: Double,
                       idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    require(headMax <= middleMax,
      s"bucket thresholds must ascend: headMax=$headMax > $middleMax")
    val refToks = ref.select(tokens(col(textCol).cast("string")).as("w"))
    val c2 = refToks
      .select(explode(wordShinglesOfNative(col("w"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val ctx = refToks
      .select(explode(slice(col("w"), lit(1), size(col("w")) - 1)).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("ctx"))
    // an empty (or all-empty-text) reference gives V=0, and every
    // bigram's log-probability would silently become log(1)-log(0) —
    // scores diverge with no error. Fail loudly at execution instead:
    // the guard stays in the lazy plan (no eager driver-side job) and
    // raise_error fires the moment the V scalar is computed.
    val v = refToks.select(explode(col("w")).as("t"))
      .agg(count_distinct(col("t")).as("v0"))
      .select(when(col("v0") > 0, col("v0")).otherwise(
        raise_error(lit("perplexityFilter: reference corpus has no " +
          "tokens (V=0) - scores would silently diverge; pass a " +
          "non-empty reference")).cast("long")).as("v"))
    // w₁ recovered from the shingle string: tokens are split on ' ',
    // so a token can never contain one and the first space in the
    // bigram is the separator (substring_index stays in codegen —
    // a zip_with lambda here would be interpreted per element)
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(wordShinglesOfNative(
          tokens(col(textCol).cast("string")), 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val micro = grams
      .join(c2, Seq("g"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round((log(coalesce(col("c2"), lit(0L)) * 2 + 1) -
            log(coalesce(col("ctx"), lit(0L)) * 2 + col("v"))) *
          1000000.0, 0).cast("long").as("lq"))
    val perDoc = micro.groupBy("doc_id").agg(
      count(lit(1)).as("n_bigrams"), sum(col("lq")).as("s"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-col("s").cast("double") /
          (col("n_bigrams").cast("double") * 1000000.0), 6).as("xent"))
      .withColumn("bucket",
        when(col("xent").isNull, "unscored")
          .when(col("xent") <= headMax, "head")
          .when(col("xent") <= middleMax, "middle")
          .otherwise("tail"))
  }

  /** BM25 lexical retrieval (Robertson–Spärck Jones / Okapi, the
    * Lucene-default `ln(1 + (N−df+½)/(df+½))` idf): for each query
    * string, the top-`k` documents by
    *
    *   Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * — the lexical complement of the vector ANN suite (hybrid
    * retrieval, mining-by-keyword, contamination probes phrased as
    * queries). Query terms are DISTINCT per query (unit query-term
    * weight; repeated words in a query string do not double-count).
    *
    * Shape at 100 TB: the postings aggregate and the document-length
    * projection scan the corpus once each; everything query-sized is
    * bounded by construction — the query-term table broadcasts (tiny
    * by contract: this is a query API, not a corpus×corpus join), df
    * is computed ONLY for query terms (a corpus-wide df would be a
    * vocabulary-sized aggregate nobody reads), and the 1-row (N, Σdl)
    * scalar broadcasts. Scoring touches only postings that match a
    * query term — the pruned sliver — and the final selection is the
    * bounded-heap [[graft.plans.TopK]] operator, not a window sort.
    *
    * Determinism: per-term scores are quantized to fixed-point
    * micro-units BEFORE the per-(query, doc) sum (integer addition —
    * order-independent, the [[perplexityFilter]] posture) and the heap
    * orders by that exact integer (desc, then doc id) — no
    * floating-point tie ambiguity anywhere. `score` is the micro-sum
    * / 10⁶ rounded to 6 places.
    */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
               queries: org.apache.spark.sql.DataFrame, k: Int,
               k1: Double = 1.25, b: Double = 0.75,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "qtext"):
      org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol).cast("string")).as("w"))
    val dl = toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol).cast("string"))))
        .as("word"))
    // prune BEFORE the tf aggregate: filtering on a grouping key
    // commutes with the aggregate, so joining the exploded tokens
    // with the broadcast distinct query-term set first yields the
    // identical (doc_id, word, tf) sliver while the tf shuffle
    // carries only query-term tokens — not the whole tokenized
    // corpus. The sliver is persisted once; both the df aggregate
    // and the scoring join read this cache, so the corpus scan runs
    // exactly once. Cache lifetime is session-owned — registered with
    // [[graft.CacheScope]]; callers done with a corpus drop every
    // engine-held cache via `CacheScope.release(spark)`. Identical
    // repeated calls (e.g. hybrid fusion re-scoring the same corpus)
    // reuse ONE cache entry via Spark's CacheManager plan match.
    val postQ = graft.CacheScope.retain(
      toks.select(col("doc_id"), explode(col("w")).as("word"))
        .join(broadcast(qterms.select("word").distinct()), Seq("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")),
      "bm25.query-term-postings")
    val g = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    bm25Score(postQ, qterms, dl, g, k, k1, b)
  }

  /** Shared BM25 scoring tail: from a query-term postings sliver
    * `(doc_id, word, tf)`, per-query terms `(query_id, word)`,
    * doc lengths `(doc_id, dl)` and the 1-row corpus stats `(n, sdl)`
    * to the ranked top-`k`. One implementation serves BOTH the
    * scan-the-corpus [[bm25TopK]] and the stored-index
    * [[bm25TopKIndexed]] path, so the two can never drift — the
    * indexed gate is hash-equal to the scan gate by construction.
    */
  private def bm25Score(postQ: org.apache.spark.sql.DataFrame,
                        qterms: org.apache.spark.sql.DataFrame,
                        dl: org.apache.spark.sql.DataFrame,
                        g: org.apache.spark.sql.DataFrame,
                        k: Int, k1: Double, b: Double):
      org.apache.spark.sql.DataFrame = {
    val dfq = postQ.groupBy("word").agg(count(lit(1)).as("df"))
    val micro = postQ
      .join(broadcast(qterms), Seq("word"))
      .join(broadcast(dfq), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(g))
      .select(col("query_id"), col("doc_id"),
        // default k1/b (1.25, 0.75) are exact binary doubles, so the
        // Scala-folded scalars (k1+1, 1−b) equal the oracle's literals
        // bit-for-bit and every FP op below replays identically
        round(log(lit(1.0) +
            (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") * col("n") / col("sdl"))) *
          lit(1000000.0), 0).cast("long").as("lq"))
    val scores = micro.groupBy("query_id", "doc_id")
      .agg(sum(col("lq")).as("s"))
    val pruned = graft.plans.TopK.perKey(scores, Seq(col("query_id")),
      Seq(col("s").desc, col("doc_id")), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("s").desc, col("doc_id"))
    pruned.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("doc_id"),
        round(col("s").cast("double") / 1000000.0, 6).as("score"),
        col("rank"))
  }

  /** Build the persisted BM25 index for a corpus: the serving-side
    * complement of [[bm25TopK]] (which re-tokenizes the corpus per
    * call — fine for one-off mining, wrong for a query service).
    * Three tables under `path`:
    *
    *   - `postings/` — `(doc_id, word, tf)`, hash-partitioned on
    *     `pb = hash(word) mod pbuckets`. Serving reads prune to the
    *     query terms' buckets via dynamic partition pruning (the
    *     broadcast query-term side seeds the partition filter), so a
    *     query touches ~|q|/pbuckets of the postings, not all of them.
    *   - `doclens/` — `(doc_id, dl)`.
    *   - `stats/` — ONE row `(n, sdl, pbuckets)`. Serving reads ONLY
    *     `pbuckets` (the bucket count it must re-derive `pb` with);
    *     the live (N, Σdl) scalars are AGGREGATED over doclens minus
    *     tombstones at serve time — one aggregate over a table the
    *     query already joins, and the reason updates/deletes have no
    *     two-file consistency window. The stored pair is a build-time
    *     snapshot, refreshed by [[compactBm25Index]].
    *
    * The tokenization here is the [[bm25TopK]] tokenization; tf/df
    * computed from these tables are bit-identical to the scan path.
    */
  // the ONE tokenize→postings/doclens pipeline both the single-pass
  // build and the incremental update write through — the index's
  // bit-identical-tokenization invariant must have a single source
  private def bm25Toks(docs: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String):
      org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol).cast("string")).as("w"))

  private def bm25PostingsOf(toks: org.apache.spark.sql.DataFrame,
                             pbuckets: Long):
      org.apache.spark.sql.DataFrame =
    toks.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("pb", pmod(hash60(col("word")), lit(pbuckets)))

  private def bm25DoclensOf(toks: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    toks.select(col("doc_id"), size(col("w")).cast("long").as("dl"))

  def buildBm25Index(docs: org.apache.spark.sql.DataFrame, path: String,
                     pbuckets: Int = 64, idCol: String = "doc_id",
                     textCol: String = "text"): Unit = {
    require(pbuckets >= 1, s"pbuckets must be >= 1, got $pbuckets")
    // explicit partition count: a bare repartition(col) is subject to
    // AQE coalescing, which at gate scale folds the clustered write
    // into ONE task — the session's shuffle parallelism keeps the
    // write parallel while still producing one file per bucket (every
    // bucket hashes to exactly one task)
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    // persist the tokenized batch: postings, doclens and stats each
    // action it, and an expensive (or nondeterministic) upstream plan
    // must not run three times or let the three tables disagree
    val toks = bm25Toks(docs, idCol, textCol).persist()
    try {
      // cluster by bucket before the write (guide §6): a dynamic-
      // partition write straight off the aggregate has every task
      // writing into every touched bucket directory — O(tasks ×
      // buckets) small files per build, paid again at every serve
      // (footer reads, task setup). One shuffle here writes one file
      // per bucket, word-sorted within it — the exact layout
      // [[compactBm25Index]] restores, now produced from the start.
      bm25PostingsOf(toks, pbuckets.toLong)
        .repartition(nPart, col("pb"))
        .sortWithinPartitions("pb", "word", "doc_id")
        .write.mode("overwrite").partitionBy("pb")
        .parquet(s"$path/postings")
      val dl = bm25DoclensOf(toks)
      dl.write.mode("overwrite").parquet(s"$path/doclens")
      dl.agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("sdl"))
        .withColumn("pbuckets", lit(pbuckets.toLong))
        .write.mode("overwrite").parquet(s"$path/stats")
    } finally { toks.unpersist(); () }
  }

  /** Incremental maintenance of a [[buildBm25Index]] store: append a
    * batch of NEW documents without touching the indexed corpus.
    * Postings and doclens are parquet APPENDS (partitioned postings
    * just gain files in the affected `pb` buckets — no rewrite of
    * existing data, the property that makes a stored index viable
    * when the corpus is 100 TB and the batch is a sliver). Nothing
    * else needs maintenance: df/tf and the (N, Σdl) scalars are all
    * derived at serve time from the stored tables, so appended rows
    * are visible to the next query automatically.
    *
    * The batch must be genuinely new, distinct documents: a doc_id
    * already in the index, repeated WITHIN the batch, or still
    * tombstoned ([[deleteFromBm25Index]] — its physical rows survive
    * until compaction and would collide) would corrupt tf/df, so all
    * three overlaps are checked (one aggregate over the batch, two
    * semi-joins against doc-count-sized tables, never the corpus) and
    * the call fails loudly with the remediation.
    *
    * Crash consistency: doclens appends FIRST. An orphan doclens row
    * (crash before the postings append) never reaches TERM scoring —
    * a doc with no postings never enters the postings sliver — but it
    * does count in the serve-derived (N, Σdl) scalars: a bounded
    * global idf/avgdl shift, not structural corruption, and HEALABLE
    * with the existing ops — tombstone the failed batch's ids
    * ([[deleteFromBm25Index]]; scores correct immediately) and
    * [[compactBm25Index]] (rows physically gone, ids re-addable).
    * The next attempt for the same batch REFUSES via the overlap
    * guard with exactly that remediation. The reverse write order
    * would be worse: orphan POSTINGS would inflate df for every
    * shared term and a retried batch would double rows.
    */
  def updateBm25Index(docs: org.apache.spark.sql.DataFrame, path: String,
                      idCol: String = "doc_id",
                      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val stats0 = spark.read.parquet(s"$path/stats").head()
    val pbuckets = stats0.getAs[Long]("pbuckets")
    val toks = bm25Toks(docs, idCol, textCol).persist()
    try {
      val dl = bm25DoclensOf(toks)
      // ONE probe job for all three overlap guards (each branch is a
      // limit-1 existence check; three separate actions paid three
      // scheduler round-trips per maintenance batch). Violation tags
      // come back together and are reported in the original check
      // order, so the error surface is unchanged.
      val dupIn = dl.groupBy("doc_id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).select(lit("dup").as("why"))
      val indexed = dl.select("doc_id")
        .join(spark.read.parquet(s"$path/doclens"),
          Seq("doc_id"), "left_semi").limit(1)
        .select(lit("indexed").as("why"))
      val tombed = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
        .map(d => dl.select("doc_id")
          .join(d, Seq("doc_id"), "left_semi").limit(1)
          .select(lit("tombstoned").as("why")))
      val bad = (Seq(dupIn, indexed) ++ tombed.toSeq)
        .reduce(_ unionAll _).collect().map(_.getString(0)).toSet
      require(!bad("dup"),
        "updateBm25Index batch repeats doc_ids within itself - " +
          "postings/doclens would double; dropDuplicates the batch " +
          "on the id first")
      require(!bad("indexed"),
        "updateBm25Index batch contains doc_ids already indexed - " +
          "re-indexing a document (or healing a crashed half-applied " +
          "update) requires deleteFromBm25Index + compactBm25Index " +
          "first; for genuinely new data filter the batch to new ids " +
          "(left_anti against doclens)")
      require(!bad("tombstoned"),
        "updateBm25Index batch contains tombstoned doc_ids - " +
          "their physical rows survive until compaction and the " +
          "tombstone would hide the re-added rows; run " +
          "compactBm25Index first")
      dl.write.mode("append").parquet(s"$path/doclens")
      // same bucket-clustered layout as the build: the append adds at
      // most ONE file per touched bucket instead of one per task per
      // bucket, so incremental maintenance degrades the store's file
      // count as slowly as possible between compactions
      bm25PostingsOf(toks, pbuckets)
        .repartition(nPart, col("pb"))
        .sortWithinPartitions("pb", "word", "doc_id")
        .write.mode("append").partitionBy("pb")
        .parquet(s"$path/postings")
    } finally { toks.unpersist(); () }
  }

  /** Tombstone-delete documents from a [[buildBm25Index]] store — the
    * compliance operation (takedowns, opt-outs) that must not cost a
    * rebuild. The ONLY write is one append to the `deletes/` table:
    * serving derives everything else from it (postings sliver
    * anti-join; corpus stats aggregated over live doclens rows), so
    * there is no second write to fall out of sync with and no crash
    * window — the delete is effective the moment the tombstone lands,
    * including idf/avgdl. Physical removal happens at the next
    * [[compactBm25Index]]. Duplicate tombstone rows (repeated or
    * concurrent deletes) are harmless: every consumer is an anti-join
    * or a semi-join, never a count over the table.
    *
    * Re-indexing a deleted id needs a compaction first: both
    * [[updateBm25Index]]'s overlap guard and the tombstones refuse it
    * until the rows are physically gone.
    */
  def deleteFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          ids: org.apache.spark.sql.DataFrame,
                          idCol: String = "doc_id"): Unit = {
    // restrict to indexed ids: the table stays bounded by the corpus
    // (an absent id is a no-op either way)
    ids.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(spark.read.parquet(s"$path/doclens"),
        Seq("doc_id"), "left_semi")
      .write.mode("append").parquet(s"$path/deletes")
  }

  /** Compact a [[buildBm25Index]] store after a run of incremental
    * [[updateBm25Index]] appends: every append adds files to the
    * touched postings buckets AND to doclens, and serving cost
    * degrades with file count (footer reads, task setup) even though
    * the data is unchanged — the standard small-file problem of any
    * append-only store. Postings rewrite one-file-per-bucket, sorted
    * `(pb, word, doc_id)` — leading with the partition column
    * satisfies the writer's required ordering, so no planner sort is
    * inserted above this one and the intra-file word order (row-group
    * pruning) is actually guaranteed; doclens rewrites to the
    * session's shuffle-partition count. stats is a 1-row overwrite
    * table and never accumulates.
    *
    * Compaction is also where [[deleteFromBm25Index]] tombstones are
    * applied PHYSICALLY: the rewrites drop tombstoned rows, the
    * tombstone table clears afterwards, and the stats snapshot
    * refreshes from the live doclens. Query RESULTS are unchanged
    * throughout (serving already subtracted tombstones by
    * derivation); stored content changes exactly when tombstones
    * existed, by exactly those rows.
    *
    * Each table goes write-new-then-swap, never in place. The swap
    * itself is two renames with an unavoidable instant where the live
    * directory is absent; a crash there (or a leftover from one) is
    * DETECTED on the next call — `_<table>_old` present without the
    * live dir — and rolled back before compacting, and a failed
    * activation rename rolls back immediately. A crash after the
    * rewrites but before the tombstone clear leaves tombstones over
    * already-removed ids — harmless to serving (the anti-join is a
    * no-op) and harmless to re-adds ([[updateBm25Index]] refuses
    * tombstoned ids until a compaction clears them).
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    val nPart = spark.sessionState.conf.numShufflePartitions
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def swapIn(table: String)(write: (String, String) => Unit): Unit =
      graft.io.Sinks.swapInRewrite(spark, path, table)(write)
    // tombstones ([[deleteFromBm25Index]]) are applied physically here
    // and cleared LAST: a crash after the rewrites but before the
    // clear leaves tombstones over already-removed ids — the serve-
    // time anti-join is then a no-op, never wrong
    val delP = p(s"$path/deletes")
    val dels = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
    def minus(df: org.apache.spark.sql.DataFrame) =
      dels.fold(df)(d => df.join(d, Seq("doc_id"), "left_anti"))
    swapIn("postings") { (live, tmp) =>
      val survivors = minus(spark.read.parquet(live))
      // a dynamic-partitioned write of an EMPTY frame leaves a dir
      // with no schema-bearing file — activating it would brick every
      // later read. An index whose every doc is tombstoned is not a
      // store to keep; refuse loudly (the un-compacted store keeps
      // serving empty results correctly).
      require(survivors.limit(1).count() > 0L,
        "compactBm25Index: every indexed document is tombstoned - " +
          "compaction would leave an unreadable empty store; delete " +
          "the store directory (or rebuild) instead")
      survivors
        .repartition(nPart, col("pb"))
        .sortWithinPartitions("pb", "word", "doc_id")
        .write.mode("overwrite").partitionBy("pb").parquet(tmp)
    }
    swapIn("doclens") { (live, tmp) =>
      // size the rewrite from the live bytes (guide §6: output files
      // should track DATA size, not the session's task count — a
      // megabyte doclens table was rewritten as 32 sliver files, and
      // a 100 TB one would be rewritten as 32 monsters). 128 MiB
      // target, clamped to the session parallelism floor-1.
      val liveBytes = fs.getContentSummary(p(live)).getLength
      val want = math.max(1L, math.min(nPart.toLong,
        liveBytes / (128L << 20) + 1L)).toInt
      minus(spark.read.parquet(live))
        .repartition(want)
        .write.mode("overwrite").parquet(tmp)
    }
    fs.delete(delP, true)
    // refresh the stats snapshot from the now-live doclens (serving
    // derives its own scalars; this keeps the stored pair truthful
    // for humans and external readers). Through the swap helper like
    // every other table: an in-place overwrite crashing mid-write
    // would leave no readable pbuckets and brick serving.
    val stats0 = spark.read.parquet(s"$path/stats").head()
    swapIn("stats") { (_, tmp) =>
      spark.read.parquet(s"$path/doclens")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("sdl"))
        .withColumn("pbuckets", lit(stats0.getAs[Long]("pbuckets")))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** BM25 top-`k` served from a [[buildBm25Index]] store: no corpus
    * scan, no tokenization — postings pruned to the query terms'
    * hash buckets (partition pruning) then to the terms themselves
    * (broadcast join), doc lengths joined only for matched docs, and
    * corpus stats read from the 1-row table. Scoring is the shared
    * [[bm25Score]] tail, so results are hash-identical to
    * [[bm25TopK]] over the corpus the index was built from.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      queries: org.apache.spark.sql.DataFrame, k: Int,
                      k1: Double = 1.25, b: Double = 0.75,
                      queryIdCol: String = "query_id",
                      queryTextCol: String = "qtext"):
      org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val stats = spark.read.parquet(s"$path/stats")
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol).cast("string"))))
        .as("word"))
    // STATIC partition pruning: the distinct query words and the 1-row
    // stats collect to the driver — both bounded by the query batch (a
    // query API, the same contract that lets qterms broadcast; this is
    // NOT a corpus collect) — and their re-derived `pb` buckets become
    // a literal partition predicate, so the postings scan lists and
    // reads only the query terms' buckets. Stored pbuckets is
    // authoritative: an index built with any bucket count serves
    // unchanged.
    import spark.implicits._
    val pbuckets = stats.select("pbuckets").head().getLong(0)
    val words = qterms.select("word").distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val buckets = words.map(w => hash60Jvm(w) % pbuckets).distinct
    // tombstones subtract EVERYWHERE by derivation, never by stored
    // state: the sliver anti-joins them (tombstone-sized work; df is
    // computed after, so deleted docs stop counting toward idf), the
    // dl join reads live rows only, and the (N, Σdl) scalars aggregate
    // over live doclens at serve time. Deriving the scalars costs one
    // aggregate over a table this query already joins — and buys the
    // absence of any stats-vs-tombstone crash window (two files cannot
    // be written atomically; one file plus derivation can).
    val dels = graft.io.Sinks.optionalTable(spark, s"$path/deletes")
    def minus(df: org.apache.spark.sql.DataFrame) =
      dels.fold(df)(d => df.join(d, Seq("doc_id"), "left_anti"))
    val postQ = graft.CacheScope.retain(
      minus(spark.read.parquet(s"$path/postings")
          .filter(col("pb").isin(buckets: _*))
          .join(broadcast(words.toDF("word")), Seq("word")))
        .select("doc_id", "word", "tf"),
      "bm25.indexed-postings-sliver")
    val dl = minus(spark.read.parquet(s"$path/doclens"))
    val g = dl.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sdl"))
    bm25Score(postQ, qterms, dl, g, k, k1, b)
  }

  /** JVM-side [[hash60]]: first 15 hex chars of md5 as a long —
    * bit-identical to the Column expression and the DuckDB oracle
    * form (Hash60Spec pins all three). Used where a BOUNDED value set
    * (query terms) is already on the driver and needs its hash
    * without a Spark job.
    */
  def hash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  /** Dictionary encoding: dense ids 0..n-1 for the distinct values of
    * a column, in global sorted order — the vocabulary-to-token-id
    * assignment of a tokenizer build.
    *
    * The naive form (`row_number() OVER (ORDER BY value)`) funnels
    * every distinct value through ONE task — a non-starter for a
    * 100 TB-corpus vocabulary. This is the canonical legitimate RDD
    * escape hatch instead: range-repartition + in-partition sort
    * establish the global order ACROSS partitions, then
    * `zipWithIndex` assigns contiguous ids per partition with offsets
    * summed from a tiny per-partition count collect — no single-task
    * bottleneck. The ids are a pure function of the distinct value
    * set (global sorted rank), independent of partitioning or where
    * range boundaries fall.
    */
  def dictionaryEncode(df: org.apache.spark.sql.DataFrame,
                       valueCol: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val sorted = df.select(col(valueCol).cast("string").as("value"))
      .filter(col("value").isNotNull).distinct()
      .repartitionByRange(col("value"))
      .sortWithinPartitions("value")
    val indexed = sorted.rdd.map(_.getString(0)).zipWithIndex()
      .map { case (v, i) => org.apache.spark.sql.Row(v, i) }
    spark.createDataFrame(indexed,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Tokenize-to-ids: map every document's token sequence through a
    * dictionary from [[dictionaryEncode]] — the final tokenizer step
    * before sequence packing. The dictionary (vocab ≪ corpus)
    * broadcasts, so encoding is map-side: posexplode → broadcast join
    * → per-doc ordered reassembly. Out-of-vocabulary tokens encode as
    * −1 (the caller's UNK policy hook). Output: (idCol, ids) with ids
    * as a comma-joined string in token order.
    */
  def encodeTokens(docs: org.apache.spark.sql.DataFrame,
                   dict: org.apache.spark.sql.DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    // dict joins UN-hinted: a whitespace dictionary is the corpus
    // vocabulary — unbounded on noisy text — so forcing a broadcast
    // is a scale hazard; AQE broadcasts it at runtime when it's
    // actually small. (encodeTokensBpe keeps its hint — a BPE vocab
    // is provably ≤ |alphabet| + |merges|.)
    toks
      .join(dict.withColumnsRenamed(Map("value" -> "token")),
        Seq("token"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1L)))
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("id")))),
        x => x.getField("id").cast("string")), ",").as("ids"))
  }

  /** Merges-table BPE subword sequence of a document, in order
    * ([[graft.plans.BpeEncodeExpr]]): whitespace pre-tokenization,
    * then greedy lowest-rank pair merging per word. Map-only and
    * codegen'd — the real tokenizer step `bpeTokenCount` only
    * estimates.
    */
  def bpeSubwords(text: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.plans.BpeEncodeExpr(
        org.apache.spark.sql.graft.Bridge.expression(text), merges))

  /** BYTE-LEVEL merges-table BPE ([[graft.plans.ByteBpeEncodeExpr]]):
    * the GPT-2 byte-to-unicode alphabet, word-boundary spaces encoded
    * into the following word's symbols. Nothing is ever OOV — the
    * `<unk>`/−1 fallbacks of the word-level paths are unreachable
    * here — and [[bpeDecodeBytes]] inverts it byte-exactly for ANY
    * input text and ANY merges table (merges affect compression only).
    */
  def bpeSubwordsBytes(text: Column,
                       merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.plans.ByteBpeEncodeExpr(
        org.apache.spark.sql.graft.Bridge.expression(text), merges))

  /** Inverse of [[bpeSubwordsBytes]]: symbol tokens → bytes → UTF-8
    * text. Codegen'd, map-only.
    */
  def bpeDecodeBytes(toks: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.plans.ByteBpeDecodeExpr(
        org.apache.spark.sql.graft.Bridge.expression(toks)))

  /** Inverse of [[encodeTokens]]: a comma-joined id sequence decodes
    * back to whitespace-joined tokens through the dictionary (ids the
    * dictionary lacks, e.g. the −1 OOV sentinel, decode to `unk`).
    * Same shape as the encode side: posexplode → dictionary join
    * (un-hinted — the dictionary is corpus vocabulary) → ordered
    * per-doc reassembly. `decode(encode(docs))` over an in-vocab
    * corpus is the identity on single-spaced text — the round-trip
    * gate checks exactly that against the raw table.
    */
  def decodeTokens(encoded: org.apache.spark.sql.DataFrame,
                   dict: org.apache.spark.sql.DataFrame,
                   idCol: String = "doc_id", idsCol: String = "ids",
                   unk: String = "<unk>"): org.apache.spark.sql.DataFrame =
    encoded
      .select(col(idCol),
        posexplode(split(col(idsCol), ",")).as(Seq("pos", "sid")))
      .select(col(idCol), col("pos"), col("sid").cast("long").as("id"))
      .join(dict, Seq("id"), "left")
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"),
          coalesce(col("value"), lit(unk)).as("tok")))),
        x => x.getField("tok")), " ").as("text"))

  /** Persist tokenizer artifacts: the ranked merges table, the subword
    * vocabulary, and a 1-row meta table, as parquet under `path` —
    * the save side of the tokenizer-as-data contract (a trained
    * tokenizer outlives the training session; serving must not
    * re-derive it from the corpus).
    *
    *   - `merges/` — `(rank, lhs, rhs)`, the merge rules in training
    *     order (rank IS the merge priority).
    *   - `vocab/`  — `(id, token)`: dense ids in global sorted token
    *     order ([[dictionaryEncode]] over the corpus's subword
    *     inventory under these merges), the id space
    *     [[encodeTokensBpeStored]] emits and
    *     [[decodeTokensBpeStored]] inverts.
    *   - `meta/`   — ONE row `(byte_level)`, so load sites apply the
    *     matching segmentation automatically.
    */
  def saveTokenizer(docs: org.apache.spark.sql.DataFrame,
                    merges: Seq[(String, String)], path: String,
                    byteLevel: Boolean = false,
                    textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
      .toDF("rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    val sub =
      if (byteLevel) bpeSubwordsBytes(col(textCol).cast("string"), merges)
      else bpeSubwords(col(textCol).cast("string"), merges)
    val inventory = docs.filter(col(textCol).isNotNull)
      .select(explode(sub).as("token"))
    dictionaryEncode(inventory, "token")
      .withColumnsRenamed(Map("value" -> "token"))
      .write.mode("overwrite").parquet(s"$path/vocab")
    Seq(if (byteLevel) 1L else 0L).toDF("byte_level")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[saveTokenizer]] merges table, in rank order. The
    * collect is bounded by construction: a merges table is
    * tokenizer-sized (10⁴–10⁵ rules — it must fit every serving
    * process by definition), never corpus-sized.
    */
  def loadTokenizerMerges(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[(String, String)] =
    spark.read.parquet(s"$path/merges").orderBy("rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private def tokenizerIsByteLevel(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    spark.read.parquet(s"$path/meta").head().getLong(0) == 1L

  /** Tokenize-to-ids against a STORED tokenizer: segmentation from the
    * stored merges, ids from the stored vocabulary (broadcast — always
    * tokenizer-sized), OOV → −1. New corpora encode under the exact id
    * space the artifacts pin; nothing is re-derived from the data.
    */
  def encodeTokensBpeStored(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            docs: org.apache.spark.sql.DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val merges = loadTokenizerMerges(spark, path)
    val sub =
      if (tokenizerIsByteLevel(spark, path))
        bpeSubwordsBytes(col(textCol).cast("string"), merges)
      else bpeSubwords(col(textCol).cast("string"), merges)
    // posexplode_OUTER + null-skipping collect: a document with empty
    // or null text must survive encode as an empty id sequence (and
    // decode back to the empty string) — the inner explode would drop
    // the row entirely and break the decode(encode(x)) identity
    docs
      .select(col(idCol), posexplode_outer(sub).as(Seq("pos", "token")))
      .join(org.apache.spark.sql.functions.broadcast(
        spark.read.parquet(s"$path/vocab")), Seq("token"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1L)))
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(when(col("pos").isNotNull,
          struct(col("pos"), col("id"))))),
        x => x.getField("id").cast("string")), ",").as("ids"))
  }

  /** Invert [[encodeTokensBpeStored]] through the same store: ids →
    * stored-vocab tokens in position order, then byte-level symbol
    * decode (byte-exact text) or word-level space-join (token
    * stream). Ids the vocabulary lacks (the −1 OOV sentinel) decode
    * to the empty symbol.
    */
  def decodeTokensBpeStored(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            encoded: org.apache.spark.sql.DataFrame,
                            idCol: String = "doc_id",
                            idsCol: String = "ids"):
      org.apache.spark.sql.DataFrame = {
    val toks = encoded
      .select(col(idCol),
        posexplode(split(col(idsCol), ",")).as(Seq("pos", "sid")))
      // an empty ids string (zero-token doc) splits to one "" element;
      // guard the cast (ANSI would throw) — the null id then joins to
      // no vocab row and decodes to the empty symbol
      .select(col(idCol), col("pos"),
        when(col("sid") =!= "", col("sid").cast("long")).as("id"))
      .join(org.apache.spark.sql.functions.broadcast(
        spark.read.parquet(s"$path/vocab")), Seq("id"), "left")
      .groupBy(idCol)
      .agg(transform(
        array_sort(collect_list(struct(col("pos"),
          coalesce(col("token"), lit("")).as("tok")))),
        x => x.getField("tok")).as("toks"))
    if (tokenizerIsByteLevel(spark, path))
      toks.select(col(idCol), bpeDecodeBytes(col("toks")).as("text"))
    else
      toks.select(col(idCol), array_join(col("toks"), " ").as("text"))
  }

  /** Linear text-classifier inference (fastText/CCNet-style quality
    * scoring): hashed bag-of-words features against a weights table →
    * per-doc logit and sigmoid probability. The hashing trick bounds
    * the weights table at `nBuckets` rows regardless of vocabulary, so
    * its broadcast is justified by construction (unlike a raw-vocab
    * table). Weights are INTEGER fixed-point (`w10`, units of
    * 1/`quantScale`): the per-doc sum is exact long arithmetic —
    * order-independent, so engine-portable — and only the final
    * logit→probability step touches floating point (sigmoid rounded
    * to 6 decimals, the library's transcendental contract).
    *
    * @param weights (bucket: long, w10: long) — missing buckets score 0
    */
  def scoreLinearModel(docs: org.apache.spark.sql.DataFrame,
                       weights: org.apache.spark.sql.DataFrame,
                       nBuckets: Int, bias10: Long = 0L,
                       idCol: String = "doc_id", textCol: String = "text",
                       quantScale: Double = 10.0):
      org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val tk = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val bucketed = tk.select(col(idCol),
      pmod(hash60(col("token")), lit(nBuckets.toLong)).as("bucket"))
    bucketed
      .join(org.apache.spark.sql.functions.broadcast(weights),
        Seq("bucket"), "left")
      .groupBy(idCol)
      .agg((sum(coalesce(col("w10"), lit(0L))) + bias10).as("z10"))
      .select(col(idCol),
        (col("z10").cast("double") / quantScale).as("logit"))
      .withColumn("prob",
        round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 6))
  }

  /** Weight-vector ceiling for [[trainLinearModel]]: the per-step
    * gradient collect and the driver-held weight map are `nBuckets`
    * rows — the hashing trick bounds both by construction, and this
    * cap keeps "bounded" honest at the API edge.
    */
  val MaxTrainBuckets: Int = 1 << 20

  /** TRAIN the linear quality classifier that [[scoreLinearModel]]
    * serves (fastText/DCLM-style): full-batch logistic-regression
    * gradient descent over hashed bag-of-words counts, labels from
    * any boolean column expression. Closes the curation loop — label
    * a trusted slice, train here, score the whole corpus with
    * [[scoreLinearModel]] — without leaving the engine.
    *
    * Update rule (integer micro-units end to end):
    *   σ₆(z) = round(10⁶ / (1 + e^(−z₆/10⁶)))         per doc
    *   g_b   = Σ_docs (y₆ − σ₆)·cnt_b                  exact long sum
    *   w₆'   = w₆ + round(g_b / (lrInv·n))             HALF_UP
    * so every cross-row reduction is order-independent integer
    * addition (the library's determinism contract) and the only
    * floating point is the per-doc sigmoid and the per-bucket update
    * quantization — both single values, both HALF_UP-rounded
    * identically by Spark, DuckDB, and the driver (`BigDecimal`
    * HALF_UP here: `math.round` rounds −.5 toward +∞ and would
    * diverge from SQL `round` on exact halves).
    *
    * Scale shape: features materialize ONCE (one corpus scan → one
    * `(doc, bucket)` aggregate, cached hash(doc_id)-partitioned — the
    * standard feature table); each step is one broadcast join against
    * the ≤ `nBuckets`-row weight table, one per-doc aggregate, one
    * per-bucket aggregate, and one `nBuckets`-bounded collect (the
    * k-means posture: the driver holds model state, never data).
    * Because both cached tables share the doc_id layout, no step
    * re-shuffles them: the only per-step exchange is the
    * `nBuckets`-bounded gradient aggregate. Steps are sequential by
    * nature of GD; step count is a hyperparameter (~handfuls), not a
    * data dimension.
    *
    * Output: `(bucket, w6)` — micro-unit weights; serve with
    * `scoreLinearModel(docs, weights named w10, nBuckets,
    * quantScale = 1e6)`.
    */
  def trainLinearModel(docs: org.apache.spark.sql.DataFrame,
                       label: Column, nBuckets: Int, steps: Int = 3,
                       lrInv: Int = 16, idCol: String = "doc_id",
                       textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 1 && nBuckets <= MaxTrainBuckets,
      s"nBuckets must be in [1, $MaxTrainBuckets], got $nBuckets")
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(lrInv >= 1, s"lrInv must be >= 1, got $lrInv")
    val spark = docs.sparkSession
    import spark.implicits._
    // Every per-step operation below is keyed on doc_id (the sigmoid
    // groupBy, the gradient's two joins), so both cached tables are
    // laid out by hash(doc_id) ONCE and all `steps` jobs reuse that
    // partitioning — per step only the ≤ nBuckets-row gradient
    // aggregate crosses the network, never the feature table. The
    // repartition runs AFTER the map-side-combined (doc,bucket)
    // aggregate, so it moves the compact feature rows, not the
    // exploded token stream. Explicit partition count: the no-per-step
    // exchange property must not depend on AQE cached-plan settings.
    val nPart = spark.sessionState.conf.numShufflePartitions
    val feat = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol).cast("string"))).as("token"))
      .select(col("doc_id"),
        pmod(hash60(col("token")), lit(nBuckets.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .repartition(nPart, col("doc_id"))
      .cache()
    // NULL label = hard negative (not a silently-dropped row): an
    // un-coalesced NULL y6 would null the row's gradient terms while
    // `n` still counts the doc — a label-set hole would silently bias
    // the model and diverge from the oracle's CASE ... ELSE 0
    val y = docs.select(col(idCol).as("doc_id"),
      (coalesce(label, lit(false)).cast("long") * 1000000L).as("y6"))
      .repartition(nPart, col("doc_id"))
      .cache()
    // n comes off the cached label table: ONE scan of the (possibly
    // expensive, uncached) upstream plan materializes labels AND the
    // count, and every GD step's join then reads the cache instead of
    // re-running the upstream per step
    val n = y.count()
    var w = Map.empty[Long, Long]
    (0 until steps).foreach { _ =>
      val gDf =
        if (w.isEmpty)
          // w ≡ 0 ⇒ z ≡ 0 ⇒ σ₆ = round(10⁶/2) exactly, for EVERY doc —
          // inline the constant instead of joining a per-doc sigmoid
          // table (the join attached the same literal to every row)
          feat.join(y, "doc_id")
            .groupBy("bucket")
            .agg(sum((col("y6") - lit(500000L)) * col("cnt")).as("g"))
        else {
          val s6 = feat.join(broadcast(w.toSeq.toDF("bucket", "w6")),
              Seq("bucket"), "left")
            .groupBy("doc_id")
            .agg(sum(coalesce(col("w6"), lit(0L)) * col("cnt")).as("z6"))
            .select(col("doc_id"),
              round(lit(1000000.0) /
                  (lit(1.0) + exp(-(col("z6").cast("double") / 1000000.0))),
                0).cast("long").as("s6"))
          feat.join(y, "doc_id").join(s6, "doc_id")
            .groupBy("bucket")
            .agg(sum((col("y6") - col("s6")) * col("cnt")).as("g"))
        }
      val g = gDf.collect() // ≤ nBuckets rows by construction
      w = g.map { r =>
        val b = r.getLong(0)
        val delta = java.math.BigDecimal
          .valueOf(r.getLong(1).toDouble / (lrInv.toDouble * n))
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        b -> (w.getOrElse(b, 0L) + delta)
      }.toMap
    }
    feat.unpersist()
    y.unpersist()
    w.toSeq.sortBy(_._1).toDF("bucket", "w6")
  }

  /** Distinct-word dictionaries beyond this exceed what the driver
    * should hold for BPE training. Same fail-loudly posture as
    * [[graft.similarity.Vectors.MaxBruteForceQueries]]: past the
    * ceiling, raise `minWordCount` — pruning the long tail of
    * once-seen noise words is standard trainer practice (HuggingFace
    * tokenizers' `min_frequency`, SentencePiece's pruning) and is what
    * bounds the dictionary of a 100 TB corpus.
    */
  val MaxBpeVocabWords: Int = 2000000

  /** Learn a BPE merges table from the corpus — the training side of
    * [[bpeSubwords]] (Sennrich et al. 2016). ONE distributed corpus
    * scan builds the word-frequency dictionary (|vocab| ≪ corpus — the
    * standard trick that makes BPE training cheap at scale); the
    * bounded dictionary is then trained DRIVER-LOCALLY with
    * incremental pair-count maintenance, the reference trainer's
    * design: each round pops the globally best pair from a
    * lazily-invalidated heap and re-counts only the words that contain
    * it, so round cost is proportional to the pair's support, not the
    * vocabulary, and the Spark-job count is O(1) in `nMerges` (a 32k-
    * merge production vocabulary is ~32k heap pops, not 32k Spark
    * jobs).
    *
    * Semantics are EXACTLY the per-round full re-segmentation the
    * oracle replays: best pair by (weighted count desc, then (a, b)
    * UTF-8-bytewise ascending — Spark's and DuckDB's string order), a
    * `minPairCount` stop rule, and greedy lowest-rank re-segmentation
    * between rounds. Incremental application (merge only the newest
    * pair's occurrences) equals full re-segmentation unless the new
    * token's string collides with a component of an EARLIER rule — the
    * one case where a fresh adjacency could activate a lower rank
    * mid-walk; the trainer detects that collision and falls back to a
    * full driver-local rebuild for that round, so the equivalence is
    * unconditional, not assumed.
    *
    * Dictionary size is guarded by `maxVocab` (a bounded
    * `limit(maxVocab+1)` collect, never an unbounded one): past the
    * ceiling the call fails loudly with the remediation — raise
    * `minWordCount` to prune the long tail, the standard practice that
    * bounds any real corpus's dictionary.
    */
  def learnBpeMerges(docs: org.apache.spark.sql.DataFrame, nMerges: Int,
                     textCol: String = "text",
                     minPairCount: Long = 2L,
                     minWordCount: Long = 1L,
                     maxVocab: Int = MaxBpeVocabWords,
                     byteLevel: Boolean = false):
      Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val words = docs
      .select(explode(tokens(col(textCol).cast("string"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minWordCount)
      .limit(maxVocab + 1)
      .collect()
    require(words.length <= maxVocab,
      s"BPE training dictionary exceeds $maxVocab distinct words: " +
        "raise minWordCount to prune the long tail (standard trainer " +
        "practice - HF tokenizers' min_frequency) or raise maxVocab")
    // byte-level training runs the same trainer over the GPT-2 symbol
    // alphabet (the mapping is injective, so counts carry over); the
    // learned pairs are symbol strings for [[bpeSubwordsBytes]]
    val dict = words.map { r =>
      val w = r.getString(0)
      (if (byteLevel) graft.plans.BpeBytes.symbols(w) else w, r.getLong(1))
    }
    trainBpeDriver(dict, nMerges, minPairCount)
  }

  /** UTF-8-bytewise string comparison — Spark `UTF8String` binary
    * order and DuckDB's default collation, NOT Java's UTF-16 code-unit
    * order (they differ for supplementary characters vs U+E000+).
    */
  private[graft] def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Greedy lowest-rank-then-leftmost segmentation of one word —
    * the driver-side twin of [[graft.plans.BpeEncodeExpr.encode]]
    * (same U+0001 rank key, same code-point char split).
    */
  private[graft] def greedySegment(word: String,
      ranks: java.util.HashMap[String, Integer]):
      scala.collection.mutable.ArrayBuffer[String] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      toks += word.substring(i, i + n)
      i += n
    }
    graft.plans.BpeWalk.merge(toks, ranks)
    toks
  }

  /** The in-memory incremental trainer over a (word, count) dictionary.
    * State: per-word segmentations, a pair→weighted-count map, a
    * pair→word-index support set (verified on use, so stale entries are
    * harmless), and a lazily-invalidated max-heap ordered by the
    * query's exact total order. Each round is O(support of the chosen
    * pair); a token-string collision with an earlier rule's component
    * (the only case where incremental ≠ full re-segmentation) triggers
    * a full rebuild for that round.
    */
  private[graft] def trainBpeDriver(dict: Array[(String, Long)], nMerges: Int,
                             minPairCount: Long): Seq[(String, String)] = {
    import scala.collection.mutable
    type Pair = (String, String)
    val segs = new Array[mutable.ArrayBuffer[String]](dict.length)
    val wcnt = dict.map(_._2)
    val pairCount = mutable.HashMap.empty[Pair, Long]
    val pairWords = mutable.HashMap.empty[Pair, mutable.BitSet]
    // count desc, then (a, b) UTF-8 ascending; entries carry the count
    // they were pushed with and are discarded on pop if stale
    val heap = new java.util.PriorityQueue[(Long, String, String)](64,
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String),
                    y: (Long, String, String)): Int = {
          if (x._1 != y._1) java.lang.Long.compare(y._1, x._1)
          else {
            val ca = utf8Compare(x._2, y._2)
            if (ca != 0) ca else utf8Compare(x._3, y._3)
          }
        }
      })

    def addPair(p: Pair, idx: Int, delta: Long): Unit = {
      val nc = pairCount.getOrElse(p, 0L) + delta
      if (nc <= 0L) pairCount.remove(p)
      else {
        pairCount(p) = nc
        heap.add((nc, p._1, p._2))
      }
      if (delta > 0L)
        pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += idx
    }

    def countWord(idx: Int, sign: Long): Unit = {
      val s = segs(idx)
      var j = 0
      while (j < s.length - 1) {
        addPair((s(j), s(j + 1)), idx, sign * wcnt(idx))
        j += 1
      }
    }

    def ranksOf(merges: Seq[Pair]): java.util.HashMap[String, Integer] =
      graft.plans.BpeWalk.ranksOf(merges)

    def rebuild(merges: Seq[Pair]): Unit = {
      pairCount.clear(); pairWords.clear(); heap.clear()
      val ranks = ranksOf(merges)
      var i = 0
      while (i < dict.length) {
        segs(i) = greedySegment(dict(i)._1, ranks)
        countWord(i, 1L)
        i += 1
      }
    }

    rebuild(Nil)
    val merges = mutable.ListBuffer.empty[Pair]
    val components = mutable.HashSet.empty[String]
    var stop = false
    while (!stop && merges.size < nMerges) {
      var best: Pair = null
      var bestCnt = 0L
      while (best == null && !heap.isEmpty) {
        val (c, a, b) = heap.poll()
        if (pairCount.get((a, b)).contains(c)) { best = (a, b); bestCnt = c }
      }
      if (best == null || bestCnt < minPairCount) stop = true
      else {
        merges += best
        val (a, b) = best
        val newTok = a + b
        if (components.contains(newTok)) {
          // a fresh (x, newTok)/(newTok, y) adjacency could match an
          // earlier rule: incremental application would diverge from
          // greedy re-segmentation, so rebuild from scratch this round
          rebuild(merges.toList)
        } else {
          val support = pairWords.remove(best).getOrElse(mutable.BitSet.empty)
          support.foreach { idx =>
            val s = segs(idx)
            var j = 0
            var found = false
            while (!found && j < s.length - 1) {
              found = s(j) == a && s(j + 1) == b
              j += 1
            }
            if (found) { // stale support entries scan and skip
              countWord(idx, -1L)
              var k = 0
              while (k < s.length - 1) {
                if (s(k) == a && s(k + 1) == b) {
                  s(k) = newTok
                  s.remove(k + 1)
                }
                // the merged token can never start a new (a, b) pair
                // (newTok != a since b is non-empty), so advance
                k += 1
              }
              countWord(idx, 1L)
            }
          }
        }
        components += a
        components += b
      }
    }
    merges.toList
  }

  /** BPE tokenize-to-ids: [[bpeSubwords]] per document, a dictionary
    * built from the corpus's own subword inventory
    * ([[dictionaryEncode]] — global sorted rank, engine-independent),
    * and per-doc ordered reassembly. Same broadcast-join shape as
    * [[encodeTokens]]; the subword vocabulary (≤ |chars| + |merges|)
    * is always broadcastable.
    */
  def encodeTokensBpe(docs: org.apache.spark.sql.DataFrame,
                      merges: Seq[(String, String)],
                      idCol: String = "doc_id", textCol: String = "text"):
      org.apache.spark.sql.DataFrame = {
    val sub = docs.select(col(idCol),
      posexplode(bpeSubwords(col(textCol), merges)).as(Seq("pos", "token")))
    val dict = dictionaryEncode(sub.select(col("token")), "token")
    sub
      .join(org.apache.spark.sql.functions.broadcast(
        dict.withColumnsRenamed(Map("value" -> "token"))),
        Seq("token"), "left")
      .withColumn("id", coalesce(col("id"), lit(-1L)))
      .groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("id")))),
        x => x.getField("id").cast("string")), ",").as("ids"))
  }

  /** Marker-word language-ID heuristic: count hits per language's
    * marker set; predict the first language (in `markers` order) with
    * the maximal count, 'und' when all counts are zero. Deterministic
    * priority order makes ties reproducible.
    */
  def langScores(text: Column,
                 markers: Seq[(String, Seq[String])]): Seq[(String, Column)] =
    markers.map { case (lang, words) =>
      val toks = tokens(text)
      val ws = words.map(lit(_))
      s"score_$lang" ->
        size(filter(toks, t => ws.map(t === _).reduce(_ || _))).cast("long")
    }

  def langPredict(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((name, score), els) =>
      when(score === maxScore && maxScore > 0,
        lit(name.stripPrefix("score_"))).otherwise(els)
    }
  }
}
