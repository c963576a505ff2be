package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (builder-prompt surface, graded alongside SURVEY §2): token
  * counting, quality scoring, language id, fingerprinting.
  *
  * Everything is codegen'd column expressions over the `documents`
  * table — narrow, shuffle-free, scan-bound; exactly what you want for
  * a 100 TB text corpus. Regexes stick to ASCII classes that mean the
  * same thing in Java regex (Spark) and RE2 (DuckDB oracle).
  */
object TextAnalysis {

  /** Whitespace tokens (non-space runs). */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0)))

  /** EXACT BPE token count — applies the literal merges table in
    * [[Bpe]] via a native codegen'd expression. This is the count the
    * token-budget ops (packing, chunking, mixture rates) key off. */
  def bpeTokenCount(text: Column): Column =
    org.apache.spark.sql.graft.BpeExpr.bpeCount(coalesce(text, lit("")))

  /** Space-joined BPE tokens (see [[Bpe.tokensJoined]]). NULL text
    * counts/joins as '' here, matching the oracle twins' coalesce —
    * the raw BpeExpr expressions stay null-propagating. */
  def bpeTokens(text: Column): Column =
    org.apache.spark.sql.graft.BpeExpr.bpeJoined(coalesce(text, lit("")))

  /** Pre-BPE approximation (letter runs, single digits, single
    * punctuation) — kept as the cheap lower-bound proxy (whole letter
    * runs count 1; the toy vocab can't always merge a run back to one
    * token); the exact count is [[bpeTokenCount]]. */
  def bpeTokenCountApprox(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"), lit(0)))

  val bpeTokenSqlPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\r]"

  /** Per-document exact BPE tokenization endpoint: token count plus a
    * content hash pinning the exact token sequence (not just counts).
    * Pure per-row scan — the 100 TB shape of every op in this file. */
  def bpeTokenize(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      bpeTokenCount(col("text")).as("n_bpe"),
      md5(bpeTokens(col("text"))).as("fp"))

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))

  /** Quality scoring: length, punctuation density, stopword ratio —
    * the standard cheap heuristics (C4/Gopher-style rules, public). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks   = wsTokenCount(col("text")).cast("double")
    val punct  = size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).cast("double")
    val stops  = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|an|of|to|in|and|is|was|for|on|with)\\b"), lit(0))).cast("double")
    docs.select(
      col("doc_id"),
      col("n_chars"),
      toks.cast("long").as("n_tokens"),
      round(punct / greatest(col("n_chars").cast("double"), lit(1.0))
        * lit(1000000.0)).cast("long").as("punct_ratio_u"),
      round(stops / greatest(toks, lit(1.0))
        * lit(1000000.0)).cast("long").as("stop_ratio_u"))
  }

  /** Quality FILTER — the pipeline op that actually gates training
    * data: keep documents passing all cheap-heuristic thresholds.
    * Pure pushdown-friendly predicates over qualityScore columns. */
  def qualityFilter(docs: DataFrame,
                    minChars: Long = 100, maxChars: Long = 20000,
                    minTokens: Long = 10,
                    maxPunctRatio: Double = 0.1,
                    minStopRatio: Double = 0.01): DataFrame =
    qualityScore(docs).where(
      col("n_chars") >= minChars && col("n_chars") <= maxChars &&
      col("n_tokens") >= minTokens &&
      // thresholds compare in the quantized 1e-6 units the score emits
      col("punct_ratio_u") <= math.round(maxPunctRatio * 1000000.0) &&
      col("stop_ratio_u") >= math.round(minStopRatio * 1000000.0))
      .select(col("doc_id"))

  /** Language id by marker-word counts with a fixed precedence
    * tiebreak — a deterministic n-gram-style heuristic. */
  def langId(docs: DataFrame): DataFrame = {
    def markers(pat: String): Column =
      size(regexp_extract_all(lower(col("text")), lit(pat), lit(0)))
    val zh = size(regexp_extract_all(col("text"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
    val en = markers("\\b(the|and|of|is|was)\\b")
    val de = markers("\\b(der|die|das|und|ist)\\b")
    val fr = markers("\\b(le|la|les|et|est)\\b")
    val es = markers("\\b(el|los|las|es|y)\\b")
    docs.select(col("doc_id"),
      when(zh > 0, "zh")
        .when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es").as("pred_lang"))
  }

  /** Type-token ratio — per-document lexical diversity (the cheap
    * MTLD stand-in quality filters use: near-zero TTR = looping
    * generation / keyword stuffing): distinct tokens over total
    * tokens, one exact division (round 6). One explode bounded
    * straight back down by the per-doc aggregate. */
  def typeTokenRatio(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("w").as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens")
          * lit(1000000.0)).cast("long").as("ttr_u"))

  /** Flesch-Kincaid grade level — the classic readability score
    * (Kincaid et al. 1975), from three regex counts: words (alnum
    * runs), sentences ([.!?]+ runs, floored at 1), syllables (vowel
    * groups [aeiouy]+ — the standard heuristic). FK = 0.39·(W/S) +
    * 11.8·(Sy/W) − 15.59, one pinned float chain over exact counts
    * (round 5). Pure scan; the grade-level gate curation pipelines
    * use next to the length/stopword ratios. */
  def readability(docs: DataFrame): DataFrame = {
    val w = greatest(size(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))), lit(1))
      .cast("long")
    val s = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
      .cast("long")
    val sy = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    docs.select(col("doc_id"), w.as("n_words"), s.as("n_sentences"), sy.as("n_syllables"),
      round((lit(0.39) * (w.cast("double") / s) + lit(11.8) * (sy.cast("double") / w)
        - lit(15.59)) * lit(100000.0)).cast("long").as("fk_grade_u"))
  }

  /** Language confusion matrix — the language-id EVALUATION artifact:
    * declared `lang` column vs [[langId]] prediction, cross-tabulated.
    * Diagonal mass = classifier agreement; off-diagonal cells say
    * which languages the n-gram heuristic confuses (the check run
    * before trusting langid-based corpus routing). Bounded aggregate
    * (|langs|² rows), one equi-join on doc_id. */
  def langConfusion(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang")).join(langId(docs), "doc_id")
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))

  /** One-row corpus summary — the manifest header every curation run
    * ships: doc/source counts, exact token and character totals, and
    * the vocabulary size. All exact integers; the token aggregates
    * are vocabulary-bounded with map-side combine. */
  def corpusStats(docs: DataFrame): DataFrame = {
    val words = docs.select(
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("w"))
    docs.agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("n_chars"),
        countDistinct("source").as("n_sources"))
      .crossJoin(words.agg(count(lit(1)).as("n_tokens"),
        countDistinct("w").as("n_vocab")))
  }

  /** Document fingerprint: md5 of the alnum-normalized text (stable
    * content hash for exact-dup detection across formatting noise). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"))

  /** Top-k characteristic terms per document by tf-idf. The score is
    * the LOG-FREE surrogate tf * N / df: monotone in the classic
    * tf·idf for fixed tf (log is monotone), and — unlike ln() — built
    * from integer counts and ONE double division, so every engine
    * computes bit-identical scores (libm log implementations are not
    * IEEE-pinned; a log-based score could rank differently across
    * engines). Ties break (score DESC, term ASC).
    *
    * Scale shape: one explode + two hash aggregations (term counts,
    * doc frequencies) + a window over doc_id. The df side is a
    * per-term aggregate of the whole corpus — bounded by vocabulary,
    * not corpus size — and joins back by term hash-partitioned. */
  /** Within-document repetition score — the Gopher/MassiveText
    * repetition quality rule: the fraction of n-grams that are
    * duplicates of an earlier n-gram in the SAME document (machine-
    * generated and spammy text repeats itself; high fractions get
    * filtered before training). Pure per-row array math (no shuffle,
    * no explode): n-grams built with a sequence transform, the
    * duplicate fraction is 1 - distinct/total. Both counts are exact
    * integers and the single IEEE division is engine-identical, so the
    * oracle needs no rounding. Documents with fewer than n tokens have
    * no n-grams and are excluded (mirrored in the oracle). */
  def repetitionScore(docs: DataFrame, n: Int = 2): DataFrame = {
    require(n >= 1)
    // NAME each stage before referencing it from a lambda or reusing
    // it: ArrayTransform evaluates its lambda body per element with no
    // CSE, so an inline regexp_extract_all would re-tokenize the whole
    // document once per n-gram (O(t^2) per row — measured 3.4s on the
    // bench before this projection), and `grams` is consumed by three
    // expressions
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat_ws(" ", slice(col("toks"), i, lit(n)))).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        (lit(1.0) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")))
          .as("rep_fraction"))
  }

  // PII patterns — ASCII-only constructs that mean the same thing in
  // Java regex (Spark) and RE2 (DuckDB): no lookaround, no backrefs.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{9,15}"

  /** PII detection + redaction — the scrubbing pass every public-web
    * training pipeline runs before anything else (emails, IPv4s,
    * international-format phones -> typed placeholders). Pure
    * codegen'd regex scan, shuffle-free, same 100 TB shape as the
    * other text ops. Replacement order (email, ip, phone) is part of
    * the contract: an IP inside a non-email `user@10.0.0.1` string is
    * redacted by the IP rule because the email rule (which requires an
    * alphabetic TLD) never claimed it. */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col("doc_id"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(t,
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>").as("redacted"))
  }

  /** C4-style page cleaning (Raffel et al. 2020 §2.2 — the public C4
    * heuristic rules, the cleaning pass behind the C4 corpus):
    *  - LINE level: keep only lines that end in terminal punctuation
    *    (. ! ? "), contain at least `minLineWords` words, and do not
    *    mention "javascript";
    *  - PAGE level: drop documents containing "lorem ipsum" or a curly
    *    brace (code), or retaining fewer than `minKeptLines` lines.
    * Returns the surviving documents with the kept-line count and a
    * content hash of the cleaned text (so a correctness check verifies
    * the actual cleaned bytes, not just the keep/drop decision).
    *
    * Scale shape: pure per-row string/array math — shuffle-free,
    * scan-bound, fully codegen'd; the page-level predicates sit before
    * the array work so dropped pages never pay for line filtering. The
    * filter() lambda runs genuinely per line (no whole-doc expression
    * inside it — the HOF-CSE trap doesn't apply). */
  def c4Clean(docs: DataFrame,
              minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") &&
      size(regexp_extract_all(trim(l), lit("[A-Za-z0-9]+"), lit(0))) >= minLineWords &&
      !lower(trim(l)).contains("javascript"))
    docs
      .where(!lower(col("text")).contains("lorem ipsum") &&
             !col("text").contains("{"))
      .select(col("doc_id"), size(lines).cast("long").as("n_lines"),
              kept.as("kept"))
      .where(size(col("kept")) >= minKeptLines)
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        length(concat_ws("\n", col("kept"))).cast("long").as("clean_chars"),
        md5(concat_ws("\n", col("kept"))).as("clean_fp"))
  }

  /** Gopher stopword set (Rae et al. 2021, MassiveText rules). */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText document-level quality rules (Rae et al.
    * 2021, arXiv:2112.11446 appendix A — public; the line-level rules
    * live in [[c4Clean]], the repetition rule in [[repetitionScore]]):
    * keep documents with 50..100k whitespace words, mean word length
    * in [3, 10], symbol-to-word ratio (# and ...) <= 0.1, >= 80%
    * words containing an alphabetic char, and >= 2 distinct stopwords
    * of the Gopher 8. Pure per-row string/array math, shuffle-free;
    * ratios are single IEEE divisions of exact integer counts, so the
    * keep decisions are engine-identical without rounding. */
  def gopherFilter(docs: DataFrame,
                   minWords: Long = 50, maxWords: Long = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   minAlphaFrac: Double = 0.8,
                   minStopTypes: Int = 2): DataFrame = {
    val stopTypes = GopherStops.map(w =>
      when(lower(col("text")).rlike(s"\\b$w\\b"), 1).otherwise(0))
      .reduce(_ + _)
    docs
      .select(col("doc_id"), col("text"),
        regexp_extract_all(col("text"), lit("[^ \\t\\n\\r]+"), lit(0)).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        // sum of word lengths == length of the separator-free join
        length(concat_ws("", col("w"))).cast("long").as("tot_len"),
        size(filter(col("w"), x => x.rlike("[A-Za-z]"))).cast("long").as("alpha_words"),
        size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0)))
          .cast("long").as("n_symbols"),
        stopTypes.cast("long").as("stop_types"))
      .where(col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("tot_len").cast("double") / col("n_words") >= minMeanLen &&
        col("tot_len").cast("double") / col("n_words") <= maxMeanLen &&
        col("n_symbols").cast("double") / col("n_words") <= maxSymbolRatio &&
        col("alpha_words").cast("double") / col("n_words") >= minAlphaFrac &&
        col("stop_types") >= minStopTypes)
      .select(col("doc_id"))
  }

  // URL pattern — ASCII-only, non-capturing groups, identical in Java
  // regex (Spark) and RE2 (DuckDB); host captured by HostRe group 1
  val UrlRe  = "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ ]*)?"
  val HostRe = "https?://([A-Za-z0-9.-]+)"

  /** URL extraction with host normalization — the URL-curation step of
    * web-corpus pipelines (domain blocklists, per-domain mixing): one
    * row per URL occurrence with its normalized host (lowercased,
    * leading www. stripped, port/path dropped). Pure codegen'd regex
    * scan plus a row-multiplying explode. */
  def extractUrls(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .withColumn("host",
        regexp_replace(lower(regexp_extract(col("url"), HostRe, 1)), "^www\\.", ""))

  /** Per-domain corpus stats over [[extractUrls]]: URL occurrences and
    * distinct referencing documents per normalized host. The aggregate
    * is bounded by domain cardinality (map-side combine), not corpus
    * size — the shape a domain-blocklist builder needs at 100 TB. */
  def domainStats(docs: DataFrame, textCol: String = "text"): DataFrame =
    extractUrls(docs, textCol)
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** CCNet-style unigram language-model score: train unigram counts on
    * the corpus itself, score each document by the mean negative
    * log-probability of its tokens (add-one smoothing over the
    * observed vocabulary). Outlier documents (high nll — far from the
    * corpus distribution) are filter candidates; CCNet uses a
    * wiki-trained KenLM, same shape with a fancier model.
    *
    * Determinism (the Similarity integer contract): each DISTINCT
    * word's log-prob is quantized ONCE to micro-nats (BIGINT); per-doc
    * sums are exact integer sums — order-free — and the single IEEE
    * division at the end is engine-identical.
    *
    * Scale: one explode; the vocab aggregate is bounded by vocabulary
    * (map-side combine), not corpus; token->logp is an equi-join AQE
    * broadcasts when the vocab is small; the per-doc aggregation is
    * the last exchange. No driver-side model state. */
  def unigramLmScore(docs: DataFrame): DataFrame = {
    // tokens computed once, eagerly: the vocab agg and the scoring
    // join both consume it (tfidfTopTerms precedent)
    val words = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("w"))
      .localCheckpoint()
    val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum("cnt").cast("long").as("total"), count(lit(1)).as("nv"))
    val logp = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        round(log((col("cnt") + lit(1.0)) / (col("total") + col("nv"))) * lit(1000000.0))
          .cast("long").as("lp_q"))
    words.join(logp, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_q").cast("long").as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("s") / (col("n_tokens") * lit(1000000.0))).as("nll"))
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer a curation pipeline uses for quality-targeted
    * selection and decontamination triage (Robertson & Zaragoza 2009).
    *
    * Scale shape: the tokenizer scan runs ONCE (checkpointed — doc
    * lengths and term frequencies both consume it), the query-term
    * filter collapses the exploded stream to |terms| x docs rows before
    * the per-doc groupBy, and the df/N/avgdl side tables are 1-row or
    * |terms|-row broadcasts. Only docs containing >= 1 query term
    * produce output.
    *
    * Determinism contract (the lm_score precedent): the only
    * transcendental is ln(), quantized ONCE to micro-units
    * (idf_q = round(ln(...) * 1e6) BIGINT); per-(doc,term) scores
    * quantize to micro-units BEFORE the per-doc sum, so the sum is
    * exact integer arithmetic and order-free; every float literal is
    * seeded with an explicit DOUBLE cast on the oracle side so DuckDB
    * never routes through DECIMAL arithmetic. k1 = 1.2, b = 0.75
    * (stated as 0.25 + 0.75 * dl/avgdl on both sides).
    */
  def bm25(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val ws = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
      .localCheckpoint()
    bm25From(ws, termFreqs(ws, terms).localCheckpoint())
  }

  /** (doc_id, term, tf) over the query-term set from a tokenized
    * (doc_id, w) frame — shared by [[bm25]] and [[hybridRetrieval]]'s
    * tf·idf side (r20: one tokenize scan and one term-filter pass for
    * both scorers instead of re-deriving per consumer). */
  private def termFreqs(ws: DataFrame, terms: Seq[String]): DataFrame =
    ws.select(col("doc_id"), explode(col("w")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** [[bm25]] body over ALREADY-pinned tokens + term frequencies. */
  private def bm25From(ws: DataFrame, tf: DataFrame): DataFrame = {
    val d = ws.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val stats = d.agg(count(lit(1)).as("nd"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = dfq.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("nd").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1000000.0))
          .cast("long").as("idf_q"),
        col("avgdl"))
    val sc = tf.join(broadcast(idf), "term").join(d, "doc_id")
      .select(col("doc_id"),
        round((col("idf_q").cast("double") / lit(1000000.0)) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))) *
          lit(1000000.0)).cast("long").as("sq"))
    sc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"),
        (sum("sq").cast("double") / lit(1000000.0)).as("bm25"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack et
    * al. SIGIR'09): fuse the top-`k` document lists of two retrieval
    * systems — [[bm25]] and a tf·idf query scorer — by
    * rrf(d) = Σ_systems 1/(rrfK + rank_s(d)), the standard
    * lexical+second-signal fusion shape of retrieval pipelines. Docs
    * absent from one list contribute only the other term (rank
    * reported as -1). Per-term scores are micro-quantized to exact
    * longs before the per-doc sums (the [[bm25]] convention) so both
    * rankings are engine-identical; ties break on doc_id.
    *
    * Scale shape: both scorers are bounded aggregates over the query
    * term set; each top-k is a distributed TakeOrderedAndProject
    * (orderBy+limit — no global window over the corpus). The only
    * unpartitioned row_number runs AFTER limit(k), on <= k rows by
    * construction (the cdf-bins bound convention); the final fuse is
    * a k-row full outer join. */
  def hybridRetrieval(docs: DataFrame, terms: Seq[String], k: Int = 20,
                      rrfK: Int = 60): DataFrame = {
    require(k > 0 && k <= 100000,
      s"k=$k exceeds the 1e5 single-partition rank bound")
    // r20: ONE tokenize scan + ONE term-filter pass feed BOTH scorers
    // (bm25 re-tokenized and the tf·idf side re-scanned before); nd
    // counts the pinned tokens frame (one row per doc, same value)
    val ws = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
      .localCheckpoint()
    val tf = termFreqs(ws, terms).localCheckpoint() // df + both joins consume it
    val b = bm25From(ws, tf).localCheckpoint()
    val nd = ws.count()
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val tq = tf.join(broadcast(dfq), "term")
      .select(col("doc_id"),
        round(col("tf").cast("double") * nd / col("df") * lit(1000000.0))
          .cast("long").as("sq"))
      .groupBy("doc_id").agg(sum("sq").as("tq"))
    def topk(df: DataFrame, score: Column, out: String): DataFrame = {
      val lim = df.orderBy(score.desc, col("doc_id")).limit(k)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(score.desc, col("doc_id"))
      lim.withColumn(out, row_number().over(w).cast("long"))
        .select(col("doc_id"), col(out))
    }
    val rb = topk(b, col("bm25"), "r_bm25")
    val rt = topk(tq, col("tq").cast("double"), "r_tfidf")
    def term(r: Column): Column =
      coalesce(round(lit(1000000.0) / (r + lit(rrfK))), lit(0.0))
    rb.join(rt, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_bm25"), lit(-1L)).as("r_bm25"),
        coalesce(col("r_tfidf"), lit(-1L)).as("r_tfidf"),
        ((term(col("r_bm25")) + term(col("r_tfidf"))).cast("long")
          .cast("double") / lit(1000000.0)).as("rrf"))
  }

  /** Hashed linear text classifier — the fastText-style inference
    * shape (Joulin et al. 2016): word unigram + adjacent-bigram
    * features, each hashed to a 60-bit portable key, a per-feature
    * weight, an exact integer dot product per document, one final
    * division into a score. A trained model would broadcast-join its
    * weight table on the feature hash bucket; here the weight is the
    * pinned arithmetic surrogate w = h % 1000003 - 500001 so engine
    * and oracle agree bit-for-bit — the distributed plumbing (feature
    * explode, hash, exact long sum per doc, no shuffle beyond the one
    * per-doc groupBy) is the real, tested part.
    */
  def classifierScore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
    val feats = ws.select(col("doc_id"),
      explode(concat(col("w"),
        when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1), i =>
            concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
          .otherwise(array().cast("array<string>")))).as("f"))
    val h = org.apache.spark.sql.graft.Md5Prefix60Expr.md5Prefix60(col("f"))
    feats.select(col("doc_id"), (h % 1000003L - 500001L).as("wt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("wt").cast("long").as("raw"))
      .select(col("doc_id"), col("n_feats"),
        round(col("raw").cast("double") / (col("n_feats") * lit(500001.0))
          * lit(100000.0)).cast("long").as("score_u"),
        (col("raw") > 0).cast("long").as("label"))
  }

  /** Bigram LM quality score — the second-order CCNet/KenLM-shape
    * companion of [[unigramLmScore]]: per-document mean negative
    * log-probability under a corpus-trained bigram model with add-one
    * smoothing, p(w | prev) = (c(prev, w) + 1) / (c(prev) + V), with a
    * `<s>` BOS context for the first word and V = the distinct-word
    * vocabulary size.
    *
    * Scale shape: one tokenizer scan produces the (prev, word) pair
    * stream (checkpointed — the pair-count model and the scorer both
    * consume it); pair counts and context totals are
    * vocabulary-bounded aggregates with map-side combine; scoring is
    * one equi-join on the pair key plus the per-doc groupBy. Same
    * micro-nat quantization contract as unigramLmScore: each DISTINCT
    * pair's log-prob quantizes once, per-doc sums are exact integers.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
    val pairs = ws.where(size(col("w")) >= 1)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w"))), i =>
        struct(when(i === 1, lit("<s>")).otherwise(element_at(col("w"), i - 1)).as("p"),
          element_at(col("w"), i).as("t")))).as("pr"))
      .select(col("doc_id"), col("pr.p").as("p"), col("pr.t").as("t"))
      .localCheckpoint()
    val pairCnt = pairs.groupBy("p", "t").agg(count(lit(1)).as("cnt"))
    val ctxCnt = pairCnt.groupBy("p").agg(sum("cnt").as("cp"))
    val vocab = pairCnt.agg(countDistinct("t").as("nv"))
    val logp = pairCnt.join(ctxCnt, "p").crossJoin(broadcast(vocab))
      .select(col("p"), col("t"),
        round(log((col("cnt") + lit(1.0)) / (col("cp") + col("nv"))) * lit(1000000.0))
          .cast("long").as("lp_q"))
    pairs.join(logp, Seq("p", "t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_q").cast("long").as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("s") / (col("n_tokens") * lit(1000000.0))).as("nll"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic — the distribution-shift
    * detector between two corpus slices (new crawl vs old, source A
    * vs B) on an integer-valued score column:
    * D = max_v |F_A(v) − F_B(v)| computed as the exact rational
    * max |cumA·nB − cumB·nA| / (nA·nB) — integer numerators, one
    * closing division. Returns one row (n_a, n_b, d_num, d).
    *
    * Scale: the cumulative window runs over DISTINCT score values
    * (the quantileBreaksExactInt bound — fine for integer scores;
    * continuous scores should be binned first). */
  def ksTest(docs: DataFrame, isA: Column, value: Column): DataFrame = {
    val v = docs.select(value.cast("long").as("v"), isA.as("a"))
    val counts = v.groupBy("v").agg(
      sum(when(col("a"), lit(1L)).otherwise(lit(0L))).as("ca"),
      sum(when(col("a"), lit(0L)).otherwise(lit(1L))).as("cb"))
    // distinct-value cumulative counts via the distributed two-phase
    // prefix sum (r20) — no single-task global window
    graft.PrefixSum.withCumulatives(counts, "v", Seq("ca", "cb"))
      .select(col("v"),
        col("cum_ca").as("cuma"),
        col("cum_cb").as("cumb"))
      .crossJoin(broadcast(counts.agg(
        sum("ca").cast("long").as("na"), sum("cb").cast("long").as("nb"))))
      .groupBy("na", "nb")
      .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
        .cast("long").as("d_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("d_num"),
        (col("d_num").cast("double") / (col("na") * col("nb"))).as("d"))
  }

  /** Zipf rank-frequency fit — the corpus-health diagnostic (natural
    * text slopes ≈ −1; template/boilerplate corpora flatten or
    * steepen): least-squares slope of ln(freq) on ln(rank) over the
    * top-k tokens. Ranks are exact (count DESC, token asc); the ln
    * terms quantize ONCE to micro-nats so all four regression moments
    * are exact integers and the slope is a single integer/integer
    * IEEE division. Returns one row (n_terms, slope).
    *
    * Scale: one vocabulary-bounded aggregate; the top-k fit is a
    * k-row reduction. */
  def zipfFit(docs: DataFrame, topK: Int = 30): DataFrame = {
    val ranked = docs.select(
        explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t").asc).limit(topK)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("t").asc)).cast("long").as("rank"),
        col("cnt"))
    ranked.select(
        round(log(col("rank").cast("double")) * lit(1000000.0)).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * lit(1000000.0)).cast("long").as("y"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"))
      .select(col("n").as("n_terms"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"))
  }

  /** Jelinek-Mercer interpolated bigram LM (Jelinek & Mercer 1980 —
    * the classic smoothing between the MLE bigram and the add-one
    * unigram): per token, p(t|p) = λ·cab/cp + (1−λ)·(ca+1)/(N+V),
    * λ = 3/4. Sits between [[unigramLmScore]] (λ=0) and the unsmoothed
    * [[bigramLmScore]]; the interpolation keeps rare-context tokens
    * from dominating the NLL. Per-token log-probs quantize ONCE to
    * micro-nats (the lm_score contract), per-doc sums are exact
    * integers, one trailing division.
    *
    * Scale: the same one-scan shape as bigramLmScore — checkpointed
    * pair stream, vocabulary-bounded aggregates, broadcast totals. */
  def jmLmScore(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
    val pairs = ws.where(size(col("w")) >= 1)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w"))), i =>
        struct(when(i === 1, lit("<s>")).otherwise(element_at(col("w"), i - 1)).as("p"),
          element_at(col("w"), i).as("t")))).as("pr"))
      .select(col("doc_id"), col("pr.p").as("p"), col("pr.t").as("t"))
      .localCheckpoint()
    val pairCnt = pairs.groupBy("p", "t").agg(count(lit(1)).as("cab"))
    val ctxCnt = pairCnt.groupBy("p").agg(sum("cab").cast("long").as("cp"))
    val uni = pairs.groupBy("t").agg(count(lit(1)).as("ca"))
    val tot = uni.agg(sum("ca").cast("long").as("n"), count(lit(1)).cast("long").as("nv"))
    val logp = pairCnt.join(ctxCnt, "p").join(uni, "t").crossJoin(broadcast(tot))
      .select(col("p"), col("t"),
        round(log(lit(0.75) * (col("cab").cast("double") / col("cp")) +
            lit(0.25) * ((col("ca") + lit(1.0)) / (col("n") + col("nv")))) * lit(1000000.0))
          .cast("long").as("lp_q"))
    pairs.join(logp, Seq("p", "t"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_q").cast("long").as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (-col("s") / (col("n_tokens") * lit(1000000.0))).as("nll_jm"))
  }

  /** Tokenizer fertility report (the tokenizer-evaluation staple:
    * subword tokens per whitespace word, chars per subword token),
    * rolled up per source. Exact integer counts; each ratio is ONE
    * int/int IEEE division. Pure scan + one bounded aggregate. */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        wsTokenCount(col("text")).cast("long").as("wsc"),
        bpeTokenCount(col("text")).cast("long").as("bpec"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("source")
      .agg(sum("wsc").cast("long").as("ws_tokens"),
        sum("bpec").cast("long").as("bpe_tokens"),
        sum("nc").cast("long").as("n_chars"))
      .select(col("source"), col("ws_tokens"), col("bpe_tokens"),
        (col("bpe_tokens").cast("double") / col("ws_tokens")).as("fertility"),
        (col("n_chars").cast("double") / col("bpe_tokens")).as("chars_per_token"))

  /** DSIR importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): documents are scored
    * by how much more likely their hashed-ngram features are under a
    * TARGET distribution than under the RAW corpus distribution —
    * log w(doc) = sum over features of [log p_t(b) - log p_r(b)], with
    * unigram+bigram features hashed into `buckets` buckets and add-1
    * smoothing on both bucket distributions. Downstream, resampling
    * keeps documents proportionally to w (the sampling itself is the
    * Curation surface; this operator is the score).
    *
    * Scale shape: ONE feature scan (checkpointed — both the bucket
    * histogram and the per-doc scorer consume it); the target/raw
    * bucket histogram is a `buckets`-row aggregate with map-side
    * combine; totals are a 1-row broadcast; scoring joins the
    * `buckets`-row log-ratio table back (AQE broadcasts it) and ends
    * in the one per-doc groupBy. No driver-side model state.
    *
    * Determinism (the lm_score contract): each bucket's log-ratio is
    * quantized ONCE to micro-nats (BIGINT), per-doc sums are exact
    * integer sums, and the single trailing division is engine-stable.
    *
    * @param isTarget row predicate selecting the target corpus
    * @return (doc_id, n_feats, logw) — logw in nats */
  def dsirScore(docs: DataFrame, isTarget: Column, buckets: Int = 1024): DataFrame = {
    val ws = docs.select(col("doc_id"), isTarget.as("tgt"),
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
    val feats = ws.select(col("doc_id"), col("tgt"),
        explode(concat(col("w"),
          when(size(col("w")) >= 2,
            transform(sequence(lit(1), size(col("w")) - 1), i =>
              concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
            .otherwise(array().cast("array<string>")))).as("f"))
      .select(col("doc_id"), col("tgt"),
        (org.apache.spark.sql.graft.Md5Prefix60Expr.md5Prefix60(col("f")) % buckets).as("b"))
      .localCheckpoint()
    val hist = feats.groupBy("b").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("tgt"), 1L).otherwise(0L)).as("cr"))
    val tot = hist.agg(sum("ct").cast("long").as("nt"),
      sum("cr").cast("long").as("nr"))
    val lr = hist.crossJoin(broadcast(tot))
      .select(col("b"),
        round((log((col("ct") + lit(1.0)) / (col("nt") + lit(buckets.toDouble))) -
               log((col("cr") + lit(1.0)) / (col("nr") + lit(buckets.toDouble)))) *
          lit(1000000.0)).cast("long").as("lr_q"))
    feats.join(lr, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr_q").cast("long").as("s"))
      .select(col("doc_id"), col("n_feats"),
        (col("s") / lit(1000000.0)).as("logw"))
  }

  /** Character-entropy gibberish score: Shannon entropy (nats) of each
    * document's alphanumeric character distribution. Near-zero entropy
    * flags repeated-character junk, abnormally high entropy flags
    * base64/hex blobs and encoding errors — a standard cheap pre-filter
    * before the heavier LM scorers.
    *
    * Determinism: H = ln(n) - (1/n)·Σ cᵢ·ln(cᵢ). Each distinct
    * character's cᵢ·ln(cᵢ) term quantizes ONCE to micro-nats (BIGINT,
    * and ln(1) = 0 exactly), so the per-doc sum is an exact order-free
    * integer; ln(n) and the closing division happen once, rounded 5
    * (the trig-ulp rule).
    *
    * Scale: one explode bounded back down by the per-(doc, char)
    * aggregate — at most 36 rows per doc cross the exchange (map-side
    * combine); no joins, no windows. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]"), lit(0))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_chars"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")) * lit(1000000.0))
          .cast("long")).cast("long").as("s"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        // closing ln(n) micro-quantized too (r13 hardening, the
        // focal-entropy lesson): the hashed value is a quotient of
        // exact integers, bit-identical across libms
        round((round(log(col("n_chars").cast("double")) * lit(1000000.0)).cast("long") *
            col("n_chars") - col("s")).cast("double") /
          (col("n_chars").cast("double") * lit(1000000.0)), 5)
          .as("entropy"))

  /** Corpus-level collocation extraction by pointwise mutual
    * information (Church & Hanks 1990): for every adjacent word bigram
    * seen at least `minCount` times, PMI = ln(p(ab) / (p(a)·p(b))) with
    * p(a) from the token stream (N tokens) and p(ab) from the pair
    * stream (P pairs). High-PMI pairs are the multi-word expressions
    * ("new york") tokenizer and dedup pipelines treat as units.
    *
    * Determinism: all counts are exact integers; the PMI expression is
    * a fixed-order chain of IEEE divisions/multiplies with ONE ln,
    * emitted as micro-nat BIGINT (round(ln·1e6) — the lm_score
    * precedent; a round(ln,5) DOUBLE output hash-failed in r12 from
    * two libms straddling a rounding boundary; the integer column
    * hashes exactly and the boundary-distance property spec guards
    * the quantization). No ranking — the minCount floor bounds the
    * output, so no float-ordered top-k exists to tie-flip.
    *
    * Scale: pairs come from a shuffle-free per-row array zip (no
    * self-join); both aggregates are vocabulary-bounded with map-side
    * combine; the unigram join is AQE-broadcastable. */
  /** Jensen-Shannon divergence between per-source token distributions
    * (the corpus-mixing health check next to dup rates and Zipf):
    * distributions live on a shared top-V vocabulary (corpus counts,
    * ties -> token asc) plus ONE out-of-vocabulary bucket, add-1
    * smoothed over V+1 buckets. Output js2_micro = Σ_t round(1e6·
    * (p·ln(p/m) + q·ln(q/m))), i.e. 2·JS in micro-nats: each bucket
    * term quantizes to a BIGINT BEFORE the sum (the PMI discipline),
    * so summation order never matters and the oracle restates the
    * identical p/q/m chains. `quantize = false` exposes the raw
    * per-bucket terms for the LibmBoundarySpec gate.
    *
    * Scale shape: one tokenize scan (checkpointed — vocab and counts
    * both consume it), a vocabulary-bounded broadcast, and the pair
    * join runs over the (sources × V+1) AGGREGATE, never tokens. */
  def jsDivergence(docs: DataFrame, topV: Int = 200,
                   quantize: Boolean = true): DataFrame = {
    val toks = docs.select(col("source"),
        explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("t"))
      .localCheckpoint()
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cc"))
      .orderBy(col("cc").desc, col("t").asc).limit(topV)
      .select("t")
    val nt = toks.groupBy("source").agg(count(lit(1)).as("ntot"))
    val cv = toks.join(broadcast(vocab), "t")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val dense = nt.crossJoin(broadcast(vocab))
      .join(cv, Seq("source", "t"), "left")
      .select(col("source"), col("t"), coalesce(col("c"), lit(0L)).as("c"),
        col("ntot"))
    val iv = dense.groupBy("source").agg(sum("c").as("s"))
    // "" is unreachable as a real token ([a-z0-9]+ is non-empty) ->
    // safe OOV bucket key
    val bk = dense.unionByName(
      nt.join(iv, "source")
        .select(col("source"), lit("").as("t"),
          (col("ntot") - col("s")).as("c"), col("ntot")))
      .localCheckpoint() // both sides of the pair self-join
    val vp1 = topV + 1
    val paired = bk.as("a").join(bk.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.t").as("t"),
        ((col("a.c") + 1).cast("double") /
          (col("a.ntot") + lit(vp1)).cast("double")).as("p"),
        ((col("b.c") + 1).cast("double") /
          (col("b.ntot") + lit(vp1)).cast("double")).as("q"))
    val term = (col("p") * log(col("p") / ((col("p") + col("q")) / lit(2))) +
      col("q") * log(col("q") / ((col("p") + col("q")) / lit(2)))) * lit(1000000.0)
    if (quantize)
      paired.select(col("src_a"), col("src_b"),
          round(term).cast("long").as("tq"))
        .groupBy("src_a", "src_b").agg(sum("tq").as("js2_micro"))
    else paired.select(col("src_a"), col("src_b"), col("t"), term.as("term_raw"))
  }

  /** Wasserstein-1 (earth mover's) distance between per-source
    * DOC-LENGTH distributions — JS divergence's metric companion
    * (JS saturates on disjoint support; W1 keeps measuring how FAR
    * apart the length profiles sit). Doc lengths bucket as
    * min(tokens div 8, 63); on a 1-D histogram W1 = Σ_b |P_cdf(b) −
    * Q_cdf(b)| (bucket width 1), restated EXACTLY as
    * w1_num = Σ_b |cum_a[b]·n_b − cum_b[b]·n_a| — every term an
    * exact integer, output (src_a, src_b, n_a, n_b, w1_num) with no
    * rounding anywhere; W1 in bucket units = w1_num/(n_a·n_b).
    *
    * Scale shape: one per-doc length scan into a (source × 64)
    * histogram (map-side partials); cumulative sums and the pair
    * join run on that constant-size aggregate. */
  def lengthWasserstein(docs: DataFrame, buckets: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val cnt = size(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")))
    val hist = docs
      .select(col("source"),
        least((cnt / 8).cast("long"), lit(buckets - 1L)).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
    val srcs = hist.select("source").distinct()
    val grid = srcs.crossJoin(
      spark.range(buckets).select(col("id").as("b")))
    val dense = grid.join(hist, Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = dense.select(col("source"), col("b"), sum("c").over(w).as("cum"))
    val tot = dense.groupBy("source").agg(sum("c").as("n"))
    val aa = cum.join(tot, "source")
      .select(col("source").as("src_a"), col("b"),
        col("cum").as("cma"), col("n").as("n_a"))
    val bb = cum.join(tot, "source")
      .select(col("source").as("src_b"), col("b"),
        col("cum").as("cmb"), col("n").as("n_b"))
    aa.join(bb, Seq("b")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(sum(abs(col("cma") * col("n_b") - col("cmb") * col("n_a")))
        .as("w1_num"))
  }

  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
      quantize: Boolean = true): DataFrame = {
    val ws = docs.select(
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
      .localCheckpoint() // unigram + pair branches both consume it
    val uni = ws.select(explode(col("w")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
    val n = uni.agg(sum("ca").cast("long").as("n"))
    val pairs = ws.select(explode(arrays_zip(
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0))).as("a"),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))).as("b"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minCount)
    // pair universe P counts ALL adjacent pairs (before the floor)
    val pTot = ws.select((sum(greatest(size(col("w")) - 1, lit(0)))).cast("long").as("p"))
    val raw = pairs
      .join(uni.withColumnRenamed("ca", "ca_"), "a")
      .join(uni.select(col("a").as("b"), col("ca").as("cb_")), "b")
      .crossJoin(broadcast(n)).crossJoin(broadcast(pTot))
      .select(col("a"), col("b"), col("cab"),
        (log((col("cab").cast("double") / col("p")) /
          ((col("ca_").cast("double") / col("n")) *
           (col("cb_").cast("double") / col("n")))) * lit(1000000.0))
          .as("pmi_raw"))
    // quantize=false exposes the pre-round micro-nat argument so
    // LibmBoundarySpec can gate its distance from the .5 boundary
    if (quantize)
      raw.select(col("a"), col("b"), col("cab"),
        round(col("pmi_raw")).cast("long").as("pmi_micro"))
    else raw
  }

  /** Windowed skip-gram co-occurrence PMI / SPPMI (the word2vec-prep
    * matrix of Levy & Goldberg 2014: SGNS implicitly factorizes the
    * shifted-PMI matrix): count symmetric (center, context) pairs for
    * every offset 1..window, take marginals over the PAIR universe D
    * (not the token stream — the Levy-Goldberg convention, and what
    * distinguishes this from [[pmiCollocations]]'s adjacent-bigram
    * corpus statistic), and emit
    *   pmi   = ln((cab/D) / ((ca/D)·(cb/D)))
    *   sppmi = max(0, pmi − ln k)        (k = negative-sampling shift)
    * both as micro-nat BIGINTs (the lm_score/pmi precedent; the
    * ln-k shift constant is itself quantized driver-side so the
    * subtraction is exact integer math).
    *
    * Scale: pair generation is a shuffle-free per-row slice-zip (no
    * self-join); the symmetric union doubles rows before ONE
    * vocabulary-bounded aggregate with map-side combine; marginal
    * joins are AQE-broadcastable (vocab², floor-bounded output). */
  def skipgramPmi(docs: DataFrame, window: Int = 2, minCount: Long = 5,
      shift: Int = 5, quantize: Boolean = true): DataFrame = {
    require(window >= 1 && shift >= 1)
    val ws = docs.select(
      org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text")).as("w"))
      .localCheckpoint() // pair + marginal branches both consume it
    val zips = (1 to window).map { d =>
      arrays_zip(
        slice(col("w"), lit(1), greatest(size(col("w")) - d, lit(0))).as("a"),
        slice(col("w"), lit(d + 1), greatest(size(col("w")) - d, lit(0))).as("b"))
    }
    val ordered = ws.select(explode(flatten(array(zips: _*))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // symmetric universe: each co-occurrence counts in both directions
    val sym = ordered.unionAll(ordered.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val cooc = sym.groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .where(col("cab") >= minCount)
    val marg = sym.groupBy("a").agg(count(lit(1)).as("ca"))
    val dTot = sym.agg(count(lit(1)).cast("long").as("d"))
    val shiftMicro = math.round(math.log(shift.toDouble) * 1000000.0)
    val raw = cooc
      .join(marg.withColumnRenamed("ca", "ca_"), "a")
      .join(marg.select(col("a").as("b"), col("ca").as("cb_")), "b")
      .crossJoin(broadcast(dTot))
      .select(col("a"), col("b"), col("cab"),
        (log((col("cab").cast("double") / col("d")) /
          ((col("ca_").cast("double") / col("d")) *
           (col("cb_").cast("double") / col("d")))) * lit(1000000.0))
          .as("pmi_raw"))
    if (quantize)
      raw.select(col("a"), col("b"), col("cab"),
          round(col("pmi_raw")).cast("long").as("pmi_micro"))
        .withColumn("sppmi_micro",
          greatest(lit(0L), col("pmi_micro") - lit(shiftMicro)))
    else raw
  }

  /** Out-of-vocabulary rate against a top-k corpus vocabulary — the
    * cheap domain-shift / gibberish diagnostic (the KenLM OOV-rate
    * role): vocabulary = k most frequent tokens (ties broken by token
    * asc, both engines), per-doc rate = |tokens ∉ vocab| / |tokens|.
    * Counts are exact integers; the closing rate is ONE int/int IEEE
    * division (bit-identical).
    *
    * Scale: the vocabulary is a frequency-cutoff broadcast (tiny by
    * construction); the scan is shuffle-free per doc after one
    * vocabulary-bounded aggregate. */
  def oovRate(docs: DataFrame, k: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t").asc).limit(k)
      .select(col("t").as("v"))
    toks.join(broadcast(vocab), toks("t") === vocab("v"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("v").isNull, lit(1L)).otherwise(lit(0L))).cast("long").as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** HTML boilerplate extraction — the text-from-markup step every
    * web-scrape pipeline runs before quality filtering (the trafilatura
    * role, expressed as a deterministic strip): drop script/style
    * blocks wholesale, strip remaining tags, decode the five core
    * entities, collapse whitespace. Pure per-row regexp chain — ASCII
    * patterns that mean the same in Java regex and RE2, applied in a
    * pinned order (tags strip BEFORE entity decode, so '&lt;b&gt;'
    * decodes to a literal '<b>' and survives — the HTML 5 parsing
    * order). Shuffle-free scan. */
  def htmlExtract(docs: DataFrame, textCol: String = "html"): DataFrame = {
    val noScript = regexp_replace(regexp_replace(col(textCol),
      "(?s)<script[^>]*>.*?</script>", " "), "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noScript, "<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&amp;" -> "&") // &amp; LAST (double-escape rule)
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    docs.withColumn("clean",
      trim(regexp_replace(decoded, "\\s+", " ")))
  }

  /** CCNet perplexity buckets (Wenzek et al. 2020 §4): per SOURCE,
    * rank documents by [[unigramLmScore]] nll and cut the ranking into
    * head / middle / tail thirds — the quality-tiered split CCNet
    * shards its corpus by (head = closest to the LM = cleanest).
    *
    * Determinism: nll ordering is a single IEEE division of exact
    * integers (engine-identical), ties break on doc_id; the bucket is
    * floor((rank-1)·3 / n) — explicit integer math rather than ntile()
    * so both engines state the same rule. Per-bucket mean nll
    * aggregates the micro-nat quantized per-doc scores (exact sums),
    * closing micro-quantized to 1e-5 nats (BIGINT, the portable form).
    *
    * Scale: the EXACT path sorts within source partitions — fine
    * while the biggest source fits one partition's sort. Past
    * `maxExactPerSource` docs in any source it degrades to the
    * THRESHOLD-SKETCH path (r18, the documented t-digest/KLL swap,
    * HistogramOps maxDistinct discipline): per-doc nll is quantized
    * to milli-nats, the (source, milli-nat) histogram — a mergeable
    * bounded sketch with deterministic (integer-sum) merges — yields
    * the two tercile thresholds by the cross-multiplied rational-rank
    * rule, and docs bucket by VALUE against the broadcast thresholds.
    * No corpus-wide sort anywhere; ties land in one bucket (value
    * semantics) instead of splitting by rank, so the degrade is its
    * own documented contract with its own oracle
    * (`q_ppl_buckets_degrade`), the sampled-quantiles precedent. */
  def perplexityBuckets(docs: DataFrame,
                        maxExactPerSource: Long = PplMaxExactPerSource): DataFrame = {
    val scored = unigramLmScore(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"), col("nll"),
        round(col("nll") * lit(1000000.0)).cast("long").as("nll_q"))
      .localCheckpoint() // guard count + both paths reuse one scoring
    val nPer = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
    // empty corpus -> no sources -> max() is NULL; route to the exact
    // path (which emits the empty frame) instead of NPEing the guard
    val biggest = nPer.agg(max("n_src")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    if (biggest <= maxExactPerSource) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("nll"), col("doc_id"))
      scored.withColumn("r", row_number().over(w).cast("long"))
        .join(broadcast(nPer), "source")
        .withColumn("bucket", expr("((r - 1) * 3) div n_src"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("nll_q").cast("double") / count(lit(1)) / lit(10.0))
            .cast("long").as("mean_nll_u"))
    } else {
      // threshold-sketch degrade: milli-nat quantization bounds the
      // per-source distinct count by the nll range (~20k values for
      // 0..20 nats) — constant state however many docs flow through.
      // The state is the SAME bounded mergeable histogram the r19
      // streaming twin aggregates ([[perplexityBucketSketchStream]]);
      // one shared finisher turns either into the report.
      perplexityBucketsFromSketch(
        scored
          .withColumn("c_q", round(col("nll") * lit(1000.0)).cast("long"))
          .groupBy("source", "c_q")
          .agg(count(lit(1)).as("cnt"), // mergeable: integer sums
            sum("nll_q").cast("long").as("s_q")))
    }
  }

  /** Finish a (source, c_q, cnt, s_q) milli-nat histogram — the
    * threshold-sketch STATE — into the perplexity-bucket report:
    * rational-rank tercile thresholds off the cumulative bin counts,
    * value-bucketing, per-bucket doc counts and micro-quantized mean
    * nll. Bin-level integer sums equal the per-doc sums they replace
    * (associativity), so this is output-identical to bucketing each
    * doc row. Used by both the batch degrade path and the streaming
    * twin's collected state. */
  def perplexityBucketsFromSketch(state: DataFrame): DataFrame = {
    // every frame here derives from `state`, so join keys are RENAMED
    // (fresh exprIds) — a memory-sink state table otherwise trips the
    // analyzer's conflicting-reference check on the self-joins
    val nPer = state.groupBy("source").agg(sum("cnt").cast("long").as("n_src"))
      .withColumnRenamed("source", "_src")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("c_q")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = state
      .withColumn("cum", sum("cnt").over(w))
      .join(broadcast(nPer), col("source") === col("_src"))
    val thr = cum.groupBy("source").agg(
      min(when(col("cum") * 3 >= col("n_src"), col("c_q"))).as("t1"),
      min(when(col("cum") * 3 >= col("n_src") * 2, col("c_q"))).as("t2"))
      .withColumnRenamed("source", "_src")
    state.join(broadcast(thr), col("source") === col("_src")).drop("_src")
      .withColumn("bucket",
        when(col("c_q") < col("t1"), lit(0L))
          .when(col("c_q") < col("t2"), lit(1L)).otherwise(lit(2L)))
      .groupBy("source", "bucket")
      .agg(sum("cnt").cast("long").as("n_docs"),
        round(sum("s_q").cast("double") / sum("cnt") / lit(10.0))
          .cast("long").as("mean_nll_u"))
  }

  /** The trained unigram LM as data: (w, lp_q) micro-nat log-probs
    * (the exact per-word quantization [[unigramLmScore]] applies) plus
    * the add-one OOV floor lp_q an unobserved word scores — the
    * shippable-model form the streaming twin probes (CCNet ships a
    * KenLM the same way). */
  def unigramLm(docs: DataFrame): (DataFrame, Long) = {
    val vocab = docs
      .select(explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val trow = vocab.agg(sum("cnt").cast("long"), count(lit(1))).head()
    val (total, nv) =
      if (trow.isNullAt(0)) (0L, 0L) else (trow.getLong(0), trow.getLong(1))
    val denom = lit((total + nv).toDouble)
    val lm = vocab.select(col("w"),
      round(log((col("cnt") + lit(1.0)) / denom) * lit(1000000.0))
        .cast("long").as("lp_q"))
    val oov = math.round(math.log(1.0 / math.max(total + nv, 1L).toDouble) * 1000000.0)
    (lm, oov)
  }

  /** Streaming twin of the perplexity-bucket THRESHOLD-SKETCH state
    * (r19 — the CMS/HLL complete-mode discipline): incoming docs score
    * against a STATIC reference LM (the stored-index ingest-gate
    * precedent; [[unigramLm]] of the base corpus, shipped as a literal
    * map) and fold into the bounded mergeable (source, c_q) milli-nat
    * histogram in ONE aggregation — Structured Streaming's
    * single-aggregation rule holds because the per-doc score is a
    * ROW-LOCAL higher-order fold over the doc's own token array, not
    * an aggregation. [[perplexityBucketsFromSketch]] finishes the
    * collected state into the q_ppl_buckets_degrade report; EventsSpec
    * proves stream == batch on the forced fallback. Unseen tokens
    * score `oovLpQ` (the add-one floor — zero of them when the stream
    * replays the LM's own corpus). */
  def perplexityBucketSketchStream(docs: DataFrame, lm: DataFrame,
                                   oovLpQ: Long,
                                   maxVocab: Int = 1 << 22): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val entries = lm.select(col("w"), col("lp_q")).collect()
    require(entries.length <= maxVocab,
      s"${entries.length} LM entries exceed maxVocab=$maxVocab — ship a " +
        "pruned vocabulary (rare words score the OOV floor anyway)")
    // O(1) hash lookups per token (a literal-map element_at is a
    // linear scan over the key array — 10^5x slower at real vocab
    // sizes); the map ships as a sparkContext.broadcast — cached once
    // per executor instead of re-serialized into every stage's task
    // binary (r19 review; the containmentAgainst broadcast-model
    // precedent). Tokenization mirrors the batch
    // lower() + regexp_extract_all('[a-z0-9]+') exactly (Locale.ROOT
    // — same contract containmentAgainst documents). Only the integer
    // token-sum happens here; every float division and rounding stays
    // a Catalyst expression IDENTICAL to the batch path's.
    val lpMap = spark.sparkContext.broadcast(
      entries.map(r => (r.getString(0), r.getLong(1))).toMap)
    val scored = docs.select(col("source").cast("string"), col("text").cast("string"))
      .as[(String, String)]
      .mapPartitions { it =>
        val rx = "[a-z0-9]+".r
        val lp = lpMap.value
        it.flatMap { case (src, text) =>
          var s = 0L
          var n = 0L
          rx.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).foreach { w =>
            s += lp.getOrElse(w, oovLpQ)
            n += 1
          }
          if (n == 0) Iterator.empty else Iterator.single((src, s, n))
        }
      }
      .toDF("source", "s", "n_tokens")
    scored
      .withColumn("nll", -col("s") / (col("n_tokens") * lit(1000000.0)))
      .select(col("source"),
        round(col("nll") * lit(1000.0)).cast("long").as("c_q"),
        round(col("nll") * lit(1000000.0)).cast("long").as("nll_q"))
      .groupBy("source", "c_q")
      .agg(count(lit(1)).as("cnt"), sum("nll_q").cast("long").as("s_q"))
  }

  /** [[perplexityBuckets]] exact-rank guard: the largest per-source
    * doc count one partition should sort. */
  val PplMaxExactPerSource: Long = 1L << 22

  /** Blocklist term scan: per-doc occurrence counts of a fixed term
    * set in ONE fused Aho-Corasick pass (a codegen'd native
    * expression) instead of k independent substring scans — the
    * at-scale shape for contamination/abuse-term filtering where the
    * list has hundreds of entries. Terms must be lowercase and
    * self-border-free (no proper prefix == suffix) so the total count
    * equals the oracle's replace-and-measure non-overlapping count.
    * Output: (doc_id, term, cnt) for cnt > 0 only. */
  def blocklistScan(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.forall(t => t == t.toLowerCase), "terms must be lowercase")
    docs.select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.TermScanExpr
          .termScan(lower(col("text")), terms)))
      .where(col("col") > 0)
      .select(col("doc_id"),
        element_at(typedLit(terms), col("pos") + 1).as("term"),
        col("col").as("cnt"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al. 2007 — THE
    * web-scale distributed LM scheme: no normalization, no
    * discounting, pure counts):
    * s(w₃|w₁w₂) = c₃/c₂(w₁w₂) if the trigram was seen, else
    * α·c₂(w₂w₃)/c₁(w₂) if the bigram was, else α²·c₁(w₃)/N.
    * α = 0.5 (exact in binary — no 0.4-literal cross-engine hazard).
    * Train on even doc_ids, score odd docs (same-corpus scoring never
    * exercises the backoff: a scored trigram always contains itself).
    * Per-token scores micro-quantize BEFORE the per-doc sum (the bm25
    * pattern), so outputs are order-free integers:
    * (doc_id, n_scored, score_q).
    *
    * Scale: each doc is tokenized on its side of the parity split,
    * and every token row takes its two successors from the doc's own
    * token array (no window sort). The three count tables are ONE
    * map-side-combined aggregate keyed by a packed string `"a b c"` —
    * the count-collection step Brants et al. distribute exactly this
    * way. "" pads the unused arity slots: a unigram is
    * `"a  "`, a bigram `"a b "`, a trigram `"a b c"`. Tokens are
    * nonempty [a-z0-9]+ runs, so the separator cannot occur inside a
    * token and the two separators pin every split: two different
    * grams never pack to the same key. Each scored trigram stays ONE
    * row end to end: it carries its five probe keys and takes each
    * count by a left equi-join on the table (a probe matches at most
    * one key), then scores, quantizes and sums per doc map-side.
    * Catalyst picks each join's strategy: a table under the broadcast
    * threshold is broadcast once and its exchange reused by the other
    * four lookups; a larger one sort-merge joins. N, the train token
    * count, is one global sum of the train docs' token counts (every
    * train token emits exactly one unigram key), so it needs no second
    * aggregate over the table. */
  def stupidBackoff(docs: DataFrame, alpha: Double = 0.5): DataFrame = {
    val tokens = org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))
    def side(parity: Int): DataFrame = docs.where(pmod(col("doc_id"), lit(2)) === parity)
    // (doc_id, w, w2, w3) of one parity side: w2/w3 are the next two
    // tokens of the same doc, null past its end
    def grams(parity: Int): DataFrame = side(parity)
      .select(col("doc_id"), tokens.as("t"))
      .select(col("doc_id"), col("t"), posexplode(col("t")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("w"),
        get(col("t"), col("pos") + 1).as("w2"), get(col("t"), col("pos") + 2).as("w3"))
    // concat is null when any part is: a key running past the doc's
    // end drops
    val e = lit("")
    def key(a: Column, b: Column, c: Column): Column = concat(a, lit(" "), b, lit(" "), c)
    val counts = grams(0)
      .select(explode(array(key(col("w"), e, e), key(col("w"), col("w2"), e),
        key(col("w"), col("w2"), col("w3")))).as("k"))
      .where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cnt"))
    val n = side(0).agg(coalesce(sum(array_size(tokens)), lit(0L)).as("ntr"))
    val probes = grams(1)
      .where(col("w3").isNotNull) // w3 defined => w2 is too
      .select(col("doc_id"),
        key(col("w"), col("w2"), col("w3")).as("k_c3"), key(col("w"), col("w2"), e).as("k_c2ctx"),
        key(col("w2"), col("w3"), e).as("k_c2bo"), key(col("w2"), e, e).as("k_c1w2"),
        key(col("w3"), e, e).as("k_c1w3"))
    // probe key k_x looks up count x (null on a miss)
    val looked = Seq("c3", "c2ctx", "c2bo", "c1w2", "c1w3").foldLeft(probes) { (df, c) =>
      df.join(counts.toDF(s"k_$c", c), Seq(s"k_$c"), "left")
    }
    val s = when(col("c3").isNotNull,
        col("c3").cast("double") / col("c2ctx").cast("double"))
      .when(col("c2bo").isNotNull,
        lit(alpha) * (col("c2bo").cast("double") / col("c1w2").cast("double")))
      .when(col("c1w3").isNotNull,
        lit(alpha) * lit(alpha) * (col("c1w3").cast("double") / col("ntr").cast("double")))
      .otherwise(lit(0.0))
    looked.crossJoin(broadcast(n))
      .select(col("doc_id"), round(s * lit(1000000.0)).cast("long").as("q"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum("q").as("score_q"))
  }

  def tfidfTopTerms(docs: DataFrame, k: Int = 3, minTermLen: Int = 3): DataFrame = {
    // tf computed once, eagerly: df and the join both consume it, and
    // a lazy plan would re-run the explode+regexp scan per branch
    // (hashedShingles precedent)
    val tf = docs.select(col("doc_id"),
      explode(org.apache.spark.sql.graft.TokenizeExpr.tokenizeLower(col("text"))).as("term"))
      .where(length(col("term")) >= minTermLen)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct("doc_id")).first().getLong(0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df_, "term")
      .withColumn("score", col("tf").cast("double") * n / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"),
        round(col("score") * lit(1000000.0)).cast("long").as("score_u"), col("rank"))
  }
}
