package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Corpus text-analysis operators (LLM-pipeline north star): token
  * counting, quality scoring, language identification and document
  * fingerprinting. All pure column expressions over `documents(doc_id,
  * text, …)` — per-row, no shuffle, fully codegen'd, so they stream at
  * scan speed over 100 TB.
  */
object TextAnalysis {
  import Hashing._

  /** Stopword profiles for the n-gram/stopword language-ID heuristic.
    * Shared verbatim with the generated DuckDB oracle SQL so both engines
    * score identically. Kept deliberately small and disjoint-ish; accuracy
    * is a unit-test concern (SparkOpsSpec "langId picks the profile
    * language"), determinism a gate concern.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ich", "mit",
      "ein", "zu", "den", "von"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
      "for", "on", "with"),
    "es" -> Seq("el", "que", "los", "se", "del", "las", "por", "una", "es",
      "para", "como", "pero"),
    "fr" -> Seq("le", "les", "des", "une", "est", "dans", "qui", "pas",
      "pour", "sur", "au", "ce"))

  /** Sensitive-pattern redaction (standard corpus-scrubbing pass):
    * emails, then URLs, then long digit runs (ids/phones), each replaced
    * by a typed placeholder — order matters (an email would otherwise be
    * half-eaten by the URL rule). Patterns restricted to a regex subset
    * with identical semantics in Java regex and RE2, so the DuckDB
    * oracle applies the same passes verbatim. Pure per-row codegen'd
    * expressions — scan speed.
    */
  val redactRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+" -> "<URL>",
    "[0-9]{7,}" -> "<NUM>")

  /** (doc_id, redacted, n_redactions) */
  def redact(docs: DataFrame): DataFrame = {
    val scrubbed = redactRules.foldLeft(col("text")) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    docs.select(col("doc_id"), scrubbed.as("redacted"))
      .withColumn("n_redactions",
        (size(split(col("redacted"), "<EMAIL>|<URL>|<NUM>")) - 1)
          .cast("long"))
  }

  /** Repetition signal (the Gopher-family repetition filter): token
    * mass of the single most frequent `n`-gram relative to the document
    * (count × n / n_tokens — may exceed 1 for overlapping repeats; it is
    * a relative filter signal, not a probability). Highly
    * templated/looping documents score high and get filtered before
    * training. Documents shorter than `n` tokens are dropped (no
    * n-grams). One explode + two cascaded aggregates — the same scale
    * shape as the shingle pipeline. Output as a DECIMAL(10,6) string
    * (the small-denominator rationals here hit round() ties).
    */
  def repetitionScore(docs: DataFrame, n: Int = 3): DataFrame = {
    Hashing.ensureRegistered(docs)
    docs.select(col("doc_id"), expr(tokensSql).as("tokens"))
      .select(col("doc_id"), size(col("tokens")).as("n_tokens"),
        explode(expr(s"graft_ngrams(tokens, $n)")).as("g"))
      .groupBy("doc_id", "n_tokens", "g")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens")
      .agg(max(col("c")).as("top_c"))
      .select(col("doc_id"),
        (col("top_c").cast("double") * n /
          greatest(col("n_tokens"), lit(1)).cast("double"))
          .cast("decimal(10,6)").cast("string").as("top_ngram_ratio"))
  }

  /** (doc_id, n_tokens, n_distinct, avg_token_len) */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokensSql).as("tokens"))
      .select(col("doc_id"),
        size(col("tokens")).cast("long").as("n_tokens"),
        size(array_distinct(col("tokens"))).cast("long").as("n_distinct"),
        round(expr("aggregate(tokens, cast(0 as bigint), (a, t) -> a + length(t))")
          .cast("double") / greatest(size(col("tokens")), lit(1)), 6)
          .as("avg_token_len"))

  /** Flesch reading-ease readability per document,
    *
    *   206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    *
    * with the standard corpus-scale surrogates: words = maximal
    * non-whitespace runs, sentences = runs of sentence-ending
    * punctuation `[.!?]+` (floored at 1 so a fragment still scores),
    * syllables = vowel-group runs `[aeiouy]+` over the lowercased text
    * (the classic one-pass approximation — true hyphenation needs a
    * dictionary). Returns (doc_id, n_words, n_sentences, n_syllables,
    * flesch); a wordless doc scores NULL, never an ANSI error.
    *
    * Pure per-row `regexp_extract_all` counts — no shuffle, codegen'd,
    * scan speed at 100 TB; the regex subset has identical semantics in
    * Java regex and DuckDB's RE2, so the oracle counts the same runs.
    */
  def readability(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"),
          lit(0))), lit(1)).cast("long").as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"),
          lit(0))).cast("long").as("n_syllables"))
      .withColumn("flesch", round(expr(
        "case when n_words > 0 then 206.835D - " +
          "1.015D * (cast(n_words as double) / " +
          "cast(n_sentences as double)) - " +
          "84.6D * (cast(n_syllables as double) / " +
          "cast(n_words as double)) end"), 6))

  /** Heuristic quality signals: ratios of alphabetic / digit / punctuation
    * / whitespace characters, stopword ratio, type-token ratio, and a
    * composite boolean gate (the shape of Gopher/C4-style quality rules).
    */
  def qualityScore(docs: DataFrame): DataFrame = qualityScore(docs, Nil)

  /** As [[qualityScore]], carrying `carry` input columns through to the
    * output unchanged (e.g. `source` for per-origin rollups).
    */
  def qualityScore(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val n = greatest(length(col("text")), lit(1)).cast("double")
    def ratio(pattern: String): Column =
      round((length(col("text")) -
        length(regexp_replace(col("text"), pattern, ""))).cast("double") / n, 6)
    val enStops = langProfiles.toMap.apply("en")
    docs.select(col("doc_id") +: col("text") +:
        expr(tokensSql).as("tokens") +: carry.map(col): _*)
      .select(Seq(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(col("tokens")).cast("long").as("n_tokens"),
        ratio("[a-zA-Z]").as("alpha_ratio"),
        ratio("[0-9]").as("digit_ratio"),
        ratio("[.,;:!?'\"()-]").as("punct_ratio"),
        round(size(filter(col("tokens"),
          t => t.isin(enStops: _*))).cast("double") /
          greatest(size(col("tokens")), lit(1)), 6).as("stopword_ratio"),
        round(size(array_distinct(col("tokens"))).cast("double") /
          greatest(size(col("tokens")), lit(1)), 6).as("type_token_ratio"))
        ++ carry.map(col): _*)
      .withColumn("passes_quality",
        col("n_tokens") >= 10 && col("alpha_ratio") >= 0.6 &&
          col("stopword_ratio") >= 0.01)
  }

  /** GOPHER QUALITY RULES (Rae et al. 2021, Table A1) — the specific
    * rule battery the Gopher/MassiveText curation pipeline applies to
    * every crawled page, beside the generic [[qualityScore]] ratios:
    *
    *   1. 50 ≤ word count ≤ 100 000
    *   2. 3 ≤ mean word length ≤ 10
    *   3. symbol-to-word ratio ≤ 0.1  (symbols: '#' and ellipsis)
    *   4. ≤ 90% of lines start with a bullet ('•', '-', '*')
    *   5. ≤ 30% of lines end with an ellipsis
    *   6. ≥ 80% of words contain ≥ 1 alphabetic character
    *   7. ≥ 2 of the 8 required English stop words present
    *      (the, be, to, of, and, that, have, with)
    *
    * Emits the measured signals, one boolean per rule, and the
    * conjunction `keep` — the manifest a filter stage consumes and an
    * auditor reads rule-by-rule (why was this doc dropped?).
    *
    * DETERMINISM: every signal is a per-row integer count (words are
    * \S+ runs, so Σ word length == non-whitespace char count — no
    * per-word fold needed); fractions round(,6) BEFORE the threshold
    * comparisons, so both engines compare identical fixed-point
    * values; line fractions divide by max(nonblank lines, 1) (a
    * blank doc reads 0, and fails on word count anyway); rule
    * booleans are null-proofed to false. SCALE SHAPE: embarrassingly
    * parallel narrow map riding the scan — like [[lineClean]], this
    * runs FIRST in a 100 TB pipeline.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val words = "regexp_extract_all(text, '\\\\S+', 0)"
    val lines = "filter(split(text, '\n'), l -> length(trim(l)) > 0)"
    docs.select(col("doc_id"),
        expr(s"size($words)").cast("long").as("n_words"),
        expr(s"length(regexp_replace(text, '\\\\s', ''))").cast("long")
          .as("n_word_chars"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "#", ""))).cast("long")
          .as("n_hash"),
        expr("size(regexp_extract_all(text, '(\\\\.\\\\.\\\\.|…)', 0))")
          .cast("long").as("n_ellipsis"),
        expr(s"size(filter($words, w -> w rlike '[A-Za-z]'))")
          .cast("long").as("n_alpha_words"),
        expr(s"size($lines)").cast("long").as("n_lines"),
        expr(s"size(filter($lines, l -> startswith(ltrim(l), '•') or " +
          "startswith(ltrim(l), '-') or startswith(ltrim(l), '*')))")
          .cast("long").as("n_bullet_lines"),
        expr(s"size(filter($lines, l -> endswith(rtrim(l), '...') or " +
          "endswith(rtrim(l), '…')))").cast("long").as("n_ellipsis_lines"),
        // let-bound tokens array (the [[Dedup.minhashSignatures]] trick)
        // so the 8 membership probes share ONE tokenizer pass
        expr("element_at(transform(array(" + tokensSql + "), tk -> " +
          GopherStops.map(s =>
            s"(case when array_contains(tk, '$s') then 1 else 0 end)")
            .mkString(" + ") + "), 1)")
          .cast("long").as("n_required_stops"))
      .withColumn("mean_word_len", round(expr("case when n_words > 0 " +
        "then cast(n_word_chars as double) / cast(n_words as double) " +
        "end"), 6))
      .withColumn("symbol_word_ratio", round(expr(
        "case when n_words > 0 then cast(n_hash + n_ellipsis as " +
          "double) / cast(n_words as double) end"), 6))
      .withColumn("bullet_line_frac", round(expr(
        "cast(n_bullet_lines as double) / " +
          "cast(greatest(n_lines, 1) as double)"), 6))
      .withColumn("ellipsis_line_frac", round(expr(
        "cast(n_ellipsis_lines as double) / " +
          "cast(greatest(n_lines, 1) as double)"), 6))
      .withColumn("alpha_word_frac", round(expr(
        "case when n_words > 0 then cast(n_alpha_words as double) / " +
          "cast(n_words as double) end"), 6))
      .withColumn("r_word_count",
        col("n_words") >= 50L && col("n_words") <= 100000L)
      .withColumn("r_word_len", coalesce(
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0,
        lit(false)))
      .withColumn("r_symbol", coalesce(
        col("symbol_word_ratio") <= 0.1, lit(false)))
      .withColumn("r_bullets", col("bullet_line_frac") <= 0.9)
      .withColumn("r_ellipsis", col("ellipsis_line_frac") <= 0.3)
      .withColumn("r_alpha", coalesce(
        col("alpha_word_frac") >= 0.8, lit(false)))
      .withColumn("r_stops", col("n_required_stops") >= 2L)
      .withColumn("keep",
        col("r_word_count") && col("r_word_len") && col("r_symbol") &&
          col("r_bullets") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stops"))
      .drop("n_word_chars", "n_hash", "n_ellipsis")
  }

  /** The 8 required stop words of Gopher rule 7 (Rae et al. 2021
    * Table A1) — shared with the oracle text.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Per-SOURCE curation rollup — the crawl-curation table a corpus
    * triage pass produces (which origins to keep, cap, or drop): doc
    * count, quality-pass count, total chars, and mean type-token /
    * stopword ratios per origin. Means are DECIMAL-summed (the ratios
    * are already round(,6) fixed-point) so the fold is order-exact on
    * any partitioning and replays in SQL. Scale shape: the quality
    * signals are per-row expressions; ONE hash aggregate on source.
    */
  def sourceStats(docs: DataFrame): DataFrame =
    qualityScore(docs, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("passes_quality").cast("long")).as("n_pass"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("type_token_ratio").cast("decimal(12,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_ttr"),
        round(sum(col("stopword_ratio").cast("decimal(12,6)"))
          .cast("double") / count(lit(1)), 6).as("mean_stopword_ratio"))

  /** Language ID: score = #tokens in each profile; argmax, ties broken by
    * language code; docs with zero stopword hits → 'und' (undetermined).
    */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), expr(tokensSql).as("tokens"))
      .select(col("doc_id") +: langProfiles.map { case (lang, words) =>
        size(filter(col("tokens"), t => t.isin(words: _*))).as(s"s_$lang")
      }: _*)
    val mx = greatest(langProfiles.map(p => col(s"s_${p._1}")): _*)
    // argmax with ties broken by language code order (profiles are sorted)
    val pick = langProfiles.foldRight(lit("und")) { case ((lang, _), els) =>
      when(col(s"s_$lang") === mx, lit(lang)).otherwise(els)
    }
    scored.select(col("doc_id"),
      when(mx === 0, lit("und")).otherwise(pick).as("lang_pred"))
  }

  /** Document fingerprints: a 128-bit content hash of the normalized token
    * stream (exact-dedup key) plus the engine's 60-bit polynomial rolling
    * hash (graft.textfn.Text.polyHash) evaluated as a pure fold expression
    * — both reproducible in ANSI SQL.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat_ws(" ", expr(tokensSql)).as("norm"))
      .select(col("doc_id"),
        md5(col("norm")).as("fp_md5"),
        // split(norm, '') appends a trailing '' element (ascii('')=0 would
        // add a spurious *131 fold step); filter it so this equals
        // graft.textfn.Text.polyHash exactly.
        expr("aggregate(filter(split(norm, ''), c -> c <> ''), " +
          "cast(0 as bigint), " +
          "(acc, c) -> (acc * 131 + ascii(c)) % 1000000007)").as("fp_poly"))

  /** Unigram negative log-likelihood per document — the
    * perplexity-style quality filter without a neural LM: train unigram
    * frequencies on the corpus itself, score each document by the mean
    * −ln p(token). High-NLL docs are gibberish/rare-token soup;
    * low-NLL docs are stopword padding. Scale shape: one token-count
    * aggregate, one token-key join, the corpus total as a broadcast
    * 1-row frame (the idf shape), one per-doc aggregate.
    *
    * DETERMINISM: each token's NLL is rounded to 6 decimals and summed
    * as DECIMAL (order-independent, exactly representable in a double
    * for any real document), so the cross-engine replay is exact modulo
    * the round(ln, 6) convention used by every transcendental gate.
    */
  def unigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr(tokensSql)).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).as("N"))
    toks.join(cnt, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), expr(
        "cast(round(-ln(cast(cnt as double) / cast(N as double)), 6) " +
          "as decimal(12,6))").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
  }

  /** TRAIN-FITTED LM QUALITY FILTER — the classic perplexity-based
    * corpus filter (CCNet-style): fit a Laplace-smoothed unigram LM on
    * the hash-designated TRAIN split (md5 'lmsplit:' ‖ doc_id, 80%),
    * score every HELD-OUT document's mean negative log-likelihood
    * under it, and keep documents under the threshold. Unlike
    * [[unigramNll]] (which scores docs under the corpus's OWN model —
    * a self-fit), the fit-on-train discipline means an outlier
    * document cannot launder its own tokens into the model that
    * judges it.
    *
    *   p(tok) = (cnt_train + 1) / (N_train + V_train)   (OOV ⇒ cnt 0)
    *
    * DETERMINISM: the split is a pure md5 function of doc_id; counts
    * are BIGINT; each token's −ln p rounds(,6) into DECIMAL before
    * the exact per-doc fold. SCALE SHAPE: one train-token hash
    * aggregate, one broadcast 1-row (N, V) frame, one token→count
    * equi-join for the test side, one per-doc aggregate. Token-free
    * held-out docs emit nothing (no tokens to judge). Returns
    * (doc_id, n_tokens, mean_nll, keep) ordered by doc_id.
    */
  def lmQualityFilter(docs: DataFrame, threshold: Double = 8.0)
      : DataFrame = {
    Hashing.ensureRegistered(docs)
    val tagged = docs.select(col("doc_id"), expr(tokensSql).as("tk"),
      (Hashing.md5Long(concat(lit("lmsplit:"),
        col("doc_id").cast("string"))) % 5 =!= 0).as("is_train"))
    val cnt = tagged.filter(col("is_train"))
      .select(explode(col("tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val stats = cnt.agg(sum(col("cnt")).as("N"),
      count(lit(1)).as("V"))
    tagged.filter(!col("is_train"))
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .join(cnt, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        "cast(round(-ln(cast(coalesce(cnt, 0L) + 1 as double) / " +
          "cast(N + V as double)), 6) as decimal(12,6))").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
      .withColumn("keep", col("mean_nll") <= threshold)
      .orderBy("doc_id")
  }

  /** CCNET-STYLE PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.3) — the
    * head/middle/tail corpus partition every CCNet-descended pipeline
    * ships: score EVERY document's mean NLL under the train-split
    * Laplace unigram LM (the [[lmQualityFilter]] model — CCNet scores
    * with a fixed reference LM, so train docs scoring under a model
    * containing their own tokens is the standard regime), cut the
    * score distribution at the EXACT terciles, and label documents
    * head (lowest NLL — most reference-like), middle, or tail. Emits
    * the bucket manifest a sampling stage consumes: per bucket
    * (bucket, n_docs, n_tokens, bucket_mean_nll) plus the two
    * cutpoints on every row.
    *
    * ZERO-TOKEN DOCS are excluded by construction (the score chain
    * explodes the token array, so a doc with no tokens never reaches
    * the per-doc fold): bucket n_docs sums to the count of
    * TOKENIZABLE documents, not the raw corpus size — the same
    * population [[lmQualityFilter]] scores. A pipeline that must
    * account for every input row should pre-filter empties into its
    * own reject bucket before calling this.
    *
    * DETERMINISM: scores are the [[lmQualityFilter]] exact-DECIMAL
    * chain; cutpoints are [[Rank.exactQuantiles]] rank statistics
    * (rank ceil(q·n) of the (mean_nll, doc_id)-ordered corpus — no
    * interpolation, no float targets); bucket assignment is value
    * comparison against the cuts, so tied scores land together.
    * SCALE SHAPE: the LM score chain + the two-phase ordinal + one
    * |buckets|-row fold; cutpoints ride a broadcast 1-row frame.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    Hashing.ensureRegistered(docs)
    val tagged = docs.select(col("doc_id"), expr(tokensSql).as("tk"),
      (Hashing.md5Long(concat(lit("lmsplit:"),
        col("doc_id").cast("string"))) % 5 =!= 0).as("is_train"))
    val cnt = tagged.filter(col("is_train"))
      .select(explode(col("tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val stats = cnt.agg(sum(col("cnt")).as("N"), count(lit(1)).as("V"))
    val scored = tagged
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .join(cnt, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        "cast(round(-ln(cast(coalesce(cnt, 0L) + 1 as double) / " +
          "cast(N + V as double)), 6) as decimal(12,6))").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
      .pin(false) // feeds the cuts AND the bucket fold
    val cuts = Rank.exactQuantiles(scored, "mean_nll",
      Seq(col("doc_id")), Seq(1.0 / 3, 2.0 / 3))
      .agg(max(when(col("q") < 0.5, col("mean_nll"))).as("cut_head"),
        max(when(col("q") > 0.5, col("mean_nll"))).as("cut_middle"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket", expr(
        "case when mean_nll <= cut_head then 'head' " +
        "when mean_nll <= cut_middle then 'middle' else 'tail' end"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        round(sum(expr("cast(mean_nll as decimal(12,6))"))
          .cast("double") / count(lit(1)), 6).as("bucket_mean_nll"),
        max(col("cut_head")).as("cut_head"),
        max(col("cut_middle")).as("cut_middle"))
      .orderBy("bucket")
  }

  /** C4-STYLE LINE-LEVEL CLEANING (Raffel et al. 2020 §2.2) — the
    * rule battery the C4/mC4 pipelines run on every crawled page
    * before any model sees it: a LINE survives iff it has at least
    * `minWords` whitespace-separated words AND ends in terminal
    * punctuation; the PAGE carries flags for the document-level
    * rejection rules (the literal "lorem ipsum", a curly brace — the
    * code-leak marker). Returns per doc (doc_id, n_lines, n_kept,
    * has_lorem, has_brace, keep_doc — no page flag and ≥ 1 surviving
    * line — and clean_text, the kept lines rejoined in order).
    *
    * DETERMINISM: pure per-row string/array expressions — no
    * aggregation at all; the kept-line order is the original line
    * order (filter preserves array order). SCALE SHAPE: embarrassingly
    * parallel narrow map riding the scan, whole-stage codegen
    * end-to-end; at 100 TB this is the cheapest pass in the pipeline
    * and should be FIRST (everything downstream sees fewer bytes).
    */
  def lineClean(docs: DataFrame, minWords: Int = 3): DataFrame = {
    val keptExpr =
      s"""filter(split(text, '\n'), l ->
         |  size(split(trim(l), '\\\\s+')) >= $minWords
         |  and trim(l) rlike '[.!?"\\']$$')""".stripMargin
    docs
      .select(col("doc_id"),
        expr("size(split(text, '\n'))").cast("long").as("n_lines"),
        expr(keptExpr).as("__kept"),
        lower(col("text")).contains("lorem ipsum").as("has_lorem"),
        col("text").contains("{").as("has_brace"))
      .select(col("doc_id"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"),
        col("has_lorem"), col("has_brace"),
        (!col("has_lorem") && !col("has_brace") &&
          size(col("__kept")) > 0).as("keep_doc"),
        array_join(col("__kept"), "\n").as("clean_text"))
  }

  /** Distinct-n n-gram diversity (the "distinct-1/2/3" metrics of Li
    * et al. 2016) — the mode-collapse diagnostic for synthetic /
    * LLM-generated corpora: for each n, the ratio of DISTINCT n-grams
    * to total n-grams. Natural corpora stay high at n ≥ 2; template
    * or degenerate generations collapse toward 0. The diversity
    * companion of [[repetitionScore]] (which flags per-DOC repetition;
    * this catches cross-corpus sameness single docs can't show).
    *
    * DETERMINISM: pure BIGINT counts, one division per row, round(,6).
    * SCALE SHAPE: one explode per n into a (gram) hash aggregate —
    * the [[collocations]] shape; output is `maxN` rows.
    *
    * Returns (n, total, n_distinct, distinct_ratio) for n = 1..maxN.
    */
  def distinctNgrams(docs: DataFrame, maxN: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), expr(tokensSql).as("tk"))
    (1 to maxN).map { n =>
      val grams = toks.select(explode(expr(
        s"transform(slice(tk, 1, greatest(size(tk) - ${n - 1}, 0)), " +
          s"(x, i) -> array_join(slice(tk, i + 1, $n), ' '))"))
        .as("gram"))
      // via the gram-count table, not COUNT DISTINCT: one hash
      // aggregate + a 1-row fold, no Expand over the corpus
      grams.groupBy("gram").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("total"), count(lit(1)).as("n_distinct"))
        .select(lit(n.toLong).as("n"), col("total"), col("n_distinct"),
          round(expr("case when total > 0 then " +
            "cast(n_distinct as double) / cast(total as double) end"),
            6).as("distinct_ratio"))
    }.reduce(_ unionAll _).orderBy("n")
  }

  /** Chao1 vocabulary-richness estimate (Chao 1984) plus the
    * Good–Turing coverage estimate — "how much vocabulary has this
    * corpus NOT seen yet", the corpus-growth diagnostic next to
    * [[zipfFit]]: from the token frequency-of-frequencies,
    *
    *   V̂ = V_obs + F₁(F₁ − 1) / (2(F₂ + 1))   (bias-corrected Chao1,
    *                                            defined even at F₂ = 0)
    *   Ĉ = 1 − F₁/N                            (Good–Turing coverage)
    *
    * with F₁/F₂ the hapax/dis legomena counts. DETERMINISM: every
    * input is a BIGINT count; the two estimates are single IEEE
    * divisions, round(,6). SCALE SHAPE: one token-count aggregate →
    * one frequency-of-frequencies fold → one scalar row; nothing
    * bigger than the vocab table ever shuffles.
    *
    * Returns one row (n_tokens, v_obs, f1, f2, v_chao1, coverage).
    */
  def vocabChao1(docs: DataFrame): DataFrame =
    docs.select(explode(expr(tokensSql)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("v_obs"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("v_obs"), col("f1"), col("f2"),
        round(expr("cast(v_obs as double) + " +
          "cast(f1 as double) * (cast(f1 as double) - 1.0D) / " +
          "(2.0D * (cast(f2 as double) + 1.0D))"), 6).as("v_chao1"),
        round(expr("case when n_tokens > 0 then " +
          "1.0D - cast(f1 as double) / cast(n_tokens as double) end"),
          6).as("coverage"))

  /** Zipf-law fit of the corpus token frequency table: least-squares
    * line through (ln rank, ln count) — the classic corpus-health
    * diagnostic (natural text slopes near −1; boilerplate-heavy or
    * template corpora bend away). One row (n_types, slope, intercept,
    * r2).
    *
    * Shapes: one token-count aggregate, ranks from the two-phase
    * [[Rank.globalOrdinal]] under the total (count desc, token asc)
    * order, then ONE moment aggregate. Determinism: per-point ln
    * values round(,9) into DECIMAL(12,9) (products exact at (25,18)),
    * so Σx, Σy, Σxy, Σx², Σy² are order-independent; the closed-form
    * slope/intercept/r² are single IEEE expressions off those sums.
    */
  def zipfFit(docs: DataFrame): DataFrame = {
    val counts = docs.select(explode(expr(tokensSql)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val pts = Rank.globalOrdinal(counts,
      Seq(col("cnt").desc, col("tok").asc), "__i")
      .select(
        expr("cast(round(ln(cast(__i as double) + 1.0D), 9) " +
          "as decimal(12,9))").as("x"),
        expr("cast(round(ln(cast(cnt as double)), 9) " +
          "as decimal(12,9))").as("y"))
    pts
      .agg(count(lit(1)).as("kk"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
      .withColumn("dk", expr("cast(kk as double)"))
      .withColumn("dsx", expr("cast(sx as double)"))
      .withColumn("dsy", expr("cast(sy as double)"))
      .withColumn("num", expr("dk * cast(sxy as double) - dsx * dsy"))
      .withColumn("den", expr("dk * cast(sxx as double) - dsx * dsx"))
      .withColumn("deny", expr("dk * cast(syy as double) - dsy * dsy"))
      // degenerate fits yield NULL, not NaN: den = 0 with a single
      // token type (no x spread), deny = 0 when every count is equal
      // (no y spread — a plausible post-dedup corpus)
      .select(col("kk").as("n_types"),
        round(expr("case when den > 0 then num / den end"), 6)
          .as("slope"),
        round(expr("case when den > 0 then " +
          "(dsy - (num / den) * dsx) / dk end"), 6).as("intercept"),
        round(expr("case when den > 0 and deny > 0 then " +
          "(num * num) / (den * deny) end"), 6).as("r2"))
  }

  /** Heaps'-law fit of vocabulary growth (Heaps 1978) — the GROWTH
    * companion of [[zipfFit]]'s frequency law and [[vocabChao1]]'s
    * endpoint estimate: V(N) ≈ K·N^β, fitted as the least-squares
    * line through (ln p_v, ln v) where p_v is the corpus position at
    * which the v-th NEW type first appears. Natural text sits near
    * β ≈ 0.5; β drifting up as a corpus grows flags vocabulary churn
    * (OCR noise, boilerplate ids), β collapsing flags template text.
    *
    * The corpus order is (doc_id, token position) — a total order, so
    * both the token ordinal and the first-appearance rank come from
    * the two-phase [[Rank.globalOrdinal]] (no unpartitioned window
    * ever sees token-scale data; first-occurrence positions are
    * DISTINCT, making the second order total too). Moments follow the
    * [[zipfFit]] recipe: per-point ln rounds(,9) into DECIMAL, exact
    * sums, closed-form slope/intercept/r² in one IEEE expression.
    *
    * Returns one row (n_types, n_tokens, beta, intercept, r2) —
    * K = exp(intercept).
    */
  def heapsFit(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(expr(tokensSql)).as(Seq("pos", "tok")))
    val ord = Rank.globalOrdinal(toks,
      Seq(col("doc_id").asc, col("pos").asc), "__i")
    val nTok = ord.agg(count(lit(1)).as("n_tokens"))
    val firsts = ord.groupBy("tok")
      .agg((min(col("__i")) + 1L).as("p"))
    val pts = Rank.globalOrdinal(firsts, Seq(col("p").asc), "__v")
      .select(
        expr("cast(round(ln(cast(p as double)), 9) " +
          "as decimal(12,9))").as("x"),
        expr("cast(round(ln(cast(__v as double) + 1.0D), 9) " +
          "as decimal(12,9))").as("y"))
    pts
      .agg(count(lit(1)).as("kk"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
      .crossJoin(broadcast(nTok))
      .withColumn("dk", expr("cast(kk as double)"))
      .withColumn("dsx", expr("cast(sx as double)"))
      .withColumn("dsy", expr("cast(sy as double)"))
      .withColumn("num", expr("dk * cast(sxy as double) - dsx * dsy"))
      .withColumn("den", expr("dk * cast(sxx as double) - dsx * dsx"))
      .withColumn("deny", expr("dk * cast(syy as double) - dsy * dsy"))
      .select(col("kk").as("n_types"), col("n_tokens"),
        round(expr("case when den > 0 then num / den end"), 6)
          .as("beta"),
        round(expr("case when den > 0 then " +
          "(dsy - (num / den) * dsx) / dk end"), 6).as("intercept"),
        round(expr("case when den > 0 and deny > 0 then " +
          "(num * num) / (den * deny) end"), 6).as("r2"))
  }

  /** RAKE keyword extraction (Rose et al. 2010) — per-document key
    * phrases without any model: the token stream splits into candidate
    * phrases at stopword boundaries, each word scores degree/freq over
    * the document's candidates (degree = Σ lengths of phrases
    * containing it — co-occurrence reach; freq = its candidate
    * occurrences), and a phrase scores the sum of its member words.
    * Top `k` phrases per document by (score desc, phrase asc).
    *
    * DETERMINISM: word scores round-6 into DECIMAL before the phrase
    * sum (member order must not matter); duplicate phrase occurrences
    * in a doc collapse via max (identical member multiset ⇒ identical
    * score). Phrases longer than `maxPhraseLen` are dropped (the RAKE
    * convention — unbroken stopword-free runs are noise).
    *
    * SCALE SHAPE: per-doc windows and aggregates only — the phrase
    * grouping is one running count over (doc, pos), never global; the
    * rank window partitions by doc_id.
    */
  def rakeKeywords(docs: DataFrame, k: Int = 3, maxPhraseLen: Int = 4)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enStops = langProfiles.toMap.apply("en")
    val toks = docs.select(col("doc_id"),
      posexplode(expr(tokensSql)).as(Seq("pos", "tok")))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val grouped = toks
      .withColumn("stop", col("tok").isin(enStops: _*))
      .withColumn("grp",
        sum(when(col("stop"), 1L).otherwise(0L)).over(byPos))
      .filter(!col("stop"))
    val phrases = grouped.groupBy("doc_id", "grp")
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok)))," +
        " x -> x.tok)").as("ws"))
      .filter(size(col("ws")) <= maxPhraseLen)
      .withColumn("phrase", array_join(col("ws"), " "))
    val members = phrases.select(col("doc_id"), col("grp"),
      col("phrase"), explode(col("ws")).as("wd"),
      size(col("ws")).cast("long").as("plen"))
    val wstats = members.groupBy("doc_id", "wd")
      .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
      .withColumn("wscore", expr("cast(round(cast(degree as double) /" +
        " cast(freq as double), 6) as decimal(18,6))"))
    val byOcc = members.join(wstats, Seq("doc_id", "wd"))
      .groupBy("doc_id", "grp", "phrase").agg(sum("wscore").as("ps"))
    byOcc.groupBy("doc_id", "phrase")
      .agg(round(max("ps").cast("double"), 6).as("score"))
      .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
        .orderBy(desc("score"), asc("phrase"))).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "phrase", "score")
  }

  /** One-row DATASET CARD — the datasheet a corpus release ships with
    * (Gebru et al., "Datasheets for Datasets"): corpus size (docs,
    * tokens, chars), domain breadth (distinct langs/sources), quality
    * composition (pass rate under the [[qualityScore]] gate, mean
    * type-token ratio) and redundancy (exact-duplicate rate via
    * content fingerprints). Everything a consumer needs to sanity-check
    * a drop before training on it, computed in ONE pass plus one
    * distinct-fingerprint aggregate.
    *
    * DETERMINISM: means divide exact BIGINT/DECIMAL sums (the ratios
    * are round-6 fixed-point before the decimal fold). SCALE SHAPE:
    * one scan-aggregate + one distinct over 128-bit fingerprints +
    * one |domains|-row distinct fold; lang/source distinct counts run
    * over the TINY (lang, source) grid, never an Expand over the
    * corpus.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs, Seq("lang", "source"))
    val tot = q.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      sum("n_chars").as("n_chars"),
      sum(when(col("passes_quality"), 1L).otherwise(0L)).as("n_pass"),
      sum(col("type_token_ratio").cast("decimal(12,6)")).as("sttr"))
    val dom = q.groupBy("lang", "source").agg(count(lit(1)).as("__c"))
      .agg(countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
    val dup = docs.agg((count(lit(1)) -
      countDistinct(md5(col("text").cast("binary")))).as("n_exact_dups"))
    tot.crossJoin(broadcast(dom)).crossJoin(broadcast(dup))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_sources"), col("n_pass"),
        round(expr("cast(n_pass as double) / cast(n_docs as double)"), 6)
          .as("quality_pass_rate"),
        round(expr("cast(n_tokens as double) / cast(n_docs as double)"),
          6).as("mean_doc_tokens"),
        round(expr("cast(sttr as double) / cast(n_docs as double)"), 6)
          .as("mean_ttr"),
        col("n_exact_dups"),
        round(expr("cast(n_exact_dups as double) / " +
          "cast(n_docs as double)"), 6).as("exact_dup_rate"))
  }

  /** Pre-training MIXTURE WEIGHTS per corpus domain — the α-temperature
    * upsampling rule of multilingual pre-training (Conneau & Lample
    * 2019; the same shape as GPT-3's domain weighting): a domain with
    * nᵢ tokens samples proportionally to nᵢ^α, α < 1 flattening the
    * head so low-resource domains are not drowned. Emits per (lang,
    * source): n_docs, n_tokens, tok_share (the raw share), mix_weight
    * (the α=0.3 tempered share).
    *
    * DETERMINISM: pow(n, 0.3) rounds to 6 then fixes to DECIMAL(18,6)
    * BEFORE the normalizing sum, so the denominator is an exact
    * decimal fold (order-free in both engines); the final shares are
    * single IEEE divisions rounded 6. SCALE SHAPE: one scan-aggregate
    * to (domain) grain — the weight table is |domains| rows, the thing
    * the sampler broadcasts.
    */
  def domainMixWeights(docs: DataFrame): DataFrame = {
    val perDomain = docs
      .select(col("lang"), col("source"),
        size(expr(Hashing.tokensSql)).cast("long").as("nt"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
      .withColumn("w6", expr("cast(round(pow(cast(n_tokens as double), " +
        "cast('0.3' as double)), 6) as decimal(18,6))"))
    val totals = perDomain.agg(sum("n_tokens").as("tt"),
      sum("w6").as("tw"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(expr("cast(n_tokens as double) / cast(tt as double)"), 6)
          .as("tok_share"),
        round(expr("cast(w6 as double) / cast(tw as double)"), 6)
          .as("mix_weight"))
  }

  /** Bigram PMI collocation mining (Church & Hanks 1990) — the classic
    * "strongly associated adjacent word pair" detector (multi-word
    * expressions, named entities, tokenizer-merge candidates):
    *
    *   pmi(a,b) = ln( (c_ab / B) / ((c_a / T) · (c_b / T)) )
    *
    * with c_ab the adjacent-bigram count over the corpus (B total
    * bigrams) and c_a/c_b unigram token counts (T total tokens).
    * Bigrams below `minCount` are dropped (the standard sparse-count
    * guard — PMI of a once-seen pair is pure noise); top-`k` by
    * (pmi desc, a asc, b asc).
    *
    * SCALE SHAPE: two hash-aggregated count tables (bigram + unigram)
    * over explode streams; the bigram frame equi-joins the unigram
    * counts twice on single word keys; the two scalar totals attach
    * as one broadcast 1-row frame; the top-k is a sort-limit (driver
    * receives k rows only). DETERMINISM: pmi round(,6) BEFORE the
    * order-by, so libm ulp differences cannot reorder the cut; ties
    * break on the pair text.
    */
  def collocations(docs: DataFrame, minCount: Int = 5, k: Int = 20)
      : DataFrame = {
    val toks = docs.select(expr(Hashing.tokensSql).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val bi = toks.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(" +
          "element_at(tk, i) as a, element_at(tk, i + 1) as b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cab"))
    val totals = bi.agg(sum(col("cab")).as("bb"))
      .crossJoin(uni.agg(sum(col("cu")).as("tt")))
    bi.filter(col("cab") >= minCount)
      .join(uni.select(col("w").as("a"), col("cu").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("cu").as("cb")), Seq("b"))
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("cab"),
        round(expr("ln((cast(cab as double) / cast(bb as double)) / " +
          "((cast(ca as double) / cast(tt as double)) * " +
          "(cast(cb as double) / cast(tt as double))))"), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("a"), asc("b")).limit(k)
  }

  /** Jensen–Shannon divergence between two corpus slices over hashed
    * unigram models — "how different is slice P's language from slice
    * Q's", the symmetric bounded companion of [[dsirWeights]]' log-
    * ratio scoring and the text twin of the PSI drift report
    * (`ops/Drift`): buckets = md5(term) mod `buckets` (model size
    * bounded regardless of vocabulary — the 100 TB story), add-0.5
    * smoothing over the FULL bucket spine (the Drift spine lesson:
    * with Laplace smoothing an empty bucket is NOT a zero term), then
    *
    *   KL(P‖Q) = Σ_b p_b ln(p_b/q_b)
    *   JS      = ½ KL(P‖M) + ½ KL(Q‖M),  M = (P+Q)/2
    *
    * JS ∈ [0, ln 2]: 0 = indistinguishable slices, ln 2 = disjoint.
    *
    * DETERMINISM: p_b/q_b are single IEEE expressions over integer
    * counts; each per-bucket term rounds(,9) into DECIMAL(18,9), so
    * the four folds are exact; round(,6) at readout. SCALE SHAPE: one
    * token hash-aggregate to 2·`buckets` cells, a `buckets`-row spine
    * join, 1-row folds.
    *
    * Returns one row (n_buckets, t_p, t_q, kl_pq, kl_qp, js).
    */
  def jsDivergence(docs: DataFrame, slicePred: Column,
      buckets: Int = 1024): DataFrame = {
    Hashing.ensureRegistered(docs)
    val toks = docs.select(slicePred.as("is_p"),
        explode(expr(tokensSql)).as("term"))
      .withColumn("bkt", pmod(Hashing.md5Long(col("term")),
        lit(buckets.toLong)))
    val counts = toks.groupBy("bkt").agg(
      sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
      sum(when(!col("is_p"), 1L).otherwise(0L)).as("cq"))
    val spine = docs.sparkSession.range(buckets.toLong)
      .select(col("id").as("bkt"))
    val halfB = buckets * 0.5
    val full = spine.join(counts, Seq("bkt"), "left")
      .na.fill(0L, Seq("cp", "cq"))
    val totals = full.agg(sum(col("cp")).as("tp"), sum(col("cq")).as("tq"))
    full.crossJoin(broadcast(totals))
      .select(col("tp"), col("tq"),
        expr(s"(cast(cp as double) + 0.5D) / " +
          s"(cast(tp as double) + ${halfB}D)").as("p"),
        expr(s"(cast(cq as double) + 0.5D) / " +
          s"(cast(tq as double) + ${halfB}D)").as("q"))
      .select(col("tp"), col("tq"),
        expr("cast(round(p * ln(p / q), 9) as decimal(18,9))").as("tpq"),
        expr("cast(round(q * ln(q / p), 9) as decimal(18,9))").as("tqp"),
        expr("cast(round(p * ln(2.0D * p / (p + q)), 9) " +
          "as decimal(18,9))").as("tpm"),
        expr("cast(round(q * ln(2.0D * q / (p + q)), 9) " +
          "as decimal(18,9))").as("tqm"))
      .groupBy("tp", "tq")
      .agg(sum(col("tpq")).as("spq"), sum(col("tqp")).as("sqp"),
        sum(col("tpm")).as("spm"), sum(col("tqm")).as("sqm"))
      .select(lit(buckets.toLong).as("n_buckets"),
        col("tp").as("t_p"), col("tq").as("t_q"),
        round(col("spq").cast("double"), 6).as("kl_pq"),
        round(col("sqp").cast("double"), 6).as("kl_qp"),
        round(expr("0.5D * cast(spm as double) + " +
          "0.5D * cast(sqm as double)"), 6).as("js"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every doc in
    * the raw pool by how target-like its hashed unigram bag is:
    *
    *   w(d) = Σ_tokens [ ln p_tgt(bucket) − ln p_raw(bucket) ]
    *
    * with bucket = md5(term) mod `buckets` (the paper's hashed-ngram
    * trick: model size is BOUNDED at `buckets` rows no matter the
    * vocabulary — that is the 100 TB story) and add-0.5 smoothing
    * p(k) = (c_k + 0.5)/(T + 0.5·B). High-w docs resemble the target
    * distribution; resample the pool ∝ exp(w) downstream.
    *
    * SCALE SHAPE: the two models are ONE `buckets`-row count table
    * each (hash aggregates), joined into a broadcast log-ratio table;
    * scoring is a per-token equi-join on bucket + one per-doc fold.
    * DETERMINISM: each ln rounds (,9) into DECIMAL(12,9) before the
    * subtraction and the per-doc sum — order-exact folds; only raw-
    * observed buckets are scored (every scored token lands in one).
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
      buckets: Int = 1024): DataFrame = {
    Hashing.ensureRegistered(docs)
    val toks = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        explode(expr(Hashing.tokensSql)).as("term"))
      .withColumn("bkt", pmod(Hashing.md5Long(col("term")),
        lit(buckets.toLong)))
    val rawC = toks.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val tgtC = toks.filter(col("is_t")).groupBy("bkt")
      .agg(count(lit(1)).as("ct"))
    val totals = rawC.agg(sum(col("cr")).as("tr"))
      .crossJoin(tgtC.agg(sum(col("ct")).as("tt")))
    val halfB = buckets * 0.5
    val ratio = rawC.join(tgtC, Seq("bkt"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(totals)
      .select(col("bkt"), expr(
        "cast(round(ln((cast(ct as double) + 0.5D) / " +
          s"(cast(tt as double) + ${halfB}D)), 9) as decimal(12,9)) - " +
        "cast(round(ln((cast(cr as double) + 0.5D) / " +
          s"(cast(tr as double) + ${halfB}D)), 9) as decimal(12,9))")
        .as("lr"))
    toks.join(broadcast(ratio), Seq("bkt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lr")).cast("double"), 6).as("weight"))
      .orderBy("doc_id")
  }
}
