package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Pins.PinSyntax

/** Text-model family over mention contexts (ref sift/models/text.py and
  * sift/models/embeddings.py): corpus idf, the per-entity mention TF-IDF
  * model (the reference's flagship entity representation), and the
  * entity-annotated skip-gram training corpus with per-class minimum
  * counts.
  *
  * All plans are declarative: explode → hash-aggregate → equi-join; no
  * driver-side dictionaries (the reference collects its vocab/idf models
  * to the driver — here the idf side joins distributively and small
  * vocabularies broadcast).
  */
object TextModels {

  /** idf = ln(N / df), rounded to 6 places, over the columns `n_docs`
    * and `df`.
    */
  private[graft] def idf: Column =
    round(log(col("n_docs").cast("double") / col("df")), 6)

  /** The BM25 idf of a term that `df` of the `nd` documents hold, as a
    * SQL expression rounded to 6 places.
    */
  private def bm25IdfSql(df: String): String =
    s"round(ln(1.0 + (cast(nd as double) - cast($df as double) + 0.5) / " +
      s"(cast($df as double) + 0.5)), 6)"

  /** One BM25 term: the idf times the frequency `tf` normalized by the
    * document's `len` against the mean length `sl / nd`. Structure
    * mirrors the oracle SQL text exactly, so the IEEE op sequence is
    * identical on both engines.
    */
  private def bm25TermSql(tf: String, df: String, k1: Double,
      b: Double): String =
    s"${bm25IdfSql(df)} * (cast($tf as double) * ${k1 + 1.0})" +
      s" / (cast($tf as double) + $k1 * (1.0 - $b + $b *" +
      s" (cast(len as double) / (cast(sl as double) / cast(nd as double)))))"

  /** F12 / ref TermIdfs (text.py:152-168): idf = ln(N / df) over the
    * corpus token vocabulary, keeping terms with df > `minDf` (the ref's
    * `TermDocumentFrequencies` floor; its default 2 assumes web-scale
    * corpora — callers pick the floor for their corpus size).
    */
  def termIdfs(docs: DataFrame, minDf: Long = 2): DataFrame = {
    val tk = docs.select(col("doc_id"),
      explode(expr(Hashing.tokens())).as("tok"))
    // df via the (doc, tok) partial-aggregate: the distinct-shuffle over
    // the raw token explode collapses map-side before it moves
    val dfreq = tk.groupBy("doc_id", "tok").agg(count(lit(1)))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") > minDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    dfreq.crossJoin(n) // 1-row broadcast, not a real cross product
      .select(col("tok"), idf.as("idf"))
  }

  /** EntityMentionTermFrequency (ref text.py:170-206, fixing ref defect
    * #4 — the reference destructures mentions with a stale 2-tuple shape;
    * the intent is tf-idf over mention-context terms grouped by TARGET
    * entity): tf per (target, token) over the full mention text → inner
    * join idf (≡ the ref's leftOuterJoin + idf≠None filter) → weight =
    * sqrt(tf) × idf → per-entity entries sorted by token, L2-normalized
    * with a deterministic sequential fold.
    *
    * Output: (target, counts) with counts a JSON array of {tok, w} and w
    * a fixed-point DECIMAL(10,6) string (engine output convention).
    *
    * Scale shape: two hash aggregations (tf, plus the idf build upstream)
    * and one equi-join on the token key — AQE broadcasts the idf side
    * when the vocabulary is small; nothing funnels through the driver.
    */
  def entityMentionTermFrequency(mentions: DataFrame, idfs: DataFrame,
      normalize: Boolean = true): DataFrame = {
    val tf = mentions
      .select(col("target"), explode(expr(Hashing.tokens())).as("tok"))
      .groupBy("target", "tok").agg(count(lit(1)).as("tf"))
    val w = tf.join(idfs, "tok")
      .select(col("target"), col("tok"),
        (sqrt(col("tf").cast("double")) * col("idf")).as("wt"))
    // the norm fold lives in its own projection — lambdas get no CSE,
    // inlining it would re-fold the entry list per element
    val grouped = w.groupBy("target")
      .agg(sort_array(collect_list(struct(col("tok"), col("wt"))))
        .as("es"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(es, cast(0.0 as double), (a, e) -> a + e.wt * e.wt))"))
    val wOut =
      if (normalize)
        "case when nrm > 0 then e.wt / nrm else cast(0.0 as double) end"
      else "e.wt"
    grouped.select(col("target"), to_json(expr(
      s"transform(es, e -> struct(e.tok as tok, " +
        s"cast(cast($wOut as decimal(10,6)) as string) as w))"))
      .as("counts"))
  }

  /** EntitySkipGramEmbeddings training corpus (ref embeddings.py:44-55):
    * one training sentence per mention whose target carries
    * `entityPrefix` — pre-context tokens ⧺ the raw entity token (the
    * un-tokenized target URI, exactly as the ref injects it) ⧺
    * post-context tokens. The in-span anchor tokens are EXCLUDED, as in
    * the reference.
    *
    * Keeps the mention's natural key (target, source, start, stop) so
    * downstream filters can regroup without synthetic ids. Record-local:
    * pure per-row expressions, no shuffle.
    */
  def entityTrainingSentences(mentions: DataFrame,
      entityPrefix: String): DataFrame =
    mentions
      .filter(col("target").startsWith(entityPrefix))
      .select(col("target"), col("source"), col("start"), col("stop"),
        expr(s"concat(${Hashing.tokens("substring(text, 1, start)")}, " +
          s"array(target), ${Hashing.tokens("substring(text, stop + 1)")})")
          .as("sentence"))

  /** Per-class minimum-count vocabulary filter (ref embeddings.py:36-42,
    * 60-70: gensim trim_rule keeps entities at count ≥ minEntityCount and
    * words at count ≥ minWordCount — the classes get different floors
    * because entity tokens are orders of magnitude rarer). Tokens below
    * their class floor are removed from the training sentences (gensim
    * likewise drops pruned words from sentences at train time); emptied
    * sentences are dropped.
    *
    * Two distributed passes: a token-count aggregate, then a
    * posexplode → join-on-token → regroup that preserves token order by
    * position — the same scale-safe shape as [[Mentions.indexMapped]]
    * (join strategy left to AQE: the above-floor vocabulary broadcasts
    * when small, shuffles when web-scale).
    */
  def classMinCountFilter(sentences: DataFrame, entityPrefix: String,
      minWordCount: Long, minEntityCount: Long): DataFrame = {
    val counts = sentences
      .select(explode(col("sentence")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val allowed = counts.filter(
      (col("w").startsWith(entityPrefix) && col("cnt") >= minEntityCount) ||
        (!col("w").startsWith(entityPrefix) && col("cnt") >= minWordCount))
      .select("w")
    // no broadcast hint: the above-floor vocabulary can be huge at web
    // scale — AQE broadcasts it only when it actually fits (contrast
    // mappedEntityComentions, whose vocab is bounded by maxRank)
    sentences
      .select(col("target"), col("source"), col("start"), col("stop"),
        posexplode(col("sentence")).as(Seq("pos", "w")))
      .join(allowed, Seq("w"))
      .groupBy("target", "source", "start", "stop")
      .agg(expr("transform(array_sort(collect_list(struct(pos, w))), " +
        "x -> x.w)").as("sentence"))
  }

  /** SEMANTIC embedding gate fixture: a deterministic training corpus
    * with two planted synonyms. `syn_a` and `syn_b` occur in IDENTICAL
    * contexts (every context sentence is emitted once per synonym), so a
    * correct skip-gram trainer must place them closer to each other than
    * to any context word — a structural vocab check can't see a trainer
    * whose corpus wiring scrambles contexts while preserving token
    * counts; this can (the ref's only embedding sanity was driver-side
    * `most_similar` eyeballing, sift.ipynb). No RNG: contexts are fixed
    * modular mixes of the sentence index.
    *
    * `scrambled = true` returns the SAME token multiset re-chunked by a
    * deterministic pseudo-random permutation — identical vocabulary and
    * counts, destroyed co-occurrence — the negative control a sensitive
    * gate must fail on.
    */
  def plantedSynonymCorpus(s: org.apache.spark.sql.SparkSession,
      n: Int = 200, scrambled: Boolean = false): DataFrame = {
    import s.implicits._
    // 8 context words, 4 per sentence × 2n sentences / 8 = n occurrences
    // each — the SAME frequency as each synonym. Equal frequencies
    // matter: a frequency outlier pairs with the other outlier under any
    // training corpus (high-df tokens co-occur with everything), which
    // would let the scrambled negative control pass on frequency alone.
    val sentences: Seq[Seq[String]] = (0 until n).flatMap { i =>
      val ctx = Seq((i * 7) % 8, (i * 3 + 1) % 8, (i * 11 + 5) % 8,
        (i * 13 + 7) % 8).map("c" + _)
      Seq(ctx.take(2) ++ Seq("syn_a") ++ ctx.drop(2),
        ctx.take(2) ++ Seq("syn_b") ++ ctx.drop(2))
    }
    val out = if (!scrambled) sentences else {
      // splitmix-style NONLINEAR hash — a linear congruential shuffle of
      // this periodic corpus maps sentence-position classes onto
      // sentence-position classes (all the synonym slots can land in the
      // same output sentences), silently preserving the very
      // co-occurrence the control must destroy
      def mix(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val toks = sentences.flatten
      toks.indices
        .sortBy(i => (mix(i.toLong), i))
        .map(toks)
        .grouped(5).map(_.toSeq).toSeq
    }
    out.toDF("sentence")
  }

  /** Top-1 cosine neighbor for each probe word over a trained-embedding
    * vocabulary frame (`word`, `vector ml.Vector` — the ml.Word2Vec
    * `getVectors` shape): probe vectors broadcast against the vocabulary,
    * exact cosine, ties broken on the word. Distributed — no driver-side
    * vector math — so it gates embedding SEMANTICS the same way every
    * other operator is gated.
    */
  def top1Neighbors(vectors: DataFrame, probes: Seq[String]): DataFrame = {
    graft.functions.GraftFunctions.registerAll(vectors.sparkSession)
    val va = vectors.select(col("word"),
      org.apache.spark.ml.functions.vector_to_array(col("vector")).as("v"))
    val p = va.filter(col("word").isInCollection(probes))
      .select(col("word").as("probe"), col("v").as("pv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("probe")
      .orderBy(desc("cos"), asc("neighbor"))
    broadcast(p)
      .join(va.select(col("word").as("neighbor"), col("v").as("nv")),
        col("probe") =!= col("neighbor"))
      .select(col("probe"), col("neighbor"),
        expr(Similarity.cosineSql("pv", "nv")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select("probe", "neighbor")
  }

  /** Bigram pointwise mutual information — collocation mining:
    * pmi(a, b) = ln( p(a,b) / (p(a)·p(b)) ) over the corpus bigram
    * stream, p(a,b) from the directed bigram counts
    * ([[Graph.wordGraph]]), p(·) from unigram counts. High-PMI pairs
    * are multi-word expressions ("new york"); `minCount` suppresses
    * noise collocations. Scale shape: one bigram aggregate + two
    * unigram-key joins + the two corpus totals as broadcast 1-row
    * frames; the ln rides the round(,6) transcendental convention.
    */
  def bigramPmi(docs: DataFrame, minCount: Long): DataFrame = {
    val bi = Graph.wordGraph(docs)
    val uni = docs
      .select(explode(expr(Hashing.tokensSql)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totBi = bi.agg(sum(col("w")).as("M"))
    val totUni = uni.agg(sum(col("c")).as("N"))
    bi.filter(col("w") >= minCount)
      .join(uni.select(col("tok").as("src"), col("c").as("ca")), Seq("src"))
      .join(uni.select(col("tok").as("dst"), col("c").as("cb")), Seq("dst"))
      .crossJoin(broadcast(totBi))
      .crossJoin(broadcast(totUni))
      .select(col("src"), col("dst"), col("w"), expr(
        "round(ln((cast(w as double) / cast(M as double)) / " +
          "((cast(ca as double) / cast(N as double)) * " +
          "(cast(cb as double) / cast(N as double)))), 6)").as("pmi"))
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones, the Lucene-default
    * scoring) — the retrieval completion of the tf-idf family:
    *
    *   score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
    *
    * Determinism contract: the per-term sum is a LITERAL left-to-right
    * `+` chain over the query terms in sorted order (never a float
    * aggregate whose combine order floats with partitioning); idf — the
    * only transcendental — and the final score ride the round(,6)
    * convention; ties at 6 decimals break on doc_id. N counts docs with
    * ≥ 1 token (a token-free doc can never match).
    *
    * Scale shape: ONE exploded-token hash aggregate builds per-doc
    * length AND per-query-term tfs together (the term list is a literal
    * CASE battery, so no (doc × term) join materializes); corpus stats
    * (N, Σlen, per-term dfs) reduce that to a 1-row broadcast frame;
    * scoring is a pure projection; top-k is TakeOrderedAndProject.
    * Nothing shuffles on doc_id and no driver funnel — at 100 TB the
    * only wide op is the single per-doc aggregate.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      tokens: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct.sorted
    val idx = terms.indices
    // r16 (guide §2.3): callers composing several retrieval passes over
    // ONE corpus (prfExpand) hand in their pinned exploded token frame
    // so the corpus is tokenized once, not once per pass
    val tk = tokens.getOrElse(docs.select(col("doc_id"),
      explode(expr(Hashing.tokensSql)).as("tok")))
    val perDocAggs = count(lit(1)).as("len") +: idx.map(i =>
      sum(when(col("tok") === terms(i), 1L).otherwise(0L)).as(s"tf_$i"))
    val perDoc = tk.groupBy("doc_id")
      .agg(perDocAggs.head, perDocAggs.tail: _*)
    val statAggs = Seq(sum(col("len")).as("sl"),
      count(lit(1)).as("nd")) ++ idx.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    def term(i: Int): Column = expr(bm25TermSql(s"tf_$i", s"df_$i", k1, b))
    perDoc.crossJoin(broadcast(stats))
      .filter(idx.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc_id"),
        round(idx.map(term).reduce(_ + _), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Retrieval-quality EVALUATION of the BM25 ranking — NDCG@k, MRR
    * and recall@k (Järvelin & Kekäläinen 2002 for NDCG) against a
    * deterministic graded relevance: rel(doc) = number of DISTINCT
    * query terms the document contains (0..|terms|) — the synthetic
    * ground truth that makes the metric replayable without human
    * labels. DCG gain = (2^rel − 1)/log₂(rank+1); IDCG from the
    * corpus-ideal ordering (rel desc, doc_id); MRR = 1/first-relevant
    * rank in the top k; recall@k = relevant-in-top-k / relevant-total.
    *
    * DETERMINISM: per-position gains round(,9) into DECIMAL before
    * the ≤ k-row sums; the BM25 ranking is [[bm25TopK]]'s (already
    * rounded + doc_id tie-broken). Returns one row
    * (k, dcg, idcg, ndcg, mrr, recall_at_k).
    *
    * SCALE SHAPE: relevance is per-row expression work; ideal-ordering
    * and top-k are TakeOrdered limits; everything after runs on ≤ k
    * rows plus two 1-row folds.
    */
  def rankEval(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.distinct.sorted
    val relExpr = terms.map(t =>
      when(array_contains(expr(Hashing.tokensSql), t), 1L).otherwise(0L))
      .reduce(_ + _)
    val rel = docs.select(col("doc_id"), relExpr.as("rel"))
      .filter(col("rel") > 0)
    val gain = (relCol: String, posCol: String) => expr(
      s"cast(round((power(2.0D, $relCol) - 1.0D) / " +
        s"(ln(cast($posCol as double) + 1.0D) / ln(2.0D)), 9) " +
        "as decimal(24,9))")
    val top = bm25TopK(docs, queryTerms, k, k1, b)
      .withColumn("rank", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(desc("score"), asc("doc_id"))))
      .join(rel, Seq("doc_id"), "left")
      .na.fill(0L, Seq("rel"))
    val dcg = top.agg(sum(gain("rel", "rank")).as("dcg"),
      min(when(col("rel") > 0, col("rank"))).as("fr"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("nrel_top"))
    val ideal = rel.orderBy(desc("rel"), asc("doc_id")).limit(k)
      .withColumn("pos", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(desc("rel"), asc("doc_id"))))
      .agg(sum(gain("rel", "pos")).as("idcg"))
    val den = rel.agg(count(lit(1)).as("n_rel"))
    dcg.crossJoin(ideal).crossJoin(den)
      .select(lit(k.toLong).as("k"),
        round(col("dcg").cast("double"), 6).as("dcg"),
        round(col("idcg").cast("double"), 6).as("idcg"),
        round(expr("case when cast(idcg as double) > 0.0D then " +
          "cast(dcg as double) / cast(idcg as double) end"), 6)
          .as("ndcg"),
        round(expr("case when fr is not null then " +
          "1.0D / cast(fr as double) end"), 6).as("mrr"),
        round(expr("case when n_rel > 0 then " +
          "cast(nrel_top as double) / cast(n_rel as double) end"), 6)
          .as("recall_at_k"))
  }

  /** JOIN-FORM BM25 — the production shape of [[bm25TopK]]: query
    * terms arrive as a DATAFRAME (column `term`) instead of literals,
    * so the term set can be data-dependent (relevance feedback, query
    * logs, multi-query batches) and arbitrarily large. Scoring is one
    * token-explode ⋈ broadcast(terms) equi-join → (doc, term) tf
    * aggregate → df/len/stats joins — no per-term plan columns, no
    * driver round-trip.
    *
    * DETERMINISM: the per-term contribution rounds to 6 and fixes to
    * DECIMAL(18,6) BEFORE the per-doc sum (a double SUM over term rows
    * would be addition-order-dependent; [[bm25TopK]] sums a fixed
    * expression tree so it never faced this); idf rounds to 6 exactly
    * as [[bm25TopK]] does. Corpus stats (nd, sl) count docs with ≥ 1
    * token — identical to [[bm25TopK]]'s population.
    */
  def bm25Join(docs: DataFrame, terms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      tokens: Option[DataFrame] = None): DataFrame = {
    // see bm25TopK: shared pre-exploded token frame for composed passes
    val tk = tokens.getOrElse(docs.select(col("doc_id"),
      explode(expr(Hashing.tokensSql)).as("tok")))
    val lens = tk.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = lens.agg(sum(col("len")).as("sl"), count(lit(1)).as("nd"))
    val tf = tk.join(broadcast(terms.select(col("term").as("tok"))
        .distinct()), Seq("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), Seq("tok"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("tscore", expr(
        s"cast(round(${bm25TermSql("tf", "df", k1, b)}, 6) as decimal(18,6))"))
      .groupBy("doc_id").agg(sum(col("tscore")).as("s"))
      .select(col("doc_id"), round(col("s").cast("double"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai & Lafferty
    * 2001) — the language-modeling alternative to [[bm25Join]], same
    * join-form contract (terms arrive as a DataFrame column `term`).
    * Scored in the rank-equivalent match-only decomposition
    *
    *   score(q,d) = Σ_{t ∈ q∩d} ln(1 + tf·C / (μ·cf_t))
    *              + |q|·ln(μ / (len_d + μ))
    *
    * (C = collection token count, cf_t = collection frequency), which
    * lets the engine score only matching docs while keeping the full
    * QL length normalization. CONVENTIONS: query terms absent from
    * the collection drop from the query (cf = 0 has no defined LM
    * mass — the standard treatment), and only docs matching ≥ 1
    * surviving term are candidates (the [[bm25Join]] population).
    *
    * DETERMINISM: both the per-term match contribution and the
    * length term round(,6) into DECIMAL(18,6) before the per-doc
    * fold (|q| × length-term multiplies INTEGER × DECIMAL — exact);
    * one double round at readout.
    *
    * SCALE SHAPE: the [[bm25Join]] plan — token explode ⋈ broadcast
    * terms, (doc, term) tf aggregate, broadcast cf/|q|/C frames, one
    * TakeOrdered cut.
    */
  def qldJoin(docs: DataFrame, terms: DataFrame, k: Int,
      mu: Double = 2000.0): DataFrame = {
    val tk = docs.select(col("doc_id"),
      explode(expr(Hashing.tokensSql)).as("tok"))
    val lens = tk.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val ctot = tk.agg(count(lit(1)).as("ct"))
    val qterms = terms.select(col("term").as("tok")).distinct()
    val matched = tk.join(broadcast(qterms), Seq("tok"))
    val cf = matched.groupBy("tok").agg(count(lit(1)).as("cf"))
    val nq = cf.agg(count(lit(1)).as("nq"))
    val tf = matched.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    tf.join(broadcast(cf), Seq("tok"))
      .crossJoin(broadcast(ctot))
      .withColumn("tscore", expr(
        "cast(round(ln(1.0D + (cast(tf as double) * " +
          s"cast(ct as double)) / ($mu * cast(cf as double))), 6) " +
          "as decimal(18,6))"))
      .groupBy("doc_id").agg(sum(col("tscore")).as("ms"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(nq))
      .select(col("doc_id"),
        round((col("ms") + col("nq") * expr(
          s"cast(round(ln($mu / (cast(len as double) + $mu)), 6) " +
            "as decimal(18,6))")).cast("double"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** PSEUDO-RELEVANCE FEEDBACK query expansion (Rocchio/RM3-lite) —
    * the classic recall lever of sparse retrieval: run the seed query,
    * take the top `nDocs` feedback documents, mine their most
    * informative terms, and re-query with the expanded term set.
    * Expansion term score = Σ_{d ∈ feedback} tf(t,d) · idf(t) with the
    * [[bm25TopK]] idf (round-6); the top `mTerms` non-seed terms by
    * (score desc, term asc) join the seeds; the second pass is
    * [[bm25Join]] (the term set is now DATA, not literals). Returns
    * the final top-`k` (doc_id, score) — fully distributed end to end,
    * no driver-side term list.
    *
    * SCALE SHAPE: feedback docs are a ≤ nDocs-row broadcast; corpus df
    * is one vocab aggregate (the m2_term_idfs shape); the expanded
    * term table (≤ mTerms + |seeds| rows) broadcasts into the scoring
    * join.
    */
  def prfExpand(docs: DataFrame, seedTerms: Seq[String], nDocs: Int = 5,
      mTerms: Int = 5, k: Int = 10): DataFrame = {
    val seeds = seedTerms.distinct.sorted
    // r15: the exploded token table feeds THREE consumers (nd, dfAll,
    // fbTf) — pin one materialization (lazy) so the tokenize+explode
    // subtree runs once, not three times (the jaccard shingle-table
    // discipline). r16: the feedback retrieval and the final expanded
    // retrieval read the SAME pinned frame — previously bm25TopK and
    // bm25Join each re-tokenized the whole corpus (3 tokenize passes
    // per call; now 1).
    val allTk = docs.select(col("doc_id"),
      explode(expr(Hashing.tokensSql)).as("tok"))
      .pin(false)
    val feedback = bm25TopK(docs, seeds, nDocs, tokens = Some(allTk))
      .select("doc_id")
    val nd = allTk.select("doc_id").distinct()
      .agg(count(lit(1)).as("nd"))
    val dfAll = allTk.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val fbTf = allTk.join(broadcast(feedback), Seq("doc_id"))
      .groupBy("tok").agg(count(lit(1)).as("ftf"))
    val expansion = fbTf
      .filter(!col("tok").isInCollection(seeds))
      .join(dfAll, Seq("tok"))
      .crossJoin(broadcast(nd))
      .withColumn("escore",
        expr(s"round(cast(ftf as double) * ${bm25IdfSql("df")}, 6)"))
      .orderBy(desc("escore"), asc("tok")).limit(mTerms)
      .select(col("tok").as("term"))
    val terms = expansion.unionByName(
      docs.sparkSession.createDataFrame(seeds.map(Tuple1(_)))
        .toDF("term"))
    bm25Join(docs, terms, k, tokens = Some(allTk))
  }

  /** Feature-hashing vectorization (the "hashing trick", Weinberger et
    * al. 2009): each token maps to bucket `md5(tok) mod dim` with a
    * ±1 sign from an independent hash bit (debiases the collision
    * inner-product), and a document's vector is the signed count per
    * bucket — fixed-dimension text vectorization with NO vocabulary
    * table, the preprocessing step that feeds linear models at corpus
    * scale. Output is the sparse form (doc_id, idx, weight), zero
    * buckets dropped.
    *
    * Scale shape: one token explode → one (doc, bucket) hash
    * aggregate. No vocab join, no driver state — the whole point of
    * the trick at 100 TB.
    */
  def featureHash(docs: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    Hashing.ensureRegistered(docs)
    docs.select(col("doc_id"), explode(expr(Hashing.tokensSql)).as("tok"))
      .select(col("doc_id"),
        pmod(Hashing.md5Long(col("tok")), lit(dim.toLong)).as("idx"),
        (pmod(Hashing.md5Long(concat(lit("sign|"), col("tok"))), lit(2L))
          * 2L - 1L).as("sign"))
      .groupBy("doc_id", "idx")
      .agg(sum(col("sign")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** Sparse TF-IDF nearest-neighbor pairs via the inverted index — the
    * classic SPARSE similarity join (beside the dense-embedding ANN
    * family in `ops/Similarity`): per-doc vectors w = √tf · idf,
    * L2-normalized, paired through ONE per-term equi-self-join so the
    * cosine is Σ partial products over SHARED terms only — never a
    * doc × doc comparison. Terms outside (minDf, maxDf] leave the
    * index: rare terms pair nothing, hot terms are the quadratic
    * hazard (a df-D term alone emits D²/2 pairs), so `maxDf` is the
    * index-pruning knob every production sparse joiner carries.
    * Returns the global top `k` pairs by (cosine desc, doc_a, doc_b).
    *
    * DETERMINISM: idf rounds(,6); norms sum decimal-rounded squares;
    * partial products round(,9) into DECIMAL before the per-pair sum.
    */
  def tfidfNeighbors(docs: DataFrame, k: Int, minDf: Long = 2,
      maxDf: Long = 10000): DataFrame = {
    require(k > 0 && minDf < maxDf, s"bad k/minDf/maxDf: $k/$minDf/$maxDf")
    val tf = docs
      .select(col("doc_id"), explode(expr(Hashing.tokensSql)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") > minDf && col("df") <= maxDf)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idfs = dfreq.crossJoin(broadcast(n)).select(col("tok"), idf.as("idf"))
    val w = tf.join(idfs, "tok")
      .select(col("doc_id"), col("tok"),
        (sqrt(col("tf").cast("double")) * col("idf")).as("wt"))
    // a zero norm is reachable (every surviving term with idf = 0,
    // i.e. df == n_docs when n_docs <= maxDf): such a doc carries no
    // discriminative weight and is EXCLUDED rather than emitting
    // NaN = 0/0 pairs
    val norms = w.groupBy("doc_id")
      .agg(expr("sqrt(cast(sum(cast(round(wt * wt, 9) " +
        "as decimal(24,9))) as double))").as("nrm"))
      .filter(col("nrm") > 0)
    val nw = w.join(norms, "doc_id")
      .select(col("doc_id"), col("tok"), expr("wt / nrm").as("nw"))
    nw.as("a")
      .join(nw.as("b"), col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("cast(round(a.nw * b.nw, 9) as decimal(24,9))").as("p"))
      .groupBy("doc_a", "doc_b")
      .agg(round(sum(col("p")).cast("double"), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("doc_a"), asc("doc_b")).limit(k)
  }

  /** χ² term selection against a document label (the feature-selection
    * workhorse; Yang & Pedersen 1997): for each (term, label) the
    * presence/absence × label contingency, summed over the FULL
    * 2 × |labels| grid per term — chi2 = Σ (O − E)²/E with E from the
    * per-label doc counts and the term's document frequency. Returns
    * the top `k` terms by (chi2 desc, term asc), with document
    * frequency.
    *
    * Shapes: presence is DISTINCT (doc, term) — one explode + distinct;
    * per-(term, label) counts are one hash aggregate; the per-term ×
    * per-label grid is |vocab| × |labels| rows built by cross-joining
    * the tiny broadcast label frame; zero-observed cells contribute
    * their expectation (absent-side cells derive as n_label − O). A
    * cell with E = 0 contributes 0 (nt = N or nt = 0 degenerates).
    * Per-cell terms round(,9) into DECIMAL; TakeOrdered top-k.
    */
  def chi2Terms(docs: DataFrame, labelCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // null-labeled docs are excluded everywhere (N, label totals,
    // presence) — the complete-case convention shared with
    // Stats.chiSquareIndependence; a null label would inflate N yet
    // never meet the label grid
    val labeled = docs.filter(col(labelCol).isNotNull)
    val present = labeled
      .select(col("doc_id"), col(labelCol).as("lbl"),
        explode(expr(Hashing.tokensSql)).as("term"))
      .distinct()
    val byTermLabel = present.groupBy("term", "lbl")
      .agg(count(lit(1)).as("o1"))
    val byLabel = labeled.groupBy(col(labelCol).as("lbl"))
      .agg(count(lit(1)).as("nl"))
    val byTerm = byTermLabel.groupBy("term").agg(sum(col("o1")).as("nt"))
    val tot = labeled.agg(count(lit(1)).as("nn"))
    val grid = byTerm.crossJoin(broadcast(byLabel))
      .join(byTermLabel, Seq("term", "lbl"), "left")
      .withColumn("o1", coalesce(col("o1"), lit(0L)))
      .crossJoin(broadcast(tot))
    // presence cell: E1 = nt·nl/N; absence cell: O0 = nl − o1,
    // E0 = (N−nt)·nl/N — both spelled once via bound columns
    val terms = grid
      .withColumn("e1", expr(
        "cast(nt as double) * cast(nl as double) / cast(nn as double)"))
      .withColumn("e0", expr(
        "cast(nn - nt as double) * cast(nl as double) / " +
          "cast(nn as double)"))
      .withColumn("t1", expr(
        "case when e1 > 0 then (cast(o1 as double) - e1) * " +
          "(cast(o1 as double) - e1) / e1 else 0.0D end"))
      .withColumn("t0", expr(
        "case when e0 > 0 then (cast(nl - o1 as double) - e0) * " +
          "(cast(nl - o1 as double) - e0) / e0 else 0.0D end"))
      .select(col("term"), col("nt"),
        expr("cast(round(t1 + t0, 9) as decimal(24,9))").as("cell"))
    terms.groupBy("term")
      .agg(max(col("nt")).as("n_docs"),
        round(sum(col("cell")).cast("double"), 6).as("chi2"))
      .orderBy(desc("chi2"), asc("term")).limit(k)
  }

  /** Stupid-backoff trigram language model (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the web-scale LM scoring
    * scheme designed for exactly this distributed count-table shape):
    * train trigram/bigram/unigram counts on the even-hash half of the
    * corpus, score the odd-hash half per token position:
    *
    *   S(w3|w1w2) = c(w1w2w3)/c(w1w2)          if the trigram was seen
    *              = α · c(w2w3)/c(w2)          else if the bigram was
    *              = α² · max(c(w3),1)/N        else (unseen w3 floors
    *                                            at 1/N to keep −ln finite)
    *
    * with α = 0.4. Scale shape: the model IS three count tables built
    * by hash aggregates over the train half; scoring is four left
    * equi-joins on token keys (no driver-side model, unlike the
    * classic collected-ARPA-file LM) plus the corpus total as a
    * broadcast 1-row frame. Per-position NLLs round(,6) into DECIMAL
    * so the per-doc sum is order-independent (the unigramNll
    * convention).
    */
  def trigramBackoffNll(docs: DataFrame, alpha: Double = 0.4): DataFrame = {
    Hashing.ensureRegistered(docs)
    val withPar = docs.select(col("doc_id"),
      expr(Hashing.tokensSql).as("tk"),
      pmod(Hashing.md5Long(col("doc_id").cast("string")), lit(2L))
        .as("par"))
    val train = withPar.filter(col("par") === 0).select("tk")
    val heldOut = withPar.filter(col("par") === 1).select("doc_id", "tk")

    def triStream(df: DataFrame, carry: Seq[String]): DataFrame =
      df.filter(size(col("tk")) >= 3)
        .select(carry.map(col) :+ explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> struct(" +
            "element_at(tk, i) as w1, element_at(tk, i + 1) as w2, " +
            "element_at(tk, i + 2) as w3))")).as("t"): _*)
        .select(carry.map(col) ++
          Seq(col("t.w1"), col("t.w2"), col("t.w3")): _*)

    val tri = triStream(train, Nil)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
    val bi = train.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(" +
          "element_at(tk, i) as a, element_at(tk, i + 1) as b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cb"))
    val uni = train.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("N"))

    // probability expression mirrors the oracle SQL text exactly; a
    // seen trigram implies a seen (w1,w2) bigram and a seen (w2,w3)
    // bigram implies a seen w2 unigram, so the CASE denominators are
    // never null on the arm that uses them
    val p = s"CASE WHEN c123 IS NOT NULL THEN " +
      "cast(c123 as double) / cast(c12 as double) " +
      s"WHEN c23 IS NOT NULL THEN $alpha * " +
      "(cast(c23 as double) / cast(c2 as double)) " +
      s"ELSE ${alpha * alpha} * " +
      "(cast(coalesce(c3, 1) as double) / cast(N as double)) END"
    triStream(heldOut, Seq("doc_id"))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("a").as("w1"), col("b").as("w2"),
        col("cb").as("c12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("a").as("w2"), col("b").as("w3"),
        col("cb").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("cu").as("c3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), expr(
        s"cast(round(-ln($p), 6) as decimal(12,6))").as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        round(sum(col("nll")).cast("double") / count(lit(1)), 6)
          .as("mean_nll"))
  }

  /** Multinomial Naive Bayes classifier (McCallum & Nigam 1998) —
    * the classic count-table text classifier (the CCNet/GPT-3-era
    * quality/langID filter shape): train on the even-md5-hash half
    * of the corpus, predict `labelCol` for the odd half, emit the
    * confusion grid.
    *
    *   score(l | d) = ln P(l) + Σ_t n_t(d) · ln((c(t,l)+1)/(T_l+V))
    *
    * with add-1 (Laplace) smoothing over the train vocabulary V.
    * Every test token scores under EVERY label — including tokens
    * absent from (t,l) or from the vocab entirely, which take the
    * floor 1/(T_l+V) (c = 0); a token-less test doc falls back to
    * the prior-only argmax.
    *
    * SCALE SHAPE: the model IS one (term,label) count table built by
    * a hash aggregate over the train half — never collected. Scoring
    * is one equi-join of test (doc,term,cnt) triples against that
    * table after a broadcast cross with the |labels|-row label frame
    * (priors + totals + V); the argmax is a per-doc window over
    * |labels| rows. DETERMINISM: per-term log-likelihoods round(,9)
    * into DECIMAL(24,9) before the integer-count multiply and the
    * per-(doc,label) sum, so every fold is order-exact and the
    * argmax (score desc, label asc) has no float races.
    */
  def naiveBayes(docs: DataFrame, labelCol: String): DataFrame = {
    Hashing.ensureRegistered(docs)
    // r15: the tokenized+hashed frame feeds SIX plan paths (train's
    // count table, label totals, priors, V/N scalars, test tokens,
    // test spine) — pin one materialization (lazy) so the
    // tokenize+md5 subtree runs once, not six times
    val labeled = docs.filter(col(labelCol).isNotNull)
      .select(col("doc_id"), col(labelCol).as("lbl"),
        expr(Hashing.tokensSql).as("tk"))
      .withColumn("par",
        pmod(Hashing.md5Long(col("doc_id").cast("string")), lit(2L)))
      .pin(false)
    val train = labeled.filter(col("par") === 0)
    val test = labeled.filter(col("par") === 1)

    val trainTok = train.select(col("lbl"), explode(col("tk")).as("term"))
    val ctl = trainTok.groupBy("term", "lbl").agg(count(lit(1)).as("c"))
    // label frame: doc prior + token total per label; V and the train
    // doc total attach as broadcast scalars
    val byLabel = train.groupBy("lbl").agg(count(lit(1)).as("nl"))
      .join(trainTok.groupBy("lbl").agg(count(lit(1)).as("tl")),
        Seq("lbl"), "left")
      .na.fill(0L, Seq("tl"))
    val scalars = ctl.agg(countDistinct(col("term")).as("v"))
      .crossJoin(train.agg(count(lit(1)).as("ntr")))
    val labelFrame = byLabel.crossJoin(scalars)
      .withColumn("logprior", expr(
        "cast(round(ln(cast(nl as double) / cast(ntr as double)), 9) " +
          "as decimal(12,9))"))
      .select("lbl", "tl", "v", "logprior")

    val testTok = test
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    val termScores = testTok
      .crossJoin(broadcast(labelFrame.select(col("lbl").as("slbl"),
        col("tl"), col("v"))))
      .join(ctl.select(col("term"), col("lbl").as("slbl"), col("c")),
        Seq("term", "slbl"), "left")
      // (9,0)×(12,9) keeps the product inside exact DECIMAL range in
      // BOTH engines (a wider pair overflows DuckDB's 38-digit
      // multiply to DOUBLE and costs Spark scale) — cnt and the
      // round-9 log both fit with room
      .select(col("doc_id"), col("slbl"), expr(
        "cast(cnt as decimal(9,0)) * cast(round(ln(" +
          "cast(coalesce(c, 0) + 1 as double) / " +
          "cast(tl + v as double)), 9) as decimal(12,9))").as("w"))
      .groupBy("doc_id", "slbl").agg(sum(col("w")).as("toksum"))
    // every test doc × every label (prior-only fallback for empty docs)
    val scored = test.select(col("doc_id"), col("lbl").as("actual"))
      .crossJoin(broadcast(labelFrame.select(col("lbl").as("slbl"),
        col("logprior"))))
      .join(termScores, Seq("doc_id", "slbl"), "left")
      .withColumn("score", col("logprior") +
        coalesce(col("toksum"), expr("cast(0 as decimal(12,9))")))
    val win = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("slbl"))
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") === 1)
      .groupBy(col("actual"), col("slbl").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "predicted")
  }
}
