package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.queries.{Relational, Functions, Pipeline, Corpus, Analytics, Insights}

/** Scale-killer tripwire over every table-backed gate query's physical
  * plan (promotion of `Bench explain` from print-for-humans to a
  * failing assertion): re-introducing an O(n²) nested-loop join, a
  * cartesian product, or an unpartitioned single-task exchange breaks the
  * suite. Allow-lists name the queries where the pattern is a deliberate
  * 1-row-scalar broadcast (idf's N, corpus stats) — each entry documents
  * why it is not a scale risk.
  *
  * Plans are built (never executed) against sf0.001; the physical
  * patterns audited here are data-size-independent.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.session
  private val d = SharedSpark.testData()

  // Nested-loop joins whose build side is provably tiny — O(n·k) with a
  // bounded k, not O(n²):
  //  - m2_* / tfidf: a 1-row scalar aggregate (corpus count N) broadcast
  //    into the idf computation;
  //  - j_cross_grid: the deliberate CROSS JOIN coverage query over two
  //    dimension grids (|region| × |orderstatus|);
  //  - j7 / w1 / m_mapped_comentions / o8_token_shards: the two-phase
  //    rank/running-sum triangular offset join over the
  //    ≤ numPartitions-row per-partition totals table;
  //  - sim_topk_bruteforce: the broadcast query set against the corpus
  //    (non-equi self-exclusion; the corpus side never shuffles);
  //  - sim_ivf_topk / sim_ivf_kmeans_topk / sim_ivfpq_topk: the
  //    broadcast centroid table (k × dims rows) against the
  //    corpus/query set — and for the trained quantizers, the k-row
  //    seed-ranking window collapses to a single partition.
  //  - a_exact_quantiles: the 5-row quantile target table cross-joined
  //    with the broadcast 1-row corpus count.
  //  - agg_cms_counts: the 1-row CMS grid (the whole point of the
  //    sketch: bounded depth·width state) broadcast into the per-key
  //    estimate projection.
  //  - d_bloom_decontaminate: the broadcast 1-row m-bit bloom array
  //    cross-joined into the per-shingle membership probe (the whole
  //    point: bits broadcast instead of the benchmark set shuffling).
  private val allowNestedLoop = Set(
    "m2_term_idfs", "m2_tfidf_vectors", "m_entity_mention_tfidf",
    "m_mention_tfidf_scaled",
    "j_cross_grid", "j7_vocab_oov_broadcast", "w1_vocab_rank_band",
    "m_mapped_comentions", "o8_token_shards", "sim_topk_bruteforce",
    // o19_source_interleave (r12): the same two-phase triangular
    // offset joins — once over the ≤ numPartitions-row per-partition
    // count table (globalOrdinal), once over the ≤ |sources|-row
    // per-source count table
    "o19_source_interleave",
    "sim_ivf_topk", "sim_ivf_kmeans_topk", "sim_ivfpq_topk",
    // sim_pq_topk / _persisted / _append (r16): adcTopKCodes scores the
    // corpus codes against the BROADCAST per-query distance-matrix
    // frame (|queries| rows — the sim_topk_bruteforce class); the
    // filter is query_id =!= vec_id, so the join is deliberately the
    // broadcast-nested-loop "every code row meets every query row"
    // scan, bounded by the query-set size, never corpus × corpus
    "sim_pq_topk", "sim_pq_persisted", "sim_pq_append",
    // sim_ivfpq_persisted: identical probe shape to sim_ivfpq_topk —
    // the RELOADED ≤ k-row centroid table broadcast against the query
    // set (the persistence round trip must not change the plan class)
    "sim_ivfpq_persisted",
    "a_exact_quantiles", "a_sample_quantiles", "agg_cms_counts",
    "t_unigram_nll",
    "m_bigram_pmi", "d_bloom_decontaminate", "o11_sequence_pack",
    "o12_temperature_sample", "m_bm25_topk", "a_heavy_hitters",
    "pipe_corpus_curation", "m_hybrid_rrf",
    // m_prf_expansion: the m_bm25_topk stats shape three times over
    // (feedback pass, expansion idf, join-form re-query)
    "m_prf_expansion",
    // t_trigram_backoff: the corpus-total 1-row frame broadcast into
    // the per-position probability (the idf shape)
    "t_trigram_backoff",
    // f_winsorize_price: the [lo, hi] bounds collapse to ONE broadcast
    // row cross-joined into the per-row clamp
    "f_winsorize_price",
    // a_histogram: the 1-row [min, max] range frame cross-joined into
    // the binning aggregate
    "a_histogram",
    // a_mutual_info: the joint total as a broadcast 1-row frame
    "a_mutual_info",
    // a_mad_outliers: the winsorize/exact-quantile machinery twice
    // (median, then MAD) — 1-row bound frames cross-joined into the
    // per-row score
    "a_mad_outliers",
    // m_target_encoding: the 1-row global-mean frame cross-joined into
    // the |categories|-row encoding table
    "m_target_encoding",
    // e_attribution: the 1-row share total cross-joined into the
    // |types|-row attribution table
    "e_attribution",
    // a_chi2_independence / m_chi2_terms: the contingency grid is the
    // broadcast marginal frames' cross join (|X|·|Y| / vocab×|labels|
    // rows) plus the 1-row total — the j_cross_grid dimension shape
    "a_chi2_independence", "m_chi2_terms", "a_cramers_v",
    // q_skew_report / t_zipf_fit: the two-phase ordinal's triangular
    // offset join + 1-row summary frames cross-joined
    "q_skew_report", "t_zipf_fit",
    // m_tfidf_neighbors: the 1-row corpus count broadcast into idf
    "m_tfidf_neighbors",
    // e_time_to_convert: the exact-quantile machinery (triangular
    // offset join + 1-row N)
    "e_time_to_convert",
    // e_active_users: the 1-row [min,max] day-span frame cross-joined
    // into the ×28 activity fan-out
    "e_active_users",
    // m_basket_rules: the 1-row surviving-basket count broadcast into
    // the support/lift projection
    "m_basket_rules",
    // q_drift_psi: the 1-row reference [min,max] grid and the 1-row
    // per-side totals, broadcast into the bin/PSI folds
    "q_drift_psi",
    // a_histogram_equidepth / o15_zorder_layout: the two-phase
    // ordinal's triangular offset join + the 1-row N frame (the
    // a_exact_quantiles shape)
    "a_histogram_equidepth", "o15_zorder_layout",
    // e_survival_km: the 1-row study-end frame broadcast into the
    // per-user censoring flag
    "e_survival_km",
    // e_attribution_linear: the 1-row conversion-total frame (the
    // e_attribution share-denominator shape)
    "e_attribution_linear",
    // g_hits: the 1-row L∞-max frame broadcast into each half-round's
    // rescale (the idf shape, ×2 per round)
    "g_hits",
    // a_mann_whitney / o16_compaction_plan / o17_epoch_shuffle: the
    // two-phase ordinal/running-sum triangular offset join over the
    // ≤ numPartitions-row per-partition totals (the q_skew_report
    // shape), plus 1-row N/max frames
    "a_mann_whitney", "o16_compaction_plan", "o17_epoch_shuffle",
    // sim_mips_topk: the broadcast query set against the corpus
    // (non-equi self-exclusion — the sim_topk_bruteforce shape)
    "sim_mips_topk",
    // m_rank_eval: the BM25 1-row stats frame plus the three 1-row
    // metric frames (dcg × idcg × n_rel) cross-joined into the final
    // one-row readout
    "m_rank_eval",
    // j_bloom_prefilter: the 1-row broadcast Bloom frame cross-joined
    // into the probe-side bit test (the d_bloom_decontaminate shape)
    "j_bloom_prefilter",
    // a_roc_auc / a_ks_test: the two-phase running-sum triangular
    // offset join (the a_mann_whitney shape); a_ks_test additionally
    // crosses the 1-row (n_a, n_b) totals frame into the per-value
    // CDF gap; e_cuped: the 1-row temporal-midpoint frame crossed
    // into the pre/post split (the e_survival_km 1-row-frame shape)
    "a_roc_auc", "a_ks_test", "e_cuped",
    // a_bootstrap_ci: the 1-row full-mean frame crossed into the
    // 1-row interval readout
    "a_bootstrap_ci",
    // t_domain_mix: the 1-row (token-total, weight-total) frame
    // broadcast into the |domains|-row share projection
    "t_domain_mix",
    // e_ewma_forecast: the 1-row anchor-day frame broadcast into the
    // 9-day event slice (the e_survival_km study-end shape)
    "e_ewma_forecast",
    // e_fdr_bh: the 1-row m and kmax frames crossed into the m-row
    // BH readout
    "e_fdr_bh",
    // d_semantic_dedup: the broadcast centroid table against the
    // corpus (the sim_ivf_kmeans_topk shape)
    "d_semantic_dedup",
    // sim_recall_eval: composes the sim_topk_bruteforce broadcast
    // query set AND the sim_ivf_topk broadcast centroid table
    "sim_recall_eval",
    // pipe_dataset_card: three 1-row frames (totals × domain counts ×
    // dup count) crossed into the one-row datasheet
    "pipe_dataset_card",
    // e_attribution_ushape / e_seq_patterns / e_holt_forecast: the
    // 1-row conversion-total / distinct-user / anchor-day frame
    // crossed into the aggregate-sized readout (the
    // e_attribution_linear / e_ewma_forecast shapes)
    "e_attribution_ushape", "e_seq_patterns", "e_holt_forecast",
    // m_naive_bayes: the |labels|-row model frame (+1-row V/N scalars)
    // broadcast into per-token scoring — the whole point of the
    // count-table classifier; t_dsir_weights: the bounded 1024-bucket
    // log-ratio table + 1-row totals, broadcast (the model IS bounded)
    "m_naive_bayes", "t_dsir_weights",
    // t_collocations / a_cohens_kappa: the 1-row corpus-total /
    // pe-numerator frame crossed into the bounded readout
    "t_collocations", "a_cohens_kappa",
    // m_decision_stump: the two-phase running-sum triangular offset
    // join (the a_mann_whitney shape) + the 1-row (n, np) totals
    "m_decision_stump",
    // sim_davies_bouldin: the broadcast k-row centroid table (the
    // sim_ivf_kmeans_topk shape) + the 1-row index frame
    "sim_davies_bouldin",
    // e_attribution_markov: the 1-row p_full frame and the 1-row
    // effect-total frame crossed into the |channels|-row readout —
    // the chain itself is aggregate-sized (|states|² edges) and the
    // per-iteration recurrence is a key-partitioned hash join
    "e_attribution_markov",
    // a_spearman: the two-phase running-sum triangular offset join
    // (the a_mann_whitney shape), TWICE — one per ranked column
    "a_spearman",
    // sim_silhouette: the broadcast k-row centroid table crossed per
    // point + the 1-row overall-mean frame (the sim_davies_bouldin
    // shape)
    "sim_silhouette",
    // e_hazard_na: the 1-row study-end frame broadcast into the
    // lifetime extraction (the e_survival_km shape)
    "e_hazard_na",
    // e_seasonal_forecast: the 1-row anchor-day frame broadcast into
    // the 4-week slice (the e_ewma_forecast shape)
    "e_seasonal_forecast",
    // m_qld_topk: the 1-row collection-count and |q| frames crossed
    // into the scoring join (the m_bm25_topk stats shape)
    "m_qld_topk",
    // m_gains_deciles: the 1-row N frame crossed into the decile
    // bucketing (the a_histogram_equidepth ordinal shape)
    "m_gains_deciles",
    // t_js_divergence: the 1-row totals frame crossed into the
    // bounded 1024-bucket spine (the q_drift_psi grid shape)
    "t_js_divergence",
    // t_heaps_fit: the two-phase ordinal's triangular offset join,
    // TWICE (token order + first-appearance rank — the t_zipf_fit
    // shape)
    "t_heaps_fit",
    // q_benford: the 1-row total and χ² frames crossed into the
    // ≤9-row digit table (bounded by construction)
    "q_benford",
    // e_permutation_test: the 1-row observed-diff frame crossed into
    // the reps-row permutation diffs (the a_bootstrap_ci shape)
    "e_permutation_test",
    // a_brown_forsythe / a_anova_oneway: the 1-row k-group moment
    // frame crossed with the 1-row s²/n fold
    "a_brown_forsythe", "a_anova_oneway",
    // a_grubbs: the data crossed with the broadcast 1-row moments,
    // then with the 1-row max-deviation fold (the a_histogram shape)
    "a_grubbs",
    // m_isotonic_calibration: the triangular (j,k) interval spine and
    // the per-bin BETWEEN membership join over the 10-row bin frame —
    // bounded by construction (the j_cross_grid dimension shape)
    "m_isotonic_calibration",
    // a_kruskal_wallis: the two-phase running-sum triangular offset
    // join (the a_mann_whitney shape) + the 1-row tie-total frame
    // crossed into the 1-row H readout
    "a_kruskal_wallis",
    // m_logistic_newton: the 1-row (mu, sd) frame and the six 1-row β
    // frames crossed into per-row scoring (the e_cuped 1-row-frame
    // shape, once per Newton round)
    "m_logistic_newton",
    // pipe_feature_store: the 1-row midpoint and (mu, sd) frames +
    // the |types|-row encoding table, broadcast into the split scoring
    // (the e_cuped / m_naive_bayes shapes)
    "pipe_feature_store",
    // a_trimmed_mean / t_gini_tokens / o18_token_budget: the two-phase
    // running-sum triangular offset join (the a_mann_whitney shape) +
    // 1-row bounds/totals frames crossed into the readout
    "a_trimmed_mean", "t_gini_tokens", "o18_token_budget",
    // t_hill_tail: the 1-row threshold frame crossed into the bounded
    // top-(k+1) set (the a_grubbs 1-row-moments shape)
    "t_hill_tail",
    // m_class_report: the 1-row confusion fold crossed into the fixed
    // 2-row class spine (the q_benford bounded-spine shape)
    "m_class_report",
    // t_theil_decompose: the 1-row grand-totals frame crossed into
    // the |groups|-row readout (the t_domain_mix shape)
    "t_theil_decompose",
    // e_logrank_test: the 1-row study-end and user-count frames
    // crossed into the horizon-sized fold (the e_hazard_na shape)
    "e_logrank_test",
    // sim_knn_classify: the broadcast query set against the corpus
    // (the sim_topk_bruteforce non-equi self-exclusion shape)
    "sim_knn_classify",
    // t_lm_filter: the 1-row (N, V) train-LM stats frame crossed into
    // the per-token scoring (the t_unigram_nll idf shape)
    "t_lm_filter",
    // a_weighted_quantiles: the running-sum triangular offset join +
    // the broadcast |q|-row target table's non-equi interval pick
    // (the a_exact_quantiles shape)
    "a_weighted_quantiles",
    // a_effect_sizes: the 1-row U/nanb frame crossed into the 1-row
    // moment readout + the running-sum triangular offset join (the
    // a_mann_whitney + a_welch_ttest shapes composed)
    "a_effect_sizes",
    // a_wilcoxon_signed_rank: the running-sum triangular offset join
    // + the 1-row W+/tie fold crossed into the 1-row pair-count frame
    "a_wilcoxon_signed_rank",
    // a_hodges_lehmann: the CALENDAR-BOUNDED daily-mean pair cross
    // (days_a x days_b rows — the e_theil_sen pair-frame convention,
    // here as an explicit cross) + the 1-row np/median frames crossed
    // into the 1-row readout, + the running-sum triangular join
    "a_hodges_lehmann",
    // m_pr_auc: the running-sum triangular offset join, twice over
    // the SAME distinct-score table (the a_spearman shape)
    "m_pr_auc",
    // a_friedman: the broadcast 1-row k-count frame against the
    // (block, treatment) cell table, then the 1-row n/kk/ssbn/ties
    // frames crossed into the 1-row readout
    "a_friedman",
    // e_did / e_did_paired: the broadcast 1-row mid-timestamp frame
    // against events (the e_cuped boundary shape)
    "e_did", "e_did_paired",
    // m_brier_decomposition: the 1-row bin-totals frame against the
    // ≤ bins-row bin table, then the 1-row raw/binned folds crossed
    // into the readout (the m_hosmer_lemeshow family shape)
    "m_brier_decomposition",
    // a_fisher_exact: the 1-row margins frame fans out into the
    // O(√n)-term chunked support grid, and the 1-row p-sum fold
    // crosses back into the 1-row readout
    "a_fisher_exact",
    // a_dunn_posthoc: the k²-bounded GROUP-table self-join (inequality
    // pair frame over k rows) + the broadcast 1-row N/ties/k frames
    "a_dunn_posthoc",
    // m_logistic_irls: each round's 1-row β frame broadcast against
    // the data and the 1-row moment folds crossed back (the PCA-loop
    // broadcast-scalar shape, 7 times)
    "m_logistic_irls",
    // t_ppl_buckets: the broadcast 1-row (N, V) LM-stats and cutpoint
    // frames + the exact-quantile triangular offset join (the
    // a_exact_quantiles shape over per-doc scores)
    "t_ppl_buckets",
    // o20_curriculum_order: the broadcast ≤ buckets-row cut frame +
    // the two-phase ordinal's triangular offset join (the
    // o17_epoch_shuffle shape)
    "o20_curriculum_order",
    // e_its: the broadcast 1-row midpoint and first-post-day frames
    // (the e_cuped boundary shape)
    "e_its")

  // Single-partition exchanges feeding a GLOBAL scalar aggregate (the
  // final combine of partial aggregates over ≤ #partitions rows) or a
  // deliberately scalar output:
  //  - agg_kmv_distinct: the final sketch combine moves ONE k-long
  //    buffer row per partition — the bounded-state design of KMV;
  //  - agg_cms_counts: same shape — one depth·width grid per partition
  //    into the final element-wise-add combine;
  //  - a_exact_quantiles: the 1-row corpus-count aggregate (N rides as
  //    a broadcast frame precisely so the DATA never single-tasks);
  //  - g_triangles: the final GLOBAL triangle count — one partial count
  //    per partition into a 1-row combine (the wedge/close joins above
  //    it are all key-partitioned);
  //  - q_profile_lineitem: the deliberately-scalar profile row (one
  //    bounded metrics row per partition into the final combine; the
  //    exact countDistinct is the oracle-exact stand-in for the
  //    KMV/HLL sketch swap at scale);
  //  - q_profile_sketch: the same deliberate 1-row combine, now with
  //    per-column KMV buffers — each partition contributes ONE row of
  //    five bounded k-long sketches (the gate separately asserts the
  //    plan has no Expand, which is the part that actually scales).
  private val allowSinglePartition = Set(
    "a7_corpus_stats", "m2_term_idfs", "m2_tfidf_vectors",
    "m_entity_mention_tfidf", "m_mention_tfidf_scaled",
    "sim_ivf_kmeans_topk", "sim_ivfpq_topk", "sim_ivfpq_persisted",
    "agg_kmv_distinct",
    "agg_cms_counts", "agg_hll_distinct", "a_exact_quantiles",
    "a_sample_quantiles", "g_triangles", "t_unigram_nll", "m_bigram_pmi",
    "q_profile_lineitem", "q_profile_sketch", "d_bloom_decontaminate",
    "o12_temperature_sample", "m_bm25_topk", "a_heavy_hitters",
    "pipe_corpus_curation", "m_hybrid_rrf", "m_prf_expansion",
    // q_quality_suite: every row-local check fuses into ONE scalar
    // aggregate whose single-partition combine receives one bounded
    // metrics row per partition; each uniqueness/referential check
    // likewise ends in a one-row reduce. Output is one row per CHECK.
    "q_quality_suite",
    // e_funnel_steps: per-step reach counts are scalar aggregates and
    // the conversion-rate window runs over ≤ |steps| rows
    "e_funnel_steps",
    // t_trigram_backoff: the corpus-total N is a scalar aggregate
    // (1-row combine), same as t_unigram_nll
    "t_trigram_backoff",
    // f_winsorize_price: the exact-quantile bound machinery's count +
    // 2-row bound reduce (the a_exact_quantiles shape)
    "f_winsorize_price",
    // a_histogram / a_correlation: the [min,max] frame / the moments
    // frame are scalar aggregates (1-row combines)
    "a_histogram", "a_correlation",
    // a_partial_corr: the SAME a_correlation moments combine plus the
    // 3-row pair-pivot reduce; a_jarque_bera: the 1-row five-moment
    // combine (partials are map-side, the final fold is 5 numbers)
    "a_partial_corr", "a_jarque_bera",
    // a_grubbs: the 1-row moments / max-deviation / readout combines;
    // m_hosmer_lemeshow: the 1-row fold over the ≤ bins-row bin table
    "a_grubbs", "m_hosmer_lemeshow",
    // a_mutual_info: the joint-total 1-row combine
    "a_mutual_info",
    // pipe_event_insights: the day-grid 1-row [min,max] reduce and the
    // trailing window over the DAYS-row daily frame
    "pipe_event_insights",
    // a_mad_outliers: the exact-quantile count/bound 1-row reduces
    // (the f_winsorize_price shape, twice)
    "a_mad_outliers",
    // m_target_encoding: the global-mean 1-row combine
    "m_target_encoding",
    // e_attribution / a_chi2_independence / m_chi2_terms: the 1-row
    // total combines (share denominator / N / corpus size)
    "e_attribution", "a_chi2_independence", "m_chi2_terms", "a_cramers_v",
    // q_skew_report / t_zipf_fit: 1-row summary/moment combines (plus
    // the top-10 TakeOrdered reduce over 10 rows)
    "q_skew_report", "t_zipf_fit",
    // pipe_ab_test: the one-row experiment readout combine;
    // m_tfidf_neighbors: the 1-row corpus count
    "pipe_ab_test", "m_tfidf_neighbors",
    // agg_kmv_setops: the two-sketch 1-row combine (one k-long buffer
    // pair per partition — the agg_kmv_distinct shape, twice)
    "agg_kmv_setops",
    // e_time_to_convert: the exact-quantile 1-row N combine
    "e_time_to_convert",
    // e_active_users: the 1-row day-span combine
    "e_active_users",
    // e_funnel_windowed: per-step scalar reach counts + the ≤|steps|-row
    // conversion-rate window (the e_funnel_steps shape)
    "e_funnel_windowed",
    // e_attribution_linear: the 1-row conversion-total combine
    "e_attribution_linear",
    // m_basket_rules: the 1-row basket-count combine
    "m_basket_rules",
    // q_drift_psi: 1-row grid/total combines, the observed-union count
    // window over the aggregate-sized bin table, and the final 1-row
    // PSI fold
    "q_drift_psi",
    // a_histogram_equidepth / o15_zorder_layout: the 1-row N combine
    // (the ordinal itself is two-phase — no data single-tasks)
    "a_histogram_equidepth", "o15_zorder_layout",
    // e_survival_km: the 1-row study-end combine plus the at-risk /
    // survival windows, which run on the HORIZON-sized duration table
    // by construction (documented on ops/Survival.scala)
    "e_survival_km",
    // g_hits: the per-half-round 1-row max combines (bounded: one
    // partial max per partition)
    "g_hits",
    // a_mann_whitney: the one-row U/z fold (one bounded partial per
    // partition); e_power_analysis: the 1-row closed-form fold
    "a_mann_whitney", "e_power_analysis",
    // m_rank_eval: the 1-row metric folds + the ≤k-row rank windows
    // (the e_funnel_steps shape)
    "m_rank_eval",
    // a_welch_ttest / a_tost_equivalence: the shared 1-row moment
    // fold; j_bloom_prefilter: the
    // 1-row Bloom combine (one m-bit buffer per partition)
    "a_welch_ttest", "a_tost_equivalence", "j_bloom_prefilter",
    // a_roc_auc / a_ks_test: the one-row rank-sum / CDF-gap folds
    // over the two-phase running sum (the a_mann_whitney shape);
    // e_cuped: the one-row pooled-moment fold (the a_welch_ttest
    // shape, 11 bounded partials per partition)
    "a_roc_auc", "a_ks_test", "e_cuped",
    // e_srm: the one-row arm-count fold; a_bootstrap_ci: the rank
    // window over exactly `reps` replicate-mean rows (bounded by
    // construction) + the 1-row full-mean fold
    "e_srm", "a_bootstrap_ci",
    // t_domain_mix / e_ewma_forecast: the 1-row normalizing-total /
    // anchor-day scalar folds
    "t_domain_mix", "e_ewma_forecast",
    // o17_epoch_shuffle: the 1-row corpus-count fold (per-epoch pos =
    // ord − e·N)
    "o17_epoch_shuffle",
    // pipe_dataset_card: the 1-row totals/domain/dup folds
    "pipe_dataset_card",
    // e_fdr_bh: the 1-row m and kmax folds plus the BH rank window
    // over exactly m metric rows (bounded by construction)
    "e_fdr_bh",
    // e_attribution_ushape / e_seq_patterns / e_holt_forecast /
    // t_collocations / a_cohens_kappa / m_naive_bayes /
    // t_dsir_weights / m_decision_stump: the 1-row totals combines
    // feeding the broadcast frames allowed above (conversion total /
    // nu / anchor day / B·T / n·pe_num / V·N / tr·tt / n·np)
    "e_attribution_ushape", "e_seq_patterns", "e_holt_forecast",
    "t_collocations", "a_cohens_kappa", "m_naive_bayes",
    "t_dsir_weights", "m_decision_stump",
    // sim_davies_bouldin: the k-row seed-ranking window collapse (the
    // sim_ivf_kmeans_topk shape) + the 1-row index fold
    "sim_davies_bouldin",
    // e_attribution_markov: the 1-row p_full / effect-total combines
    // feeding the crosses allowed above
    "e_attribution_markov",
    // a_spearman: the one-row five-moment fold (one bounded partial
    // per partition — the a_mann_whitney shape)
    "a_spearman",
    // sim_silhouette: the k-row seed-ranking window collapse + the
    // 1-row overall-mean fold (the sim_davies_bouldin shape)
    "sim_silhouette",
    // e_hazard_na: the 1-row study-end combine plus the at-risk /
    // hazard windows on the HORIZON-sized duration table (the
    // e_survival_km shape)
    "e_hazard_na",
    // e_seasonal_forecast: the 1-row anchor-day scalar fold (the
    // e_ewma_forecast shape)
    "e_seasonal_forecast",
    // m_qld_topk: the 1-row C/|q| combines (the m_bm25_topk shape)
    "m_qld_topk",
    // m_gains_deciles: the 1-row N combine + the cumulative window
    // over exactly nBins decile rows (bounded by construction)
    "m_gains_deciles",
    // t_vocab_chao1: the 1-row frequency-of-frequencies fold (one
    // bounded partial per partition — the a7_corpus_stats shape)
    "t_vocab_chao1",
    // t_js_divergence: the 1-row totals/divergence folds over the
    // bounded bucket spine (the q_drift_psi shape)
    "t_js_divergence",
    // g_assortativity: the 1-row five-moment fold (one bounded
    // partial per partition — the a_spearman shape);
    // t_distinct_ngrams: the 1-row total/distinct fold per n over the
    // gram-count table (the a7_corpus_stats shape, three times)
    "g_assortativity", "t_distinct_ngrams",
    // t_heaps_fit: the 1-row moment/token-count combines (the
    // t_zipf_fit shape)
    "t_heaps_fit",
    // q_benford: the 1-row total/χ² combines over the ≤9-row digit
    // table
    "q_benford",
    // e_permutation_test: the 1-row observed/extreme-count folds over
    // the bounded reps-row permutation frame
    "e_permutation_test",
    // a_brown_forsythe / a_anova_oneway: the 1-row totals/s²-per-group
    // folds over the |groups|-row moment table
    "a_brown_forsythe", "a_anova_oneway",
    // a_kruskal_wallis: the 1-row tie-total and H folds over the
    // |groups|-row term table (the a_brown_forsythe shape)
    "a_kruskal_wallis",
    // m_logistic_newton: the per-round 1-row gradient/Hessian folds
    // (one bounded partial per partition) + the 1-row moment fold
    "m_logistic_newton",
    // pipe_feature_store: the 1-row midpoint / train-moment / global
    // target-rate folds (one bounded partial per partition)
    "pipe_feature_store",
    // a_trimmed_mean / t_gini_tokens / o18_token_budget: the 1-row
    // bounds / totals / kept-sum folds over the distinct-value or
    // running-sum table (the a_mann_whitney one-row-fold shape)
    "a_trimmed_mean", "t_gini_tokens", "o18_token_budget",
    // t_hill_tail: the 1-row threshold/h folds over the bounded
    // top-(k+1) set, plus the k+1-row TakeOrdered itself
    "t_hill_tail",
    // a_mcnemar / m_class_report: the 1-row confusion fold (one
    // bounded partial per partition — the a_cohens_kappa shape)
    "a_mcnemar", "m_class_report",
    // a_cochran_armitage / a_mantel_haenszel: the 1-row six-moment /
    // pooled-term folds over the |groups|/|strata|-row cell tables
    // (the a_brown_forsythe shape); t_theil_decompose: the 1-row
    // grand-totals fold over the |groups|-row moment frame
    "a_cochran_armitage", "a_mantel_haenszel", "t_theil_decompose",
    // e_logrank_test: the horizon-sized at-risk windows + the 1-row
    // O/E/V fold (the e_survival_km / e_hazard_na shape)
    "e_logrank_test",
    // t_lm_filter: the 1-row (N, V) train-vocab fold (one bounded
    // partial per partition — the t_unigram_nll shape)
    "t_lm_filter",
    // a_weighted_quantiles: the 1-row total-weight fold (the
    // a_exact_quantiles N shape)
    "a_weighted_quantiles",
    // a_effect_sizes / a_wilcoxon_signed_rank / m_pr_auc: the 1-row
    // moment/rank-sum/AP folds over the two-phase running sum (the
    // a_mann_whitney one-row-fold shape); a_hodges_lehmann: the 1-row
    // np / median-probe / side-count folds over the calendar-bounded
    // pair table; m_ridge_regression: the 1-row nine-moment fold (one
    // bounded partial per partition — the a_welch_ttest shape)
    "a_effect_sizes", "a_wilcoxon_signed_rank", "m_pr_auc",
    "a_hodges_lehmann", "m_ridge_regression",
    // a_friedman: the 1-row block-count / k-count / ssbn / tie folds
    // (every one a bounded-partial combine over aggregate-sized
    // inputs); e_did: the 1-row ten-moment fold (the e_cuped shape);
    // m_brier_decomposition: the 1-row raw-moment and ≤ bins-row
    // binned folds (the m_hosmer_lemeshow shape); a_fisher_exact: the
    // 1-row margins fold and the 1-row p-sum fold over the bounded
    // support grid
    "a_friedman", "e_did", "e_did_paired", "m_brier_decomposition",
    "a_fisher_exact",
    // a_dunn_posthoc: the 1-row N/ties/k folds over aggregate-sized
    // inputs (the a_mann_whitney shape); m_logistic_irls: the per-round
    // and final 1-row nine-moment folds (the a_welch_ttest shape, x7)
    "a_dunn_posthoc", "m_logistic_irls",
    // t_ppl_buckets: the 1-row LM-stats / n / cutpoint folds;
    // o20_curriculum_order: the 1-row n fold (the a_exact_quantiles
    // N shape)
    "t_ppl_buckets", "o20_curriculum_order",
    // e_its: the 1-row ten-moment fold and the 1-row t0 min fold
    // (the a_welch_ttest / e_ewma_forecast shapes)
    "e_its")

  // Queries that do real work at plan-BUILD time (Word2Vec training, a
  // vocab count action, the eagerly-materialized near-dup operator) —
  // skipped here, not because their plans are exempt but because
  // building them is not plan-only. sim_neardup_pairs' lazy plan is
  // audited directly in NearDupRecallSpec via cosineNearDupPairsLshPlan.
  //
  // NOT listed (they build fine, so they ARE audited below) but worth
  // documenting: every gate on Rank.globalOrdinal/globalRunningSum
  // (a_exact_quantiles, a_histogram_equidepth, o15_zorder_layout,
  // a_mad_outliers, e_time_to_convert, q_skew_report, t_zipf_fit, …)
  // EXECUTES the pre-checkpoint range-exchange+window at build time
  // (the r9 exchange-pinning localCheckpoint), and the checkpoint
  // truncates lineage — so the audited executedPlan no longer contains
  // that half of the plan. The dedicated test below audits the
  // pre-checkpoint subplan via Rank.ordinalLocalPlan /
  // runningSumLocalPlan, closing the tripwire's blind spot (ADVICE r9).
  private val skipBuildExecutes = Set(
    "m1_entity_skipgram_vocab", "m_indexed_mentions", "sim_neardup_pairs",
    "m_bpe_merges", "m_bpe_encode", "g_kcore", "g_label_prop",
    "g_bfs_dist", "pipe_llm_corpus",
    // g_modularity composes labelPropagation (per-round checkpoints)
    "g_modularity",
    // sim_mmr_rerank: the greedy loop checkpoints per round (the
    // labelPropagation pattern)
    "sim_mmr_rerank",
    // sim_kcenter_coreset: the farthest-point greedy loop checkpoints
    // per round (the sim_mmr_rerank pattern)
    "sim_kcenter_coreset",
    // g_katz_centrality: pinnedEdges eagerly checkpoints the edge list
    // at plan build (the g_kcore pattern)
    "g_katz_centrality")

  private val modules = Seq(Relational, Functions, Pipeline, Corpus,
    Analytics, Insights)

  test("ANN plan construction triggers zero Spark jobs (explicit dims)") {
    // the dims-inference fallback costs a first-row job per call at
    // plan-construction time; the gates pass dims explicitly, so building
    // an ANN plan must submit NO job (composed over an expensive upstream
    // pipeline, an inference job would partially execute it per call)
    // reading the table costs a one-off parquet schema-inference job —
    // that belongs to the scan, not the operator; resolve it BEFORE
    // attaching the counter so only the ANN construction is measured
    val e = spark.read.parquet(s"$d/embeddings.parquet")
    e.schema
    def jobsDuring(body: => Unit): Int =
      Bench.counted(spark.sparkContext)(body)._2.jobs
    val explicitJobs = jobsDuring {
      graft.ops.Similarity
        .lshTopK(e.filter(col("vec_id") < 10), e, 8, 5, dims = 64)
        .queryExecution.executedPlan
    }
    assert(explicitJobs == 0,
      s"explicit-dims ANN plan construction submitted $explicitJobs " +
        "Spark job(s)")
    val inferredJobs = jobsDuring {
      graft.ops.Similarity
        .lshTopK(e.filter(col("vec_id") < 10), e, 8, 5)
        .queryExecution.executedPlan
    }
    assert(inferredJobs > 0,
      "expected the dims-inference fallback to submit a first-row job " +
        "(the cost the explicit form avoids)")
  }

  test("ordinal pre-checkpoint subplan: range exchange, no single task") {
    // the half of every globalOrdinal/globalRunningSum plan the
    // localCheckpoint hides from the per-gate audit: it must range-
    // exchange into numPartitions slices (never a single-partition
    // exchange or an unpartitioned window) and carry no join at all
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    for (plan <- Seq(
      graft.ops.Rank.ordinalLocalPlan(li,
        Seq(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber"))),
      graft.ops.Rank.runningSumLocalPlan(li,
        Seq(col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber")), "l_quantity"))) {
      val p = plan.queryExecution.executedPlan.toString
      assert(p.contains("rangepartitioning"),
        s"ordinal subplan lost its range exchange:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in ordinal subplan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"unexpected join in ordinal subplan:\n$p")
    }
  }

  test("filters and projection reach the parquet scan (p1)") {
    // the brief's pushdown contract: the filtered 5-column projection
    // must reach the lineitem scan as PushedFilters + a pruned
    // ReadSchema — a scan that reads all 16 columns (or filters only
    // post-scan) is wrong at 100 TB
    val plan = Functions.queries("p1_project_filter")(spark, d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThan(l_quantity,45"),
      s"quantity filter not pushed:\n$plan")
    assert(plan.contains("Not(EqualTo(l_returnflag,A))"),
      s"returnflag filter not pushed:\n$plan")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_comment"),
      s"projection not pruned at the scan:\n$readSchema")
  }

  for (m <- modules; q <- m.defs if !skipBuildExecutes(q.name)) {
    test(s"plan audit: ${q.name}") {
      val plan = q.query(spark, d).queryExecution.executedPlan.toString
      if (!allowNestedLoop(q.name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"nested-loop join in ${q.name}:\n$plan")
        assert(!plan.contains("CartesianProduct"),
          s"cartesian product in ${q.name}:\n$plan")
      }
      if (!allowSinglePartition(q.name)) {
        assert(!plan.contains("Exchange SinglePartition"),
          s"single-partition exchange in ${q.name}:\n$plan")
      }
    }
  }
}
