package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling evidence harness: materializes a 10× replica of a fixture
  * directory (fact keys shifted per copy so join/window/dedup structure is
  * preserved; nation/region stay single-copy — dimension tables don't grow
  * with the fact data), then times a representative operator slice at both
  * scales and prints per-query ratios. A ~linear ratio (≈10× work on 10×
  * data, modulo fixed overheads) is the evidence that the plan shapes hold
  * as data grows; anything super-linear is a red flag the probe surfaces.
  *
  * Not part of the driver contract — a design-validation tool
  * (`runMain graft.ScaleProbe [baseDir] [outDir] [copies] [q1,q2,…]`).
  * The optional 4th arg restricts the probe to the named queries — the
  * "isolated exclusive re-probe" the noise protocol (SCALE.md) prescribes
  * when a single cell reads suspicious in a full shared-box run.
  */
object ScaleProbe {

  private val ProbeQueries = Seq(
    "a1_groupby_agg", "j1_normalized_key_join", "j7_inner_join_agg",
    "w3_rolling_mean", "w14_time_rolling", "tj1_asof_join",
    "flagship_refined", "d1_exact_dedup",
    // paragraph-grain exact dedup: map-only split + one digest-keyed
    // shuffle + per-doc agg — should track d1's slope
    "d12_paragraph_dedup",
    "o1_sort_topn", "sc4_global_rank", "sc5_topk_exec",
    // cross-sectional z: one day-keyed partial agg + broadcast stats +
    // map-only scoring — should track t2's slope
    "w16_cross_sectional_z",
    // Zipf slope: vocab count shuffle + range-partitioned vocab rank +
    // one moment agg — should track the sc4 global-rank slope
    "t19_zipf_slope",
    // CCNet ppl buckets: t13's scoring + a doc-count range sort —
    // should read t13's slope plus the sc4 rank term
    "t20_ppl_buckets",
    "t2_quality_score", "x5_grouping_sets", "u4_except",
    // gram-index text ops (the 100 TB-relevant dedup recipe) and the
    // iterative graph op: no embedded checkers, probed as-is. Replica
    // key shifts keep the 10× order graph as 10 disjoint copies, and
    // the bijective vocab rename keeps cross-copy grams disjoint.
    "t7_repetition", "t8_contamination", "d8_shared_ngrams", "g1_pagerank",
    // duplicated-substring spans: one FNV-keyed gram-count shuffle +
    // semi-join + a doc-keyed window — should track d8's slope
    "d13_substring_spans",
    // triangle counting: degree-ordered orientation bounds wedge volume
    // at O(m^1.5); replica key shifts keep the 10× order graph as 10
    // disjoint copies, so triangles scale linearly with the data
    "g2_triangle_count",
    "t12_bm25", // scan + one broadcast stats row: should track t2's slope
    // bigram-LM scoring: two vocab-keyed gram joins — should track d8's
    // slope (the vocab rename keeps cross-copy grams disjoint, so count
    // tables grow linearly like a real corpus's vocabulary would)
    "t13_lm_perplexity",
    // BPE trainer: per-round pair counts run over the word-frequency
    // table (vocabulary-sized), not the corpus — only round 0 scans text
    "t14_bpe_train",
    // BPE encoder: map-only corpus scan with the merge table applied as
    // literal replaces — should track t2's slope (merge fit paid in warm)
    "t15_bpe_encode",
    // token-budget selection: range sort + two linear passes (the scan
    // primitive) — should track the sc4 global-rank slope
    "t16_token_budget_select",
    // DSIR importance weighting: the model is a FIXED 8192-bucket
    // broadcast table at every scale, so the corpus pays one map-side-
    // combined bucket count, a broadcast join, and one per-doc agg —
    // should track t2's map-only slope (the rename replica is fair
    // here: bucket smearing changes WHICH buckets fill, not the work)
    "t17_dsir_importance",
    // corpus KL: the same bucket-count shuffle as t17, then all math on
    // the 8192-row table — should read t17's slope minus the per-doc agg
    "t22_corpus_kl",
    // hashed NB language ID: the t17 fixed-model story — the dense
    // weight table is |langs|·8192 rows at EVERY scale (hashing trick),
    // so the corpus pays the token-bucket scan, one bounded (lang, b)
    // count, and ONE (doc_id, lang) partial-agg scoring shuffle — should
    // track t17's slope (rename smears which buckets fill, not the work)
    "ml_naive_bayes",
    // video keyframes: map-only frame explode + one doc-keyed window.
    // Byte-level but PER-DOC temporal (no cross-doc collision surface),
    // so the rename replica is fair here unlike m3: work is linear in
    // content bytes whatever the bytes are
    "m4_video_keyframes",
    // source rebalance: one source-keyed counting shuffle + broadcast
    // thresholds + map-only decision — should track c1's slope
    "c12_source_rebalance",
    // NOT probed: m3_media_phash_neardup — the replica's vocabulary
    // rename is WORD-level fair (preserves shingle Jaccard) but
    // byte-level UNFAIR: every copy-i token carries the same "_ci"
    // suffix, so copy i's adjacent-byte-difference patterns collide
    // with each other by construction and the probe measures the
    // rename's self-similarity, not the operator (the SimHash
    // tag-token lesson, byte edition — see SCALE.md). A byte-level
    // replica would need content-preserving byte perturbation.
    // mergeable HLL sketches: partial-agg day shuffle carries sketches;
    // the exact-distinct checker dominates (it's the verification half)
    "a17_hll_union",
    // Count-Min: one (row, cell)-keyed partial agg bounded at 4096
    // counters per partition — the corpus pays a map-only hash pass
    "a18_countmin",
    // curation family: per-series window ops scale with series count
    // (user_id shifts give 10× series of unchanged length); c3's
    // cumulative pass is bounded by value cardinality, which the replica
    // holds fixed — the probe should show sub-linear growth there
    "c3_ks_drift", "c5_quantile_bins", "c6_cusum", "c7_mad_outliers",
    // ml/stats family (VERDICT r7 #5): the r7 adds had never been
    // ratio-probed. All three read the replica like any other query;
    // min-of-2 keeps gbt's memoized fit out of the measured pass (the
    // same fits-paid-in-warm accounting Bench uses).
    "stats_ar1_fit", "ml_halving_search", "ml_gbt_backtest",
    // Holt smoothing: the stats_ar1_fit plan shape exactly (one
    // exchange, secondary sort, O(1) fold) — should read its slope
    "stats_holt",
    // seasonal AR fit: the stats_ar1_fit fold with O(s)=7 ring-buffer
    // state instead of O(1) — same one-exchange slope
    "stats_sar1_fit",
    // randomized search: ml_grid_search's one-plan CV shape (range sort
    // + broadcast candidates, fact scanned once per split) with 8
    // sampled candidates — the sc4 range-sort slope
    "ml_random_search",
    // calendar densify: one (user, day) partial agg + per-key map-side
    // grid explode (bounded by span days) + one window ffill — the
    // W-family per-series slope (replica shifts user ids: 10× series of
    // unchanged span)
    "tj5_calendar_densify",
    // Theil–Sen: the mann_kendall bounded-cell pair join with a
    // partitioned median rank on ≤ C(days,2) pair rows — MK's slope
    "stats_theil_sen",
    // winsorize: one per-type percentile agg + broadcast fences +
    // map-only clip — the a8 broadcast-statistic slope
    "c19_winsorize",
    // personalized PageRank: g1's iterative band with a broadcast seed
    // flag — messages linear in |E| per round
    "g8_personalized_pagerank",
    // CCF: one corpus scan collapsing to two bounded daily tables; the
    // 11-lag moment join is calendar-sized — the bounded-cell family
    "stats_ccf",
    // Bollinger / stochastic: exact integer frame moments on the shared
    // per-series exchange+sort — w3/w15's slope
    "w21_bollinger", "w22_stochastic",
    // Kendall τ-b: two daily collapses + the bounded matched-day pair
    // join — mann_kendall's bounded-cell slope
    "stats_kendall_tau",
    // two-sample rank tests: the corpus collapses map-side to its
    // distinct-VALUE type table (the replica shifts ids, not values, so
    // the type table is size-FIXED at 10× — as a real 2-decimal value
    // domain would be) and the packed prefix-sum runs over that bounded
    // table; expect the sub-linear scan-collapse slope
    "stats_mannwhitney", "stats_ks_test",
    // per-type MAD gate: same bounded-histogram story — the corpus pays
    // one scan collapsing to fixed (type, value) cells; windows order
    // the histogram, never the corpus
    "c16_mad_outliers",
    // parametric tests: ONE conditional partial-agg scan to 6/15 Long
    // moments, all statistics projection arithmetic on a single row —
    // should read the flattest map-only slope in the stats family
    "stats_welch_t", "stats_anova_f",
    // Brown–Forsythe: c16's bounded-histogram median pass + one
    // deviation-moment scan — the c16 slope plus anova's scan
    "stats_levene",
    // ranking metrics: the MW type-table collapse + one prefix pass
    // over the (bounded) score domain — the stats_mannwhitney slope
    "ml_auc",
    // PR curve: exactly ml_auc's plan (one packed prefix pass over the
    // bounded score domain) with a per-threshold projection — same slope
    "ml_pr_curve",
    // Brier: one knob agg + one moment scan — t2's map-only slope
    "ml_brier",
    // gains/lift: one Ranks.scan range sort + a 10-cell decile agg
    // — the sc4 range-sort slope
    "ml_lift_gains",
    // Spearman: two (type-table prefix + value-keyed join-back) passes
    // + one decimal moment agg — the MW slope plus the join-backs
    "stats_spearman",
    // Benford: map-only digit extraction into 9 cells — t2's slope
    "stats_benford",
    // median CI: type-table collapse + one prefix pass + three
    // conditional mins over the bounded table — the MW slope
    "stats_median_ci",
    // incremental agg view: min-of-2 keeps the one-time base-summary
    // build out of the measured pass (the d9/n8/gbt accounting) — the
    // timed region is the delta agg + keys-sized summary merge
    "x11_incremental_agg",
    // Poisson bootstrap: map-side ×64 replicate explode (md5 + CDF
    // lookup per replicate) + one (b)-keyed partial agg bounded at
    // 64·partitions counters — linear in corpus bytes, no data shuffle
    "stats_bootstrap",
    // KMV sketches: one (type, user) distinct shuffle + the TopKPerKey
    // bounded-heap cut; all pair math on the 5·64-row sketch table —
    // the a5 distinct slope
    "a19_kmv_jaccard",
    // calibration: min/max knob agg + one map pass into 10 bin cells +
    // broadcast ECE attach — t2's map-only slope
    "ml_calibration",
    // rolling median: the per-series exchange+sort every w-query pays,
    // plus constant O(15 log 15) in-row frame work — w3's slope
    "w19_rolling_median",
    // logistic Newton step: one scan + five partial-agg moments + a
    // driver-free 2×2 solve in the projection — t2's map-only slope
    "ml_logreg_newton",
    // label propagation: 3 fixed rounds over the cached pruned edge
    // list — should track g1's iterative slope (messages linear in |E|)
    "g3_label_propagation",
    // audio energy: map-only HOF frames + one doc-keyed partial agg —
    // per-doc byte-level like m4, so the rename replica is fair
    "m5_audio_energy",
    // funnel: one user-keyed exchange per stage (3 stages fixed)
    "x7_funnel",
    // cohort retention: two user-keyed aggs + join; (user, day)
    // distinct collapses map-side
    "x8_cohort_retention",
    // chunking: fully map-only HOF chain — should track t2's slope
    "t18_chunking",
    // TPC-H analogues: the star-schema shapes. customer/supplier scale
    // with the fact data (as TPC-H itself scales them) so their
    // broadcasts grow linearly; nation/region stay fixed dims. Cost is
    // the fact join + agg — should track j7's slope

    "h3_shipping_priority", "h5_local_supplier_volume", "h10_returned_items",
    // Q6 analogue: the pure scan-bandwidth benchmark (no join at all) —
    // the flattest slope in the suite by construction
    "h6_forecast_revenue",
    // Q12 analogue: one unfiltered fact-fact join + 3-row agg — the
    // j7 slope without the dimension broadcasts
    "h12_late_lines",
    // Q4 analogue: LEFT SEMI fact-fact join + 5-row agg — each orders
    // row is emitted at most once, so the semi join bounds the output
    // at |orders| whatever the lineitem fan-in: the h12 slope or better
    "h4_order_priority",
    // Q8 analogue: conditional-share single pass — the fact join work of
    // h5 (broadcast dims) plus a per-year 7-row agg
    "h8_market_share",
    // Q14 analogue: one-month filtered fact scan + broadcast part dim +
    // single-row conditional agg — between h6's scan slope and h3's
    "h14_promo_share",
    // rolling skew/kurt: per-series window over exact integer frame
    // moments — the replica's user_id shifts give 10× series of
    // unchanged length, so this should track w3's per-series slope
    "w18_rolling_skew",
    // PMI collocations: one (bigram)-keyed count shuffle + two unigram
    // attaches against bounded type tables — t5's bigram-freq slope
    // (the rename replica grows the type table linearly like t13's
    // worst case, so expect the type-table premium, not t2's slope)
    "t23_pmi_collocations",
    // k-core peeling: synchronized rounds over the cached edge list —
    // g1/g3's iterative slope (messages linear in |E| per round; the
    // replica shifts node ids so degree structure is copy-identical)
    "g4_kcore",
    // Q13 analogue: per-customer order count + |customer|-scale outer
    // join + distribution agg — two keyed shuffles, both linear
    "h13_order_distribution",
    // Q17 analogue: brand-slice stats agg + join-back — the fact scan
    // dominates (brand filter cuts 1/25 before any shuffle)
    "h17_small_qty_revenue",
    // Q18 analogue: per-order qty agg + orders join + TakeOrdered —
    // the h12 fact-join slope plus a heap-bounded top-100
    "h18_large_volume",
    // Q22 analogue: 1-row stats broadcast + anti join on the above-mean
    // slice — the anti probe side is |customer|-scale
    "h22_idle_balance",
    // Q2 analogue: decorrelated min + equality re-join — the fact scan
    // plus one per-part-min shuffle join; part slice fixed at 1/12
    "h2_min_cost_supplier",
    // Q7 analogue: double fact join with two broadcast nation attaches —
    // the h12 slope plus the customer/supplier broadcast growth
    "h7_volume_shipping",
    // Q9 analogue: h8's join work with the exact-decimal profit agg
    "h9_product_profit",
    // Q11 analogue: per-part agg + 1-row broadcast HAVING — two keyed
    // shuffles, both linear in the nation's fact slice
    "h11_important_stock",
    // Q15 analogue: per-supplier agg reused across the max attach — one
    // keyed shuffle over a quarter slice
    "h15_top_supplier",
    // Q16 analogue: anti-join prefilter + (brand,type,size) distinct
    // count — the distinct expansion is |group|·|supplier| bounded
    "h16_supplier_cnt",
    // Q19 analogue: one broadcast join with the disjunctive predicate —
    // h6's scan slope plus the part attach
    "h19_disjunctive",
    // Q20 analogue: two nested keyed aggs + semi probe — linear in the
    // name-sliced fact rows
    "h20_qty_threshold",
    // Q21 analogue: one fact join + per-order distinct agg — the h12
    // slope with a wider agg row
    "h21_waiting_supplier",
    // tree split finder: map-only feature explode + one bounded
    // (feature, bin) histogram agg — the t17 fixed-model slope (the
    // histogram is ≤ |features|·|bins| cells at every scale)
    "ml_tree_split",
    // frontier BFS: 4 frontier-expansion rounds over the cached edge
    // list — the g1/g3/g4 iterative band (messages ≤ |E| per round,
    // and the frontier prune keeps rounds after saturation ~free)
    "g5_bfs_hops",
    // inverted index: one (term, doc) tf shuffle + one (term, block)
    // list build — t5's slope; blocks bound each task's list at 4096
    // docs however hot the term
    "t24_inverted_index",
    // attribution: one user-keyed range join (fan bounded by a user's
    // clicks-per-week) + sort-free struct agg — x7's user-join slope
    "x10_attribution",
    // PSI: map-side (bin, half) counts bounded at 20 cells — t2's
    // map-only slope
    "c15_psi_drift",
    // temperature mix: one source-keyed counting shuffle, then all
    // arithmetic on the bounded source table — c12's slope
    "c17_temperature_mix",
    // sessionization: one user-keyed exchange shared by lag + prefix
    // sum + the per-session agg — the W-family per-series slope
    "x12_sessionization",
    // n-gram novelty: map-side gram explode + one gram-keyed distinct +
    // one gram-keyed join + per-doc agg — d8's gram-index slope (the
    // bijective vocab rename keeps cross-copy grams disjoint, so the
    // reference gram table grows linearly like a real corpus's)
    "t25_ngram_novelty",
    // NDCG: two Ranks.scan range sorts + 1-row aggs — the sc4
    // range-sort slope (the ml_lift_gains shape, twice)
    "ml_ndcg",
    // bloom dedup: one partial-agg sketch pass over history + a map-only
    // probe + an md5 join confined to the flagged slice — d1's digest
    // slope at worst (the sketch build), flatter on the probe side
    "d16_bloom_dedup",
    // connected components: min-label propagation rounds over the cached
    // symmetric edges — the g1/g3 iterative band (messages ≤ |E|/round;
    // disjoint replica copies keep component structure copy-identical)
    "g6_connected_components",
    // snapshot diff: one key-aligned full outer join — j7's keyed slope
    "u6_snapshot_diff",
    // text normalization: map-only regex scan — t2's slope
    "t26_text_normalize",
    // hybrid RRF: two Ranks.scan range-sorts (the sc4 shape) + a
    // |docs|-scale outer join + TakeOrdered — the sc4 slope
    "n11_hybrid_rrf",
    // power iteration: map-only matvec + one (pos)-keyed partial agg —
    // should track ml_kmeans_step's constant-per-vector slope
    "ml_power_iter",
    // systematic weighted sampling: prefix-sum line (the sc4 range-sort
    // shape) + map-only draw — should track t16's slope
    "p14_weighted_sample",
    // sequence packing: the same prefix-sum line + map-only window ids
    "t21_sequence_packing",
    // DPP join: min-of-2 keeps the one-time partitioned-layout write
    // out of the measured pass (the sc2/gbt accounting); the measured
    // run is the partition-pruned broadcast join
    "sc9_dpp_join",
    // NOT probed: c14_fuzzy_linkage — the replica shifts p_partkey but
    // keeps p_name, so every copy reuses the SAME 64 names and the
    // blocking join's Σ|block|² grows quadratically in copies by
    // construction (the identical-copy artifact the vocabulary rename
    // exists to avoid — but parts have no vocabulary to rename). A fair
    // probe would need per-copy name perturbation that preserves
    // within-copy edit-distance structure.
    // k-means Lloyd step: broadcast seeds + two partial-agg shuffles —
    // should scale like the n6 pooling shape (the replica's rotated
    // copies change WHICH cluster each copy's vectors pick, not the
    // assignment work per vector)
    "ml_kmeans_step",
    // incremental index maintenance: min-of-2 keeps the one-time base
    // index build out of the measured pass (the d9/gbt accounting) — the
    // timed region is the append slice's assignment + cached union
    "n8_ann_incremental_assign",
    // 2-D skyline: distinct-price collapse + the Ranks.scan MaxBefore sweep
    // (range sort over the price domain, which the replica holds FIXED —
    // price values repeat across copies) — expect the sub-linear
    // bounded-domain slope of stats_mannwhitney
    "o4_skyline",
    // normal-equation OLS: ONE map-side-combinable 9-moment agg, zero
    // joins — should tie h6 for the flattest slope in the suite
    "ml_linreg_normal",
    // association rules: one (ok, brand) distinct shuffle + a broadcast
    // frequent filter + the orderkey-co-partitioned pair self-join
    // (fanout bounded by basket size) — the x8 two-keyed-aggs slope
    "ml_assoc_rules",
    // HITS: 6 half-rounds over the cached bipartite edges, each one
    // keyed shuffle + a 1-row broadcast max — the g1 iterative band
    "g7_hits",
    // prefix-filter set-similarity join: df shuffle + prefix-token
    // candidate join + doc-keyed verify. The bijective vocab rename
    // keeps cross-copy tokens disjoint, so each copy's prefix posting
    // lists match the base copy's — candidates grow linearly, d8's slope
    "d17_prefix_filter_join",
    // tick→bar OHLC compaction: ONE keyed partial agg (map-side collapse
    // to ≤ |series·days| rows before the exchange) — a1's slope
    "w20_ohlc_resample",
    // containment join: d17's shape with an asymmetric prefix (contained
    // side only) against the full posting index — d17's slope with a
    // larger candidate constant (the container side indexes everything)
    "d18_containment_join",
    // per-key hash reservoir: TopKPerKey bounded heaps — sc5's slope
    "p15_reservoir_per_key",
    // CUSUM changepoint: map-side cell collapse + bounded-table windows
    // — the c6 per-series slope
    "stats_changepoint",
    // Mann–Kendall: the same cell collapse; the O(days²) pair join runs
    // over the BOUNDED cell table — changepoint's slope
    "stats_mann_kendall",
    // Kaplan–Meier: one user-keyed lifetime agg, then everything on the
    // bounded distinct-duration table — x8's cohort slope
    "stats_kaplan_meier",
    // MMR: a fixed-|Q|=1 brute shortlist scan (n10's linear-scan slope)
    // + a 32×32 broadcast sim matrix + bounded driver greedy
    "n15_mmr",
    // Markov stationary: x9's lag window + (from, to) count shuffle is
    // the corpus work; the 8 fixed-point rounds run on 25 cells
    "x13_markov_stationary",
    // token entropy: explode + (doc, token) count + per-doc agg — two
    // corpus-linear keyed shuffles, t5's bigram-freq band
    "t27_token_entropy",
    // NOT probed: c18_fellegi_sunter — it rides c14's blocking join, and
    // the replica reuses the same 64 part names per copy, so Σ|block|²
    // grows quadratically BY CONSTRUCTION (the c14 NOT-probed artifact;
    // a fair probe needs per-copy name perturbation). The weights table
    // itself is |fields|-sized at any scale.
    // Kruskal–Wallis: the stats_mannwhitney type-table collapse with 3
    // packed count fields and the same single prefix pass — MW's slope
    "stats_kruskal",
    // isotonic PAV: map-side (series, day) cell collapse + one series-
    // keyed exchange with secondary sort; PAV state is O(blocks) — the
    // stats_ar1_fit one-exchange-fold slope
    "ml_isotonic",
    // dedup/ANN family: probed via operator-only variants (below) — the
    // SparkEntry frame queries embed an O(n²) ground-truth CHECKER, which
    // at 10× would measure verification cost, not the bucketed plans
    "d2_minhash_lsh_op", "d3_simhash_op", "d14_fuzzy_decontam_op",
    "n3_ann_lsh_op", "n4_ann_ivf_op", "n5_ann_pq_op", "n7_ann_ivfpq_op",
    "n9_ann_filtered_op", "n10_ann_sq8_op", "n13_ann_binary_op",
    "n14_ann_binary_rerank_op",
    "d10_neardup_lsh_op", "d11_semantic_dedup_op")

  /** Operator-only probes for the similarity family: the production
    * bucketed paths (banded joins, multi-table LSH, inverted lists, ADC)
    * exactly as the frame queries invoke them, minus the recall/equality
    * verification harness those queries exist to drive. */
  private val OpProbes: Map[String, (SparkSession, String) => DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)
    // Probe fairness (VERDICT r7 #3): the query set is drawn from the
    // BASE copy only (replica copies shift vec_id by 1e8·i), so |Q| is
    // identical at every scale point and the n3/n4/n5 ratios measure
    // per-query scaling — the old |Q| = n/50 grew the query set with the
    // corpus and made every ANN cell quadratic-shaped by construction.
    // d10 stays corpus-scaled: it mines pairs over the whole corpus, so
    // total work is the honest metric there.
    def qs(e: DataFrame) = e.filter(
      col("vec_id") < lit(100000000L) && pmod(col("vec_id"), lit(50)) === 0)
    Map(
      "d2_minhash_lsh_op" -> ((s, dir) =>
        graft.text.Dedup.minhashLshPairs(s,
          graft.queries.DedupPack.withNearDups(s, dir), shingleW = 3,
          threshold = 0.5).toDF()),
      "d3_simhash_op" -> ((s, dir) =>
        graft.text.Dedup.simhashPairs(s,
          graft.queries.DedupPack.withNearDups(s, dir), maxDist = 3).toDF()),
      // bipartite decontamination miner: train side streams, test side
      // (the near-dup population, ~5% of docs) broadcasts — per-unit
      // cost should sit at or below d2's banded self-join. The split is
      // on pmod(doc_id, 1e8): replica copies shift ids by 1e8·i, so the
      // planted +1e6 twins stay on the test side in every copy (a plain
      // < 1e6 cut would misclassify every copy-i original as test)
      "d14_fuzzy_decontam_op" -> ((s, dir) => {
        val pop = graft.queries.DedupPack.withNearDups(s, dir)
        graft.text.Dedup.minhashLshBipartite(s,
          pop.filter(pmod(col("doc_id"), lit(100000000L)) < 1000000L),
          pop.filter(pmod(col("doc_id"), lit(100000000L)) >= 1000000L),
          shingleW = 3, threshold = 0.5).toDF()
      }),
      "n3_ann_lsh_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.Similarity.lshTopK(s, e, qs(e), k = 5)
      }),
      "n4_ann_ivf_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.Ivf.topK(s, e, qs(e), k = 5)
      }),
      "n5_ann_pq_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.Pq.topK(s, e, qs(e), k = 5)
      }),
      "n7_ann_ivfpq_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.IvfPq.topK(s, e, qs(e), k = 5)
      }),
      // filtered IVF: the (centroid, label) posting-list key cuts each
      // query's candidates by the label selectivity — per-query cost
      // should sit BELOW n4's at the same scale point
      "n9_ann_filtered_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.Ivf.topKFiltered(s, e, qs(e), k = 5)
      }),
      // SQ8: the asymmetric int8 code scan is linear in the corpus per
      // query (every code scored — no bucket cut), so with fixed |Q| the
      // per-unit cost should read ~flat; the fit's (pos → min/max) agg
      // is one tiny partial-agg shuffle
      "n10_ann_sq8_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.Sq8.topK(s, e, qs(e), k = 5)
      }),
      // 1-bit tier: fixed-|Q| linear scan over 16-byte signatures —
      // should read at or below n10's slope (4× smaller memory touch)
      "n13_ann_binary_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.BinaryQuant.topK(e, qs(e), k = 5)
      }),
      // two-tier: the n13 scan + a 200-candidate float re-rank — the
      // refine join is shortlist-sized, so the slope should match n13's
      "n14_ann_binary_rerank_op" -> ((s, dir) => {
        val e = emb(s, dir)
        graft.ann.BinaryQuant.topKReranked(e, qs(e), k = 5, m = 200)
      }),
      "d10_neardup_lsh_op" -> ((s, dir) =>
        graft.ann.Similarity.neardupPairsLsh(s,
          graft.queries.AnnPack.withVectorNearDups(s, dir), threshold = 0.9)),
      // d11's miner alone (cluster-scoped pair mining + CC grouping) —
      // corpus-scaled like d10: a dedup pass's workload IS the corpus
      "d11_semantic_dedup_op" -> ((s, dir) =>
        graft.queries.AnnPack.semanticDedupGroups(s,
          graft.queries.AnnPack.withVectorNearDups(s, dir))))
  }

  private def shifted(df: DataFrame, cols: Map[String, Long], i: Int): DataFrame =
    cols.foldLeft(df) { case (d, (c, step)) =>
      d.withColumn(c, col(c) + lit(step * i))
    }

  /** Bumped whenever the replica semantics change; a replica built by an
    * older version (or a killed run) is rebuilt, not measured. */
  private val BuildVersion = "v3-vocab-renamed"

  def build(spark: SparkSession, base: String, out: String, copies: Int): Unit =
    build(spark, base, out, copies, Set.empty)

  /** `only` restricts the build to a table subset (e.g. just `embeddings`
    * for the 30× recall CI pin — replicating every fact table to assert
    * one ANN bound would pay an order of magnitude more build I/O). The
    * version file records the subset so a partial replica is never
    * mistaken for (or reused as) a full one. */
  def build(spark: SparkSession, base: String, out: String, copies: Int,
      only: Set[String]): Unit = {
    val plans: Seq[(String, Map[String, Long])] = Seq(
      "lineitem" -> Map("l_orderkey" -> 1000000000L, "l_partkey" -> 1000000000L,
        "l_suppkey" -> 1000000000L),
      "orders" -> Map("o_orderkey" -> 1000000000L, "o_custkey" -> 1000000000L),
      "customer" -> Map("c_custkey" -> 1000000000L),
      "supplier" -> Map("s_suppkey" -> 1000000000L),
      "part" -> Map("p_partkey" -> 1000000000L),
      "nation" -> Map.empty[String, Long], // dims: single copy
      "region" -> Map.empty[String, Long],
      // user_id must shift in lockstep with c_custkey: the flagship joins
      // events.user_id to customer.c_custkey, and base user ids are a
      // subset of base custkeys — a different step would orphan 90% of
      // events from their dimension rows in the replica.
      "events" -> Map("event_id" -> 1000000000L, "user_id" -> 1000000000L),
      "documents" -> Map("doc_id" -> 100000000L),
      "embeddings" -> Map("vec_id" -> 100000000L))

    /** Similarity tables need PER-COPY PERTURBATION, not raw duplication:
      * identical copies make every cross-copy pair a true near-dup, so the
      * ground-truth pair count grows QUADRATICALLY in `copies` and the probe
      * would measure data-semantics blow-up, not plan scaling. Production
      * 10× corpora grow with roughly constant near-dup density, which is
      * what these transforms reproduce:
      *  - documents: BIJECTIVE VOCABULARY RENAME — suffix every token with
      *    a copy tag (copy>0). A token bijection preserves every within-copy
      *    shingle-Jaccard exactly and keeps the SimHash signature
      *    distribution equivalent (same token structure under a fresh hash),
      *    while cross-copy vocabularies are disjoint (zero overlap).
      *    (An earlier variant interleaved one shared tag token between
      *    words; with unit-weight token SimHash that one tag became ~half
      *    of every doc's features and collapsed each copy into a few
      *    buckets — an 880× probe artifact, not an operator property.)
      *  - embeddings: cyclically shift dimensions by 7·copy — a rotation
      *    preserves norms and all within-copy cosines exactly, while
      *    cross-copy cosines scramble to the isotropic background level. */
    def perturb(name: String, df: DataFrame, i: Int): DataFrame = name match {
      case "documents" if i > 0 =>
        df.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_c$i"))
      case "embeddings" if i > 0 =>
        // dimension read from the data, not assumed: a regenerated fixture
        // with a different dim would otherwise be silently corrupted
        val dim = df.select(size(col("embedding")).as("d")).head().getInt(0)
        val sh = (7 * i) % dim
        df.withColumn("embedding",
          concat(slice(col("embedding"), sh + 1, dim - sh),
            slice(col("embedding"), 1, sh)))
      case _ => df
    }

    val verTag = s"$BuildVersion:$copies" +
      (if (only.isEmpty) "" else s":${only.toSeq.sorted.mkString("+")}")
    val verFile = java.nio.file.Paths.get(s"$out/_build_version")
    val verOk = java.nio.file.Files.exists(verFile) &&
      new String(java.nio.file.Files.readAllBytes(verFile), "UTF-8") == verTag
    plans.filter(p => only.isEmpty || only(p._1)).foreach { case (name, shifts) =>
      val target = s"$out/$name.parquet"
      val src = spark.read.parquet(s"$base/$name.parquet")
      val n = if (shifts.isEmpty) 1 else copies
      val expected = src.count() * n
      val valid = verOk &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(target)) &&
        (try spark.read.parquet(target).count() == expected
         catch { case _: Throwable => false })
      if (!valid) {
        val rep = (0 until n).map(i => perturb(name, shifted(src, shifts, i), i))
          .reduce(_ unionByName _)
        rep.write.mode("overwrite").parquet(target)
      }
    }
    // A subset build must never DEMOTE an existing full replica's tag: the
    // per-table row-count checks self-heal any table the subset rebuilt at
    // a different copies count, but overwriting a full tag with a subset
    // tag would force the next full run to rebuild every table from
    // scratch (the I/O waste `only` exists to avoid).
    val existing =
      if (java.nio.file.Files.exists(verFile))
        new String(java.nio.file.Files.readAllBytes(verFile), "UTF-8")
      else ""
    val fullTagPresent = existing.nonEmpty && !existing.drop(
      s"$BuildVersion:".length).contains(":")
    if (only.isEmpty || !fullTagPresent) {
      java.nio.file.Files.createDirectories(verFile.getParent)
      java.nio.file.Files.write(verFile, verTag.getBytes("UTF-8"))
    }
  }

  private def time(spark: SparkSession, name: String, dir: String): Double = {
    val fn = OpProbes.getOrElse(name, SparkEntry.queries(name))
    val t0 = System.nanoTime()
    // toRdd materializes every column of the query's own plan; a count()
    // on top would let Catalyst prune the projections/windows being
    // measured down to a parquet-footer row count
    fn(spark, dir).queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    // fail fast on a typo'd allowlist: a silently-ignored name would make
    // an "exclusive re-probe" run zero queries yet read as clean (ADVICE r7)
    val unknown = only.diff(ProbeQueries.toSet)
    require(unknown.isEmpty,
      s"unknown probe queries: ${unknown.mkString(", ")}; " +
        s"known: ${ProbeQueries.mkString(", ")}")
    val spark = Session.local()

    build(spark, base, out, copies)

    // warm both directions once (codegen + file index), then measure.
    // Each (query, dir) runs twice and keeps the min: the first execution
    // pays whole-stage-codegen compilation, which would otherwise be
    // attributed to whichever scale ran first. (No SparkEntry.warm here:
    // the similarity probes are operator-only variants with no checker.)
    time(spark, "a1_groupby_agg", base); time(spark, "a1_groupby_agg", out)

    val rows = ProbeQueries.filter(q => only.isEmpty || only(q)).map { q =>
      val tBig = math.min(time(spark, q, out), time(spark, q, out))
      val tBase = math.min(time(spark, q, base), time(spark, q, base))
      val ratio = tBig / tBase
      println(f"""{"query":"$q","base_s":$tBase%.2f,"x${copies}_s":$tBig%.2f,"ratio":$ratio%.1f}""")
      (q, tBase, tBig, ratio)
    }
    val tb = rows.map(_._2).sum
    val tB = rows.map(_._3).sum
    println(f"""{"probe":"total","base_s":$tb%.2f,"x${copies}_s":$tB%.2f,"ratio":${tB / tb}%.1f}""")
    spark.stop()
  }
}
