package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line on stdout:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * Headline queries cover every operator family (scan-agg, multiway
  * join, tz expression, window, grouping sets, dedup/LSH, similarity,
  * text, pipeline composites). Each query is evaluated through the noop
  * sink so every output column is computed (count() would let Catalyst
  * prune work). A warmup run (same plans at sf0.001) amortizes JIT +
  * codegen compilation out of the measurement, leaving steady-state
  * engine time — the number that scales to a real cluster.
  *
  * SPARK_GRAFT_BENCH_ALL=1 times the full registry instead.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_agg",              // grouped scan aggregate (flagship)
    "j5_multiway_topk",    // 3-way join + agg + top-k
    "j3_dim_broadcast",    // broadcast dimension join
    "e6_tz_local_day",     // timezone-correct local-day grouping
    "w1_trailing_mean",    // windowed trailing frame
    "a9_grouping_sets",    // sliced metric fan-out
    "d1_dedup_keepfirst",  // keyed dedup
    "dedup_minhash_lsh",   // shingle → minhash → LSH banding
    "dedup_exact",         // content-hash dedup
    "sim_cosine_topk",     // brute-force ANN baseline
    "text_quality_score",  // text heuristics
    "pipe_daily_max",      // full clean→daily pipeline
    "pipe_rolling_features", // leakage-free feature windows
    "pipe_ridge_closed_form", // closed-form model fit
    "o11_upsert_merge",    // CDC keep-latest snapshot merge
    "text_bigram_lm_score", // corpus-trained LM quality scoring
    "pipe_curation",       // quality→dedup→canonical curation funnel
    "j17_tpch_q18",        // HAVING-driven join, one lineitem scan
    "pipe_retention_cohorts", // window-free retention matrix
    "a20_auc_ranksum",     // prefix-sum rank-sum AUC
    "w12_interval_islands", // gaps-and-islands interval merge
    "j18_bloom_pruned_join", // runtime Bloom semi-join reduction
    "o19_incremental_agg", // CDC aggregate maintenance w/ retractions
    "text_quality_classifier", // distributed LR training (3 epochs)
    "a23_grouped_topk",    // bounded mergeable per-group top-k
    "w13_rolling_median",  // frame-bounded rolling quantiles
    "j30_interval_overlap", // binned interval-interval join
    "w14_gap_fill",        // calendar spine + linear interpolation
    "a24_grouped_regression", // per-group closed-form OLS
    "pipe_feature_snapshot",  // point-in-time feature-store join
    "w17_rolling_distinct", // rolling 7-day WAU via window explosion
    "j31_band_join",       // delta-width bucketed numeric band join
    "pipe_kfold_cv",       // 2-scan 5-fold CV via moment subtraction
    "graph_pagerank",      // 3 iterations of edge-shuffle PageRank
    "pipe_logistic_newton", // 2 exact Newton steps, 4 fact scans
    "w19_cusum_changepoint", // prefix-sum CUSUM drift detector
    "o23_table_profile",   // one-pass multi-distinct column census
    "o23b_table_profile_approx", // HLL census (no-Expand production shape)
    "text_bm25_search",    // posting-list-subset BM25 retrieval
    "pipe_market_basket",  // a-priori-pruned association rules
    "dedup_prefix_filter", // exact Jaccard join via prefix filtering
    "sim_pca_power",       // matrix-free power iteration (3 scans)
    "graph_triangles",     // degree-ordered triangle counting
    "sim_rrf_hybrid",      // BM25 + vector reciprocal-rank fusion
    "w21_holt_linear",     // per-key Holt fold (ops/HoltLinear)
    "a42b_bootstrap_ci_fast", // xxhash64 Poisson-bootstrap (production draw)
    "graph_link_prediction",  // hub-capped wedge join + CN/Jaccard/AA
    "dedup_sorted_neighborhood", // w-window linkage (exploded-block hash join)
    "a43_markov_transitions", // user-journey transition matrix
    "a44_gini",            // rank-weighted concentration profile (exact)
    "a44b_gini_binned",    // Lorenz-from-histogram Gini (no per-row sort)
    "text_term_drift",     // smoothed log-odds vocabulary drift
    "w24_lead_lag",        // pairwise series cross-correlation at lags
    "j34_tpch_q9",         // 6-table profit join over derived partsupp
    "mm_dedup_dhash",      // perceptual image near-dup (dHash + banding)
    "text_lang_id_trained", // in-plan K-class softmax language-ID
    "a45_corr_matrix",     // one-scan pairwise correlation matrix
    "graph_kcore",         // iterative k-core peel (6 checkpointed rounds)
    "dedup_substring_spans", // positional L-gram fan-out + interval union
    "dedup_substring_spans_fast", // same, 8-byte xxhash64 gram keys
    "dedup_substring_spans_strided", // winnowed anchors (codegen kernel), shuffle ÷ ~4.5
    "j38_incremental_join_refresh", // IVM delta-join refresh vs stored MV
    "mm_audio_vad",        // WAV decode → energy islands segmentation
    "a46_kaplan_meier",    // right-censored survival (duration-grain KM)
    "a47_mann_whitney",    // bucketed-rank U test (no global sort)
    "a48_chi_square",      // r×c independence + Cramér's V (one agg)
    "text_keyword_rake",   // degree/frequency multi-word keywords
    "graph_label_propagation", // 4-round deterministic LPA census
    "sim_sq_int8_topk",    // scalar-quantized int8 exact-integer top-k
    "a49_anova_f",         // one-way ANOVA from quantized group sums
    "a50_cusum_argmax",    // day-grain CUSUM level-shift detector
    "text_textrank_keywords", // weighted word-graph PageRank keywords
    "pipe_seq_gap_patterns", // hour-banded ordered-pair sequence mining
    "a51_partial_corr",    // confound-controlled correlation cells
    "pipe_propensity_strata", // observational ATT via score quintiles
    "sim_sq_int8_rerank_topk", // SQ8 candidates + exact re-rank (2-stage)
    "a53_tost_equivalence", // two one-sided Welch tests (launch gate)
    "mm_dedup_audiofp",    // gain-invariant audio near-dup fingerprint
    "mm_dedup_videofp",    // luma-delta video near-dup fingerprint
    "a54_holm_bonferroni", // FWER-controlled one-vs-rest mean tests
    "pipe_group_split",    // leakage-free entity-hash split + proof
    "text_bm25_indexed",   // BM25 via the persisted inverted index
    "a55_bh_fdr",          // step-up FDR screen over quantized z's
    "a56_kruskal_wallis",  // K-group rank test, bucketed prefix-sum ranks
    "pipe_dsir_resample",  // DSIR: hashed-unigram importance selection
    "w25_kalman_level",    // per-key local-level Kalman filter fold
    "a57_mcnemar",         // paired discordant-cell test (exact integers)
    "o27_hilbert_key",     // 16-step Hilbert walk key (locality layout)
    "o28_hll_sketch_table", // persisted per-day HLL sketches + range union
    "o29_kll_sketch_table", // built-in KLL sketches: stored quantile sketches
    "o30_theta_audience_overlap", // built-in theta sketches: stored ∩ / ∖
    "o26_skew_audit",      // join-key skew stats + strategy recommendation
    "a58_pr_curve",        // threshold-sweep confusion cells + P/R/F1
    "dedup_lsh_eval",      // banding recall vs exact-Jaccard ground truth
    "a60_power_mde",       // A/B design: pooled-σ MDE + required n
    "graph_modularity",    // Newman Q over the LPA census (quantized Σ)
    "a61_icc_design_effect", // cluster-randomization ICC + design effect
    "graph_assortativity", // degree-mixing r from exact integer moments
    "j40_obt_q5",          // one-big-table materialize + filtered scan
    "j41_scd2_asof_enrich", // point-in-time read of the versioned dimension
    "a62_dp_noisy_release", // seeded discrete-Laplace noisy aggregate release
    "a63_k_anonymity",     // QI equivalence-class k-anon / l-div audit
    "o31_erasure_cascade", // GDPR tombstone cascade + orphan audit
    "a64_ece_reliability", // integer-exact ECE + reliability bins
    "sim_retrieval_eval",  // recall/MRR/NDCG@10 of IVF vs exact truth
    "sim_silhouette",      // coarse-quantizer clustering quality
    "pipe_isotonic_calibration", // exact-integer PAV fit + post-ECE
    "a65_spearman",        // tie-aware rank correlation, bucketed ranks
    "text_bigram_kn_score", // Kneser-Ney LM scoring (production smoothing)
    "text_annotator_kappa", // labeling-agreement gate, one 4-cell agg
    "a66_levene",          // variance-homogeneity gate for the F family
    "graph_hits",          // hubs/authorities, 2 L1-normalized rounds
    "a67_wasserstein",     // exact earth-mover distance, value-grain CDF
    "dedup_record_linkage", // Fellegi-Sunter blocked probabilistic linkage
    "dedup_linkage_entities", // FS matches -> CC closure -> entity census
    "a68_brier_decomposition", // Murphy terms + explicit within-bin closure
    "sim_rp_distortion",   // JL projection distortion audit (literal +/-1 matrix)
    "dedup_linkage_golden", // survivorship golden-record table (entity grain)
    "dedup_linkage_eval",  // exact pattern-grain PR sweep of the FS scorer
    "a69_cramer_von_mises", // pooled-sample squared-CDF-gap two-sample test
    "a70_kendall_tau",     // tau-b via support-grain cell-pair concordance
    "a71_jarque_bera",     // normality gate from four exact power sums
    "a72_diebold_mariano", // HAC-corrected forecast-loss comparison
    "a73_anderson_darling", // tail-weighted two-sample test (midrank A2)
    "a74_fisher_exact",    // exact hypergeometric tails, quantized ln-factorials
    "w26_durbin_watson",   // residual-autocorrelation diagnostic (exact algebra)
    "w27_dickey_fuller",   // per-series unit-root t-test, closed-form OLS
    "pipe_woe_iv",         // decile WOE encoding + information value
    "pipe_shapley_attribution", // exact 4-channel Shapley credit (16-coalition algebra)
    "o32_position_delete_read", // position-delete merge-on-read (broadcast anti)
    "stream_ewma_anomaly", // stateful EWMA control band over 4-chunk replay
    "graph_sssp",          // 3-round Bellman-Ford weighted shortest paths
    "w28_holt_winters",    // per-key seasonal HW fold (7-slot state)
    "sim_mmd_drift",       // linear-kernel MMD embedding drift (dim-grain agg)
    "pipe_woe_iv_approx",  // sketch-edge WOE/IV (the no-global-sort twin)
    "stream_holt_winters", // HW as a stateful stream, seed straddles seams
    "a75_logrank",         // censored-duration A/B test on the KM grid
    "a76_effect_sizes",    // Cohen's d / Hedges g / CI from six exact sums
    "a77_breusch_pagan",   // heteroscedasticity LM gate (two-pass OLS)
    "a78_runs_test",       // Wald-Wolfowitz randomness, pure-integer cut
    "w29_periodogram",     // grid-cosine spectral scan (calendar grain)
    // bench-coverage contract (ENFORCED by BenchCoverageSpec): every
    // registry row is headline-timed, sfCaps-excluded with a logged
    // reason, or on the spec's explicit known-untimed list (cheap
    // scalar/variant rows measured only under SPARK_GRAFT_BENCH_ALL=1);
    // a new query that lands in none of the three fails the suite —
    // the decision is forced, never silently skipped
    "stream_scd2",         // SCD2 dimension versioning as a stateful stream
    "stream_record_linkage", // streaming FS-linkage admission index
    "stream_cdc_tombstones", // CDC keep-latest + tombstone expiry replay
    "stream_dim_enrich",   // stream-side broadcast dimension enrichment
    "stream_quality_dlq",  // quality gate with dead-letter quarantine
    "stream_hll_sketch_table", // per-batch HLL sketch table maintenance
    "pipe_era5_hdf5",      // NetCDF-4/HDF5 grid extract pipeline
    "o33_equality_delete_read", // CDC tombstones -> equality-delete MoR
    "o34_time_travel_read", // 3 snapshot commits incl. a compaction rewrite
    "a79_cuped",           // pre-period covariate adjustment (one scan + moments)
    "a80_mantel_haenszel", // stratified OR + CMH from K 2x2 cells
    "w30_seasonal_strength", // ANOVA-identity STL-lite weekly-shape gate
    "pipe_target_encoding_oof", // out-of-fold m-estimate encoder (25-cell algebra)
    "o35_snapshot_incremental_read", // append-delta consumer read off snapshots
    "text_collocations_llr", // Dunning G^2 bigram collocations, one corpus pass
    "a81_sprt",            // Wald sequential test, integer LLR cumsum per segment
    "pipe_pack_sequences", // concat-and-chunk token packing off the bucketed cumsum
    "pipe_qini_uplift",    // uplift decile curve, PrefixSum-derived ranks
    "o36_snapshot_mor_read", // time travel x delete watermarks (seq-scoped)
    "o37_snapshot_merge_upsert", // one-commit MERGE: tombstones + new versions
    "o38_stream_exactly_once_ingest", // batchId-keyed ingest under forced retry
    "o39_stream_merge_ingest", // exactly-once MERGE stream (guarded tombstones)
    "o40_snapshot_changefeed", // changelog scan: inserts + retraction rows
    "o41_changefeed_view_maintenance", // derived agg maintained off the feed
    "o42_wap_branch_audit", // write-audit-publish branch lifecycle
    "pipe_epoch_shuffle",  // seeded resumable epoch permutation slice
    "pipe_epoch_resume_persisted", // index-once epoch resume (pruned scan)
    // ---- r15 promotion: every row below scans an sf-scaled table
    // (lineitem / orders / events / documents / embeddings / customer /
    // part) at bench grain, so its scale behavior must be MEASURED, not
    // assumed — the former known-untimed list is reduced to rows whose
    // plans touch no sf-scaled table (see BenchCoverageSpec). Cheap
    // variant rows stay cheap in the JSON; the point is that a scaling
    // regression in ANY of them now shows up as a cell delta, not as
    // silent coverage drift.
    "a11_metric_ranking", "a12_rollup", "a13_salted_agg",
    "a14_approx_distinct", "a15_approx_quantile", "a16_winsorize_clip",
    "a16b_winsorize_approx", "a17_robust_zscore", "a17b_robust_zscore_approx",
    "a18_cube", "a19_profile_drift", "a21_calibration_bins",
    "a22_auc_by_segment", "a25_histogram", "a26_grouped_ridge",
    "a27_wilson_ci", "a28_crosscorr_lags", "a29_ab_uplift",
    "a2_bit_or_agg", "a30_weighted_median", "a31_benford_digits",
    "a32_gini_spend", "a33_mutual_information", "a34_ks_test",
    "a35_psi", "a36_hill_tail", "a37_spearman",
    "a39_ljung_box", "a3_count_distinct", "a41_theil_sen",
    "a41b_theil_sen_sampled", "a4_moment_metrics", "a5_coverage_sharpness",
    "a6_pinball_loss", "a7_grouped_sigma", "a82_cochran_armitage",
    "a83_overdispersion", "a8_percentile_regimes", "d2_distinct_projection",
    "dedup_canonical", "dedup_components", "dedup_containment",
    "dedup_editdist_fuzzy", "dedup_embedding_cosine", "dedup_incremental_indexed",
    "dedup_ngram_jaccard", "dedup_passage", "dedup_semantic",
    "dedup_simhash", "e10_lead_hours", "e11_qc_flag_pipeline",
    "e16_season_label", "e17_string_normalize", "e1_unit_conversions",
    "e3_sentinel_decode", "e8_calendar_extracts", "e9_seasonal_harmonics",
    "graph_bfs_layers", "j10_asof_native", "j11_skew_join",
    "j12_skew_join_salted", "j13_full_outer", "j14_tpch_q5",
    "j15_tpch_q10", "j16_tpch_q17", "j19_tpch_q6",
    "j1_inner_equijoin", "j20_tpch_q14", "j21_tpch_q13",
    "j22_tpch_q22", "j23_tpch_q21", "j24_tpch_q4",
    "j25_tpch_q7", "j26_tpch_q8", "j27_tpch_q12",
    "j28_tpch_q15", "j29_tpch_q19", "j32_tpch_q3",
    "j33_tpch_q2", "j35_tpch_q11", "j36_tpch_q16",
    "j37_tpch_q20", "j39_lpm_join", "j4_range_bucket",
    "j6_semi_anti", "j7_left_outer", "j8_asof_join",
    "j9_range_join", "mm_byte_budget", "mm_frame_sample",
    "mm_resize_plan", "o10_global_index", "o12_pivot",
    "o13_unpivot", "o14_weighted_sample", "o16_snapshot_diff",
    "o18_scd2_intervals", "o20_exact_quantiles", "o21_hash_split_shuffle",
    "o2_union_sources", "o3_time_split", "o3_time_split_bytime",
    "o5_topk", "o6_set_operations", "o7_hash_sample",
    "o8_stratified_sample", "o9_zorder_key", "o9b_zorder3_key",
    "p2_time_range", "p3_date_between", "p4_membership",
    "p5_threshold_nulldrop", "p7_bitmask_pred", "pipe_bucketed_sigma",
    "pipe_conformal_interval", "pipe_cuped", "pipe_did",
    "pipe_funnel", "pipe_gbm_stumps", "pipe_msprt_ab",
    "pipe_persistence_eval", "pipe_ridge_lambda_sweep", "pipe_sessionize",
    "pipe_srm_check", "pipe_survival_km", "pipe_target_encoding",
    "pipe_time_to_convert", "pipe_walkforward_folds", "s1_scan_project",
    "s4_json_extract", "sim_ivf_filtered_topk", "sim_ivf_indexed_topk",
    "sim_ivf_kmeans_topk", "sim_ivf_topk", "sim_ivfpq_topk",
    "sim_kmeans_cells", "sim_knn_label", "sim_lsh_buckets",
    "sim_mmr_rerank", "sim_pca_outliers", "sim_pq_adc_topk",
    "sim_pq_kmeans_topk", "sim_threshold_pairs", "stream_click_attribution",
    "stream_click_attribution_outer", "stream_daily_tmax", "stream_dedup_watermark",
    "stream_kalman_level", "stream_sessionize", "stream_topk_windowed",
    "stream_upsert_snapshot", "stream_wau", "text_bpe_tokens",
    "text_chunk_overlap", "text_cms_heavy_hitters", "text_decontaminate",
    "text_decontaminate_bloom", "text_domain_mix", "text_fingerprint",
    "text_gopher_quality", "text_hot_grams", "text_kl_drift",
    "text_lang_id", "text_pack_bins", "text_pii_redact",
    "text_quality_classifier_scored", "text_repetition", "text_rolling_hash",
    "text_source_overlap", "text_tfidf_topterms", "text_token_mix",
    "text_token_stats", "text_zipf_slope", "v3_fk_orphans",
    "v_quality_checks", "w10_time_range_window", "w11_time_weighted_avg",
    "w15_rolling_corr", "w16_seasonal_mase", "w18_event_transitions",
    "w20_stl_anomaly", "w22_max_drawdown", "w23_holt_backtest",
    "w2_trailing_rmse", "w3_expanding_std", "w4_lag_lead",
    "w5_spike_detect", "w6_ranking_family", "w7_analytic_family",
    "w8_ewma", "w9_ntile_quartiles")

  /** Per-entry scale caps: rows whose SPELLING (not design) stops being
    * the thing worth measuring past a scale factor. a42_bootstrap_ci is
    * the md5-chain DuckDB-parity artifact — at sf1 it alone was 48% of
    * the whole headline (109.6 s of 228 s) while its production twin
    * a42b (xxhash64) measures the same design at 6 s; the skew_join
    * A/B's 10× readings are documented single-snapshot noise on the
    * shared local JVM (plain+AQE measured 11–90 s across same-day runs —
    * see ARCHITECTURE.md). Caps are LOGGED, never silent: a capped row
    * prints why it was dropped so a thinner BENCH json reads as an
    * explicit demotion, not missing coverage. The correctness gate is
    * unaffected (Verify has no caps). */
  private[graft] val sfCaps: Map[String, Double] = Map(
    "a42_bootstrap_ci" -> 0.1, // md5 parity spelling; a42b is the production row
    "skewJoin" -> 0.1,         // section: snapshot-only past sf0.1 on a shared JVM
    "dedup_lsh_eval" -> 1.0)   // truth side is quadratic-adjacent BY DESIGN
                               // (exact all-pairs ground truth on a 40% sample —
                               // the calibration tool's contract, 11 s at sf1);
                               // past sf1 the sample itself is what you'd shrink

  /** Scale factor parsed from the data dir name (`…/sf0.1`, `…/sf1`);
    * unknown layouts count as sf0.1 so no cap fires on custom dirs. */
  private def sfOf(dir: String): Double =
    "sf([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(dir.stripSuffix("/"))
      .map(_.group(1).toDouble).getOrElse(0.1)

  /** Min-of-N steady-state sampling: two measured evaluations, plus a
    * third when the faster reading is sub-second OR the two samples
    * disagree by more than 2x — a shared-JVM load spike landing on one
    * sample of a fast row otherwise publishes a phantom 8x regression
    * (w21_holt_linear read 2.86 s in a driver snapshot vs 0.35 s in the
    * same-commit local run). Failures inside `once` follow the caller's
    * contract (logged-and-timed in the main loop, propagated in the
    * A/B sections).  */
  private def steadyMin(once: () => Double): Double = {
    val a = once(); val b = once()
    val m = math.min(a, b)
    if (m < 1.0 || math.max(a, b) > 2 * m) math.min(m, once()) else m
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Local-mode measurement knob: the sf0.1 tables are single small
    // parquet files, so a 4 MB split target parallelizes the scans
    // (a 128 MB default would read each table in one task).
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .config("spark.sql.files.maxPartitionBytes", (4L * 1024 * 1024).toString)
      // bucketedJoin's saveAsTable tables land under the scratch root,
      // not a spark-warehouse/ dir inside the repo checkout
      .config("spark.sql.warehouse.dir",
        graft.core.Scratch.path("bench_warehouse", sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sf = sfOf(sfDir)
    def applyCaps(ns: Seq[String]): Seq[String] = ns.filter { n =>
      val keep = sf <= sfCaps.getOrElse(n, Double.MaxValue)
      if (!keep) System.err.println(
        s"[bench] $n excluded at sf=$sf (capped to sf<=${sfCaps(n)} — see sfCaps)")
      keep
    }
    val names = sys.env.get("SPARK_GRAFT_BENCH_NAMES") match {
      // explicit comma-separated list for targeted timing runs — NO caps:
      // asking for a row by name (e.g. reproducing the documented a42
      // sf1 reading) is the deliberate override
      case Some(csv) => csv.split(',').toSeq.map(_.trim).filter(SparkEntry.queries.contains)
      case None =>
        if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
          applyCaps(SparkEntry.queries.keys.toSeq.sorted)
        else applyCaps(headline.filter(SparkEntry.queries.contains))
    }

    def evalFully(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    // Cross-query cache hygiene (r17 measurement fix — see
    // OPTIMIZATION_r17.md): persist-and-leak rows (the graph family's
    // edge/round frames, dedup/sim builders) re-register a fresh cache
    // entry per EVALUATION, and nothing unpersists them — a full
    // 357-row run accumulates hundreds of dead cached frames, and the
    // block-manager/GC pressure inflated mid-run cells 2–6× over their
    // solo numbers (stream_holt_winters 14.0 s full-run vs 2.4 s solo
    // at r17 baseline). Releasing the cache BETWEEN rows removes the
    // contamination without touching the timed methodology: each row's
    // own min-of-N samples still share their warm cache (identical
    // plans re-attach to the live entry — the documented warm-sample
    // convention), but no row pays for its predecessors' leaks. The
    // timed action, warmup, steadyMin sampling and the JSON contract
    // are unchanged.
    def releaseLeakedCaches(): Unit = spark.catalog.clearCache()

    // warmup at the smallest sf: compiles codegen + JITs the operators
    val warmupDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try evalFully(n, warmupDir)
      catch { case _: Throwable => () }
    }
    // the warmup evaluations leak the same caches the measured runs do
    // (at sf0.001 grain) — start the measured phase clean
    releaseLeakedCaches()

    // steady-state timing: two measured evaluations, keep the faster —
    // the sf0.001 warmup compiles codegen but does not warm the target
    // scale's file listings, footer reads, or shuffle buffers, and a
    // single local-mode evaluation carries ±20% scheduler noise that
    // would read as phantom round-over-round regressions.
    // A row ANY sample of which failed is EXCLUDED from the JSON, not
    // recorded: a time-to-failure published as a plausible cell is
    // worse than a loud gap (the section contract, now applied to the
    // main loop too — r12's sf1 a74 cell was exactly such a ghost:
    // the row ANSI-overflowed and its abort latency sat in BENCH_sf1
    // looking like a healthy 1.0 s measurement).
    val results = names.flatMap { name =>
      var failed = false
      def once(): Double = {
        val t0 = System.nanoTime()
        try evalFully(name, sfDir)
        catch {
          case e: Throwable =>
            failed = true
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      val t = steadyMin(() => once())
      // all of this row's samples are done — drop what it leaked so the
      // NEXT row starts from the same state a solo run would see
      releaseLeakedCaches()
      if (failed) {
        System.err.println(
          s"[bench] $name EXCLUDED from results (a sample failed; " +
            "a time-to-failure is not a measurement)")
        None
      } else Some(name -> t)
    }
    // Each A/B section is fenced: a section that cannot even set up (e.g.
    // a testdata layout drift) logs and contributes NO rows — publishing a
    // time-to-failure as a plausible measurement is worse than a gap, and
    // one broken section must not take down the round's other numbers
    // (round 8 lost its entire bench file to exactly that).
    // A targeted run (SPARK_GRAFT_BENCH_NAMES set) times ONLY the named
    // rows: the A/B sections are skipped so a solo re-measure costs the
    // named rows, not the named rows plus four minutes of unrelated
    // section setup. Full runs (the driver's invocation never sets the
    // env) are unchanged.
    val targeted = sys.env.contains("SPARK_GRAFT_BENCH_NAMES")
    def section(name: String)(rows: => Seq[(String, Double)]): Seq[(String, Double)] =
      if (targeted) Seq.empty
      else try rows
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] section $name failed: ${e.getMessage}")
          Seq.empty
      }
    val skewRows =
      if (sf <= sfCaps("skewJoin")) section("skewJoin")(skewJoinBench(spark, sfDir))
      else {
        System.err.println(s"[bench] skewJoin section excluded at sf=$sf " +
          "(snapshot-only on a shared JVM past sf0.1 — see sfCaps)")
        Seq.empty
      }
    val qs = (results ++ section("asof")(asofBench(spark, sfDir))
      ++ section("sortedScan")(sortedScanBench(spark, sfDir))
      ++ section("zorderScan")(zorderScanBench(spark, sfDir))
      ++ section("bucketedJoin")(bucketedJoinBench(spark, sfDir))
      ++ skewRows
      ++ section("bloomScan")(bloomScanBench(spark, sfDir))
      ++ section("manifestScan")(manifestScanBench(spark, sfDir))
      ++ section("compaction")(compactionBench(spark, sfDir))
      ++ section("erasure")(erasureBench(spark, sfDir))
      ++ section("obtScan")(obtScanBench(spark, sfDir))
      ++ section("dvScan")(dvScanBench(spark, sfDir))
      ++ section("intervalJoin")(intervalJoinBench(spark, sfDir))
      ++ section("epochShuffle")(epochShuffleBench(spark, sfDir))
      ++ section("changefeed")(changefeedBench(spark, sfDir))
      ++ section("graphCands")(graphCandsBench(spark, sfDir))
      ++ section("simCands")(simCandsBench(spark, sfDir)))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Candidate-volume telemetry for the quadratic-adjacent families:
    * wedge/pair COUNTS (values are rows, not seconds) for the
    * degree-oriented triangle join, the hub-capped link-prediction
    * wedge join, and the a-priori-pruned market-basket pair join —
    * wall time hides fan-out growth behind CPU headroom at small sf,
    * so scale factors get the candidate volumes directly. Not part of
    * `total`. */
  private def graphCandsBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    graft.queries.GraphQueries.candidateCounts(spark, sfDir)
      .map { case (k, v) => k -> v.toDouble }

  /** Probe telemetry for the IVF similarity family: probed-cell and
    * scored-candidate counts (values are rows, not seconds) for both
    * the in-flight top-k and the persisted-index path — candidate
    * volume must track N·nprobe/K linearly across sf bumps. Not part
    * of `total`. */
  private def simCandsBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    graft.queries.SimilarityQueries.candidateCounts(spark, sfDir)
      .map { case (k, v) => k -> v.toDouble }

  /** Operator A/B: the same as-of alignment through the composed
    * union-and-carry window (j8) vs the native AsofJoinExec sort-merge
    * (j10 — graft.plans). Same oracle-checked answer; the native path
    * drops the unioned frame + window buffer, so the delta is pure
    * operator overhead. Not part of `total` (j8's cost would be counted
    * twice); warmed by a prior evaluation of each. */
  private def asofBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def timeOf(name: String): Double = {
      // same failure contract as the main loop: a regression prints a
      // line and records the elapsed time; it never kills the bench JSON
      val t0 = System.nanoTime()
      def once(): Double = {
        val t1 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t1) / 1e9
      }
      try { once(); steadyMin(() => once()) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          (System.nanoTime() - t0) / 1e9
      }
    }
    Seq("asof_composed" -> timeOf("j8_asof_join"), "asof_native" -> timeOf("j10_asof_native"))
  }

  /** Layout benchmark: the same events data written through the
    * production sorted sink (sources/Sinks.writeSortedBy — range-
    * partitioned files, sorted row groups) vs an unsorted layout with
    * the same file count, then read back with a selective time-range
    * predicate (one day of a 30-day span). Events are replicated ×16
    * and written with 1 MB row groups so each file carries MANY groups
    * — the shape where footer min/max pruning decides the read (at
    * production scale the 128 MB default gives the same multi-group
    * files without the replication). Setup (the writes) is not timed,
    * and the pair is NOT part of `total` — it is a layout A/B, not an
    * operator timing. */
  /** Shared layout-bench setup: the ×16-replicated events frame written
    * through `writes` with 1 MB row groups (many groups per file — the
    * shape where footer min/max pruning decides the read; at production
    * scale the 128 MB default gives the same multi-group files without
    * the replication) and micros timestamps (INT96 blocks predicate
    * pushdown). Block size restored afterwards. */
  private def withReplicatedEvents(spark: SparkSession, sfDir: String)(
      writes: org.apache.spark.sql.DataFrame => Unit): Unit = {
    import org.apache.spark.sql.functions._
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    // both knobs are session/config-global: capture and restore BOTH in
    // the same finally, so later writes in this session don't silently
    // inherit micros timestamps or 1 MB row groups
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      hc.setInt("parquet.block.size", 1 << 20)
      writes(graft.core.Tables.events(spark, sfDir)
        .withColumn("rep", explode(expr("sequence(0, 15)"))))
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
      prevTs match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None    => spark.conf.unset(tsKey)
      }
    }
  }

  private def sortedScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_layout", sfDir)
    withReplicatedEvents(spark, sfDir) { events =>
      graft.sources.Sinks.writeSortedBy(events, s"$tmp/sorted", Seq("ts"), numFiles = 8)
      events.repartition(8).write.mode("overwrite").parquet(s"$tmp/unsorted")
    }
    def timeRead(dir: String): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(dir)
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-11 00:00:00")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeRead(s"$tmp/sorted") // warm both paths once
    timeRead(s"$tmp/unsorted")
    Seq(
      "scan_range_sorted_layout" -> timeRead(s"$tmp/sorted"),
      "scan_range_unsorted_layout" -> timeRead(s"$tmp/unsorted"))
  }

  /** Manifest A/B: the same selective day-range read against a 64-file
    * time-sorted layout, (a) through Spark's own listing + per-file
    * footer reads, (b) through ops/Manifest's file-level min/max side
    * table (candidate files resolved from a KB-sized metadata read, only
    * those files handed to the reader). Locally both prune the same
    * bytes, so the delta is pure planning/footer overhead — small at 64
    * files, the point at 10⁵⁺; the `_files_read` telemetry row is the
    * scale signal (candidate files must stay O(matching span), not
    * O(table)). */
  private def manifestScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_manifest", sfDir)
    withReplicatedEvents(spark, sfDir) { events =>
      graft.sources.Sinks.writeSortedBy(events, s"$tmp/data", Seq("ts"), numFiles = 64)
    }
    graft.ops.Manifest.write(spark, s"$tmp/data", s"$tmp/manifest", Seq("ts"))
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-10 23:59:59")
    def timeFull(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$tmp/data")
        .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def timePruned(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Manifest.readRange(spark, s"$tmp/data", s"$tmp/manifest", "ts", lo, hi)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeFull(); timePruned() // warm both paths once
    val nCand = graft.ops.Manifest
      .candidateFiles(spark, s"$tmp/manifest", "ts", lo, hi).length
    // partitioned twin: the SAME probe against a Hive-partitioned
    // layout (event_type dirs, time-split files inside) — exercises the
    // recursive listing + basePath read path the engine's own canonical
    // tables need; files_read pins that pruning still holds per-file
    // inside partitions, not just per-partition
    withReplicatedEvents(spark, sfDir) { events =>
      events.repartitionByRange(16, org.apache.spark.sql.functions.col("ts"))
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$tmp/pdata")
    }
    graft.ops.Manifest.write(spark, s"$tmp/pdata", s"$tmp/pmanifest", Seq("ts"))
    def timePart(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Manifest.readRange(spark, s"$tmp/pdata", s"$tmp/pmanifest", "ts", lo, hi)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timePart() // warm
    val nCandPart = graft.ops.Manifest
      .candidateFiles(spark, s"$tmp/pmanifest", "ts", lo, hi).length
    // clustering depth: the range-sorted layout should score ~1
    // (disjoint ts spans); the event_type-partitioned layout splits
    // the SAME time range into one span per partition value, so a
    // point probe overlaps ~|partitions| files — the number that says
    // "recluster (or probe with the partition column)"
    val depthSorted = graft.ops.Manifest
      .clusteringDepth(spark, s"$tmp/manifest", "ts")
    val depthPart = graft.ops.Manifest
      .clusteringDepth(spark, s"$tmp/pmanifest", "ts")
    // snapshot overhead: one versioned commit of the same 64-file
    // layout (metadata-sized: list + stats scan), and the SAME probe
    // through the pinned snapshot — the time-travel read must price
    // within noise of the mutable-manifest one (both resolve candidate
    // files from a KB-sized metadata read)
    val snapRoot = s"$tmp/snaps"
    val tSnap0 = System.nanoTime()
    // TWO stats columns recorded at commit (the Iceberg per-column-
    // bounds play): ts is the layout's sort key; event_id rides along
    // because ingestion assigns ids in arrival order, so the ts-sorted
    // files carry near-disjoint id spans too — a SECOND, non-primary
    // predicate can then skip files from the same KB manifest read
    val commit = graft.ops.Snapshots.commitFromFs(
      spark, s"$tmp/data", snapRoot, Seq("ts", "event_id"))
    val commitSec = (System.nanoTime() - tSnap0) / 1e9
    def timeSnapPruned(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Snapshots
        .readRangeAt(spark, snapRoot, commit.snapshot, "ts", lo, hi)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeSnapPruned() // warm
    // the second-column probe: a ~1-day-wide event_id slice derived
    // from the manifest's own recorded id span (no data read).
    // files_read is the EARNINGS telemetry for the second column:
    // ids assigned in arrival order correlate with ts, so the
    // ts-sorted files carry narrow id spans and the probe skips
    // (3 of 64 at sf0.1 — real-shaped ids). The synthetic sf1
    // replica set (tools/make_sf1.py: disjoint id bands over the
    // SAME month) deliberately breaks that correlation — every file
    // spans all bands and files_read reads 64/64 there, which is the
    // honest answer: per-column bounds only earn their bytes when
    // the column tracks the layout, and this cell is how an operator
    // SEES a recorded column stop earning them (drop it from `cols`
    // or recluster)
    val idSpan = graft.ops.Snapshots.manifestAt(spark, snapRoot, commit.snapshot)
      .filter(col("kind") === "data")
      .agg(min(col("min_event_id")), max(col("max_event_id")))
      .collect()(0)
    val (idMin, idMax) = (idSpan.getLong(0), idSpan.getLong(1))
    val idLo = idMin + (idMax - idMin) / 3
    val idHi = idLo + (idMax - idMin) / 30
    def timeSnapPrunedCol2(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Snapshots
        .readRangeAt(spark, snapRoot, commit.snapshot, "event_id", idLo, idHi)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeSnapPrunedCol2() // warm
    val nCandCol2 = graft.ops.Snapshots
      .candidateFilesAt(spark, snapRoot, commit.snapshot, "event_id", idLo, idHi)
      .length
    Seq(
      "scan_manifest_pruned" -> steadyMin(() => timePruned()),
      "scan_manifest_full" -> steadyMin(() => timeFull()),
      "scan_manifest_files_read" -> nCand.toDouble,
      "scan_manifest_partitioned" -> steadyMin(() => timePart()),
      "scan_manifest_partitioned_files_read" -> nCandPart.toDouble,
      "scan_manifest_cluster_depth_sorted" -> depthSorted.avgDepth,
      "scan_manifest_cluster_depth_partitioned" -> depthPart.avgDepth,
      "manifest_snapshot_commit" -> commitSec,
      "scan_manifest_snapshot_pruned" -> steadyMin(() => timeSnapPruned()),
      "scan_manifest_snapshot_pruned_col2" -> steadyMin(() => timeSnapPrunedCol2()),
      "scan_manifest_snapshot_col2_files_read" -> nCandCol2.toDouble)
  }

  /** Compaction A/B: the same full scan against 64 micro-files vs the
    * FFD-compacted layout (ops/Compaction, 32 MB target). Locally the
    * delta is task-scheduling overhead only (page cache hides I/O); at
    * cluster scale per-file listing RPCs and footer reads scale the gap
    * — `compaction_files_after` is the structural telemetry row. */
  /** Targeted erasure vs the naive full-table rewrite (ops/Erasure):
    * a 50-key deletion batch against a key-clustered 64-file layout.
    * The full rewrite reads and re-writes EVERY byte; the targeted
    * path opens only the files whose manifest key span can contain a
    * tombstone — at 100 TB the gap is the entire table vs O(keys)
    * files. The full-rewrite row is timed FIRST (read-only over the
    * layout); the targeted row then mutates it in place, including
    * the post-erase manifest refresh (the full maintenance cost). */
  private def erasureBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_erase", sfDir)
    def buildLayout(): Unit = {
      withReplicatedEvents(spark, sfDir) { events =>
        graft.sources.Sinks.writeSortedBy(
          events, s"$tmp/data", Seq("event_id"), numFiles = 64)
      }
      graft.ops.Manifest.write(spark, s"$tmp/data", s"$tmp/manifest",
        Seq("event_id"))
    }
    buildLayout()
    val keys = (0 until 50).map(i => i.toLong * 997)
    // naive path: whole table anti-filtered and rewritten elsewhere —
    // idempotent over the unchanged layout, so min-of-N applies as-is
    spark.read.parquet(s"$tmp/data").limit(1).count() // warm listing
    def timeFullRewrite(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$tmp/data")
        .filter(!col("event_id").isin(keys: _*))
        .write.mode("overwrite").parquet(s"$tmp/full_rewrite")
      (System.nanoTime() - t0) / 1e9
    }
    val fullSec = steadyMin(() => timeFullRewrite())
    // targeted path: plan on metadata, rewrite candidates, refresh.
    // The erase MUTATES the layout (a second run over erased data would
    // measure a no-op), so each min-of-N sample rebuilds the layout
    // first — the rebuild sits outside the timed window
    var rep: graft.ops.Erasure.EraseReport = null
    def timeTargeted(): Double = {
      buildLayout()
      val t1 = System.nanoTime()
      val p = graft.ops.Erasure.plan(spark, s"$tmp/manifest", "event_id", keys)
      rep = graft.ops.Erasure.erase(spark, p)
      graft.ops.Manifest.refresh(spark, s"$tmp/data", s"$tmp/manifest",
        Seq("event_id"))
      (System.nanoTime() - t1) / 1e9
    }
    val targetedSec = steadyMin(() => timeTargeted())
    Seq(
      "erase_full_rewrite" -> fullSec,
      "erase_targeted" -> targetedSec,
      "erase_files_touched" -> (rep.filesRewritten + rep.filesRemoved).toDouble)
  }

  private def compactionBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    val tmp = graft.core.Scratch.dir("bench_compact", sfDir)
    withReplicatedEvents(spark, sfDir) { events =>
      events.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
    }
    val groups = graft.ops.Compaction.plan(spark, s"$tmp/small", 32L * 1024 * 1024)
    graft.ops.Compaction.compact(spark, groups, s"$tmp/out")
    val kept = groups.filter(_.files.length <= 1).flatMap(_.files).map(_.path)
    val outDirs = groups.filter(_.files.length > 1).map(g => s"$tmp/out/${g.outSubPath}")
    val compactedPaths = outDirs ++ kept
    def timeScan(paths: Seq[String]): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(paths: _*)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeScan(Seq(s"$tmp/small")); timeScan(compactedPaths) // warm
    val nAfter = spark.read.parquet(compactedPaths: _*).inputFiles.length
    // min-of-N (the q5_obt lesson): both are sub-second read cells —
    // single snapshots drifted 1.7–3.2× between rounds on JVM noise
    Seq(
      "scan_smallfiles_64" -> steadyMin(() => timeScan(Seq(s"$tmp/small"))),
      "scan_compacted" -> steadyMin(() => timeScan(compactedPaths)),
      "compaction_files_after" -> nAfter.toDouble)
  }

  /** OBT A/B: the same Q5 slice as a live 6-table star join vs a
    * filtered scan of the prebuilt denormalized fact (j40's layout) —
    * the join-at-write vs join-at-read trade measured; `obt_size_mb`
    * carries the storage price of the fan-out to lineitem grain. */
  /** Position-delete trade study: the per-read cost of merge-on-read
    * (broadcast anti-join against the position table) vs the one-time
    * cost of copy-on-write (rewrite the whole table minus deleted
    * rows). MoR's read overhead is paid on EVERY query until
    * compaction absorbs the deletes; CoW pays everything up front —
    * the ratio of these two cells (times expected reads between
    * deletes) is the decision rule. Delete predicate hits ~15% of rows
    * scattered across every file — the scatter that makes CoW touch
    * the full table. */
  private def dvScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_dv", sfDir)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    graft.sources.Sinks.writeSortedBy(li, s"$tmp/data", Seq("l_shipdate"), numFiles = 64)
    val nDel = graft.ops.DeletionVectors.addDeletes(
      spark, s"$tmp/data", s"$tmp/deletes", col("l_discount") >= 0.09)
    require(nDel > 0, "dvScan bench: delete predicate matched no rows")
    def agg(df: org.apache.spark.sql.DataFrame): Unit =
      df.groupBy(col("l_returnflag"))
        .agg(count(lit(1)), sum(col("l_quantity")))
        .write.format("noop").mode("overwrite").save()
    def timeClean(): Double = {
      val t0 = System.nanoTime()
      agg(spark.read.parquet(s"$tmp/data"))
      (System.nanoTime() - t0) / 1e9
    }
    def timeMor(): Double = {
      val t0 = System.nanoTime()
      agg(graft.ops.DeletionVectors.read(spark, s"$tmp/data", s"$tmp/deletes"))
      (System.nanoTime() - t0) / 1e9
    }
    def timeCow(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(s"$tmp/data").filter(!(col("l_discount") >= 0.09))
        .write.mode("overwrite").parquet(s"$tmp/cow")
      (System.nanoTime() - t0) / 1e9
    }
    timeClean(); timeMor() // warm both read paths
    // min-of-N like the headline (the q5_obt lesson): these are small
    // read cells on a shared JVM — a single snapshot publishes noise
    val cleanSec = steadyMin(() => timeClean())
    val morSec = steadyMin(() => timeMor())
    val cowSec = steadyMin(() => timeCow()) // overwrite: repeatable
    // snapshot-governed MoR read tax: one commit records the delete
    // watermark, readAt merges it — the time-travel read must price
    // within noise of the direct DeletionVectors.read (same broadcast
    // anti-join, file list from a KB manifest instead of an FS walk)
    val snapRoot = s"$tmp/snaps"
    graft.ops.Snapshots.commitFromFs(spark, s"$tmp/data", snapRoot,
      Seq("l_shipdate"), posDeleteDir = Some(s"$tmp/deletes"))
    def timeSnapMor(): Double = {
      val t0 = System.nanoTime()
      agg(graft.ops.Snapshots.readAt(spark, snapRoot, 0L))
      (System.nanoTime() - t0) / 1e9
    }
    timeSnapMor() // warm
    val snapMorSec = steadyMin(() => timeSnapMor())
    // ABSORB lifecycle: compact with the delete table absorbed, swap
    // the layout in, prune the dangling vectors — the merge-on-read
    // tax must collapse back to (near) clean-scan time. This cell +
    // scan_dv_merge_on_read is the "when should compaction run"
    // decision pair: MoR tax × reads-until-compaction vs one rewrite.
    val groups = graft.ops.Compaction.plan(spark, s"$tmp/data", 32L * 1024 * 1024)
    graft.ops.Compaction.compact(spark, groups, s"$tmp/absorbed",
      deleteDir = Some(s"$tmp/deletes"))
    val hfs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val multi = groups.filter(_.files.length > 1)
    multi.flatMap(_.files).foreach { f =>
      hfs.delete(new org.apache.hadoop.fs.Path(f.path), false)
    }
    multi.foreach { g =>
      hfs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/absorbed/${g.outSubPath}"))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .foreach { s =>
          hfs.rename(s.getPath, new org.apache.hadoop.fs.Path(
            s"$tmp/data/g${g.id}_${s.getPath.getName}"))
        }
    }
    graft.ops.DeletionVectors.pruneDanglingDeletes(
      spark, s"$tmp/data", s"$tmp/deletes")
    timeMor() // warm the swapped layout
    Seq(
      "scan_dv_clean" -> cleanSec,
      "scan_dv_merge_on_read" -> morSec,
      "scan_snapshot_mor" -> snapMorSec,
      "scan_dv_copy_on_write" -> cowSec,
      "scan_dv_after_absorb" -> steadyMin(() => timeMor()),
      "scan_dv_positions" -> nDel.toDouble)
  }

  private def obtScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_obt", sfDir)
    graft.sources.Sinks.writeSortedBy(
      graft.queries.JoinQueries.buildObtQ5(spark, sfDir), tmp,
      Seq("o_orderdate"), numFiles = 8)
    def q5Star(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries("j14_tpch_q5")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def q5Obt(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(tmp)
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1997-01-01").cast("date"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    q5Star(); q5Obt() // warm both paths once
    val p = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizeMb = fs.getContentSummary(p).getLength / 1e6
    // steadyMin (not a single post-warm shot): the r12 driver snapshot
    // read q5_obt_scan at 2.6x its r11 value from one load spike on the
    // shared JVM — the same lesson the skew section already learned.
    // The file count is published alongside so a layout-width change
    // (more files -> more scan tasks) is visible as a cause, not a
    // mystery.
    val obtFiles = spark.read.parquet(tmp).inputFiles.length
    Seq(
      "q5_star_join" -> steadyMin(() => q5Star()),
      "q5_obt_scan" -> steadyMin(() => q5Obt()),
      "obt_size_mb" -> sizeMb,
      "obt_files" -> obtFiles.toDouble)
  }

  /** Strategy A/B: one deliberately skewed fact⋈dim join, three ways —
    * plain shuffle join with AQE's skew mitigation, the sketch-driven
    * hot/cold regime split (ops/SkewJoin.inner — j11's spelling), and
    * the salted one-shuffle spelling (innerSalted — j12's). Fact =
    * events ×32 (~3.2M rows) with HALF the rows on one key and the
    * rest uniform over 200k keys; dim = 200k keys. Broadcast is
    * disabled for the trio — the operator's regime is precisely "the
    * dim is too big to broadcast" (a broadcastable dim never has a
    * skew problem); SkewJoin's own hot-slice broadcast is a hint, so
    * it still applies. Each variant carries its natural end-to-end
    * cost (the sketch spellings include their sketch-build pass).
    *
    * When each wins (the honest read of these rows): at LOCAL scale
    * plain+AQE wins — the shuffle runs at memory speed, so AQE's
    * split-the-hot-partition mitigation is nearly free, while the
    * sketch spellings pay extra fact passes (sketch build; the split's
    * two regime branches). The `_prebuilt` row isolates the join by
    * amortizing the sketch into a prior stage, the way a real pipeline
    * would. The regime operators earn their keep where the bench
    * cannot follow: a network-bound cluster shuffle (AQE still
    * shuffles every hot row; the split ships a kB-scale hot dim slice
    * instead of TBs of hot fact), skew known AHEAD of a multi-stage
    * plan, or AQE off/blind. Not part of `total`. */
  private def skewJoinBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def fact = graft.core.Tables.events(spark, sfDir)
      .withColumn("rep", explode(expr("sequence(0, 31)")))
      // deterministic 50/50 split: half the rows land on key 0 (hot),
      // half spread uniformly over the 200k-key domain
      .withColumn("k",
        when(pmod(xxhash64(col("event_id"), col("rep")), lit(2)) === 0, lit(0L))
          .otherwise(pmod(xxhash64(col("event_id"), col("rep"), lit(1)), lit(200000L))))
      .select(col("k"), col("event_id"), col("value"))
    def dim = spark.range(200000).select(col("id").as("k"),
      concat(lit("seg_"), col("id") % 64).as("segment"))
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevBc = spark.conf.get(bcKey)
    spark.conf.set(bcKey, "-1")
    try {
      def timeOf(f: => org.apache.spark.sql.DataFrame): Double = {
        def once(): Double = {
          val t0 = System.nanoTime()
          // a failed variant must FAIL the bench run — swallowing the
          // error would publish the time-to-failure as a plausible
          // measurement in BENCH_*.json
          f.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // warm
        steadyMin(() => once())
      }
      // built once OUTSIDE the timings: the scan-sharing contract (a
      // prior stage that already scanned the fact hands the sketch in)
      val prebuilt = graft.ops.SkewJoin.sketch(fact, "k")
      Seq(
        "skew_join_plain_aqe" -> timeOf(fact.join(dim, Seq("k"))),
        "skew_join_sketch_split" -> timeOf(
          graft.ops.SkewJoin.inner(fact, dim, "k", hotThreshold = 1000)),
        "skew_join_salted" -> timeOf(
          graft.ops.SkewJoin.innerSalted(fact, dim, "k", hotThreshold = 1000)),
        "skew_join_salted_prebuilt" -> timeOf(
          graft.ops.SkewJoin.innerSalted(fact, dim, "k", hotThreshold = 1000,
            cms = Some(prebuilt))))
    } finally spark.conf.set(bcKey, prevBc)
  }

  /** Epoch-shuffle resume A/B: a mid-epoch loader restart served by
    * (a) re-deriving the PrefixSum rank over the corpus — the
    * per-restart cost when no index exists (full scan + shuffle), vs
    * (b) ONE manifest-pruned scan of the persisted epoch index
    * (ops/EpochShuffle) — the per-restart cost once the epoch paid
    * `epoch_index_write` up front. `epoch_resume_files_read` pins the
    * prune: files opened must track the SLICE (rows ÷ rows-per-file),
    * not the index — the number that stays flat when the corpus grows
    * 1000×. Not part of `total` (pipe_epoch_shuffle and
    * pipe_epoch_resume_persisted already time the gated spellings
    * end-to-end). */
  private def epochShuffleBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val idx = graft.core.Scratch.dir("bench_epoch", sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir).select(col("doc_id"))
    val n = docs.count()
    val tW0 = System.nanoTime()
    graft.ops.EpochShuffle.write(docs, "doc_id", seed = 7, outDir = idx,
      numFiles = 32, knownCount = Some(n))
    val writeSec = (System.nanoTime() - tW0) / 1e9
    val from = n / 2
    val until = math.min(n, from + 4096)
    def timeResume(): Double = {
      val t0 = System.nanoTime()
      graft.ops.EpochShuffle.resume(spark, idx, from, until)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def timeRecompute(): Double = {
      val t0 = System.nanoTime()
      graft.ops.EpochShuffle.permutation(docs, "doc_id", seed = 7,
          knownCount = Some(n))
        .filter(col("pos") > from && col("pos") <= until)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeResume(); timeRecompute() // warm both paths
    val filesRead = graft.ops.EpochShuffle
      .candidateFiles(spark, idx, from, until).length
    Seq(
      "epoch_index_write" -> writeSec,
      "epoch_resume_persisted" -> steadyMin(() => timeResume()),
      "epoch_resume_recompute" -> steadyMin(() => timeRecompute()),
      "epoch_resume_files_read" -> filesRead.toDouble)
  }

  /** Changefeed retraction-scan pruning: a ONE-KEY delete window over
    * a 32-file range-clustered snapshot table. The retraction side
    * must open only the files the window's deletes can touch (position
    * generations name their targets; equality reach = seq scope ∩
    * manifest key-range overlap — Snapshots.changefeedFromFiles), so
    * `changefeed_files_read` must stay O(deletes' spread), not
    * O(table), as the corpus grows — the difference between a CDC tick
    * that reads KBs and one that rescans 100 TB. Not part of `total`
    * (o40 times the gated changefeed end-to-end). */
  private def changefeedBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val d = graft.core.Scratch.dir("bench_cdc", sfDir)
    val data = s"$d/data"; val root = s"$d/snaps"; val eq = s"$d/eq"
    val ev = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"))
    ev.repartitionByRange(32, col("event_id")).write.parquet(data)
    graft.ops.Snapshots.commitFromFs(spark, data, root, Seq("event_id"),
      eqDeleteDir = Some(eq))
    val key = ev.agg(max(col("event_id"))).collect()(0).getLong(0) / 2
    graft.ops.DeletionVectors.addKeyDeletes(spark, eq,
      spark.range(key, key + 1).select(col("id").as("event_id")))
    graft.ops.Snapshots.commitFromFs(spark, data, root, Seq("event_id"),
      eqDeleteDir = Some(eq))
    def timeFeed(): Double = {
      val t0 = System.nanoTime()
      graft.ops.Snapshots.readChangefeed(spark, root, 0L, 1L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeFeed() // warm
    val opened = graft.ops.Snapshots.changefeedFromFiles(spark, root, 0L, 1L)
    // view-maintenance A/B: a 1024-bucket aggregate kept current by
    // (a) applying the window's changefeed as signed deltas to the
    // STORED view (ops/IncrementalAgg — touches the pruned feed + the
    // KB-sized view, never the fact) vs (b) recomputing the aggregate
    // from the full table. READ THE PAIR AS SLOPES, NOT AS A RACE AT
    // ONE SF: the delta cell is FLAT across scale factors (its cost is
    // the window's changes + ~1 s of changefeed fixed overhead —
    // manifest reads and broadcast rounds) while the recompute cell
    // tracks the table scan. At bench sf a 2-column columnar agg is
    // sub-second, so the recompute wins on constants here; the
    // crossover is wherever the fact scan dwarfs the window — i.e. the
    // 100 TB nightly tick, where recompute is hours and the delta is
    // still this cell.
    val spec = graft.ops.IncrementalAgg.Spec(
      keys = Seq("bucket"), sumCols = Seq("event_id"), minMaxCols = Nil)
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.select((col("user_id") % 1024).as("bucket"), col("event_id"))
    val viewDir = s"$d/view0"
    graft.ops.IncrementalAgg.storedAggregate(
        bucketed(graft.ops.Snapshots.readAt(spark, root, 0L)), spec)
      .write.mode("overwrite").parquet(viewDir)
    def signedFeed() = graft.ops.Snapshots.readChangefeed(spark, root, 0L, 1L)
      .withColumn("w", when(col("_change_type") === "insert", 1).otherwise(-1))
      .select((col("user_id") % 1024).as("bucket"), col("event_id"), col("w"))
    def timeDelta(): Double = {
      val t0 = System.nanoTime()
      graft.ops.IncrementalAgg.maintain(spark.read.parquet(viewDir), signedFeed(),
          bucketed(graft.ops.Snapshots.readAt(spark, root, 1L)), spec)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def timeRecompute(): Double = {
      val t0 = System.nanoTime()
      graft.ops.IncrementalAgg.storedAggregate(
          bucketed(graft.ops.Snapshots.readAt(spark, root, 1L)), spec)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timeDelta(); timeRecompute() // warm both paths
    Seq(
      "changefeed_onekey_window" -> steadyMin(() => timeFeed()),
      "changefeed_files_read" -> opened.length.toDouble,
      "changefeed_files_total" -> 32.0,
      "view_maintain_delta" -> steadyMin(() => timeDelta()),
      "view_recompute_full" -> steadyMin(() => timeRecompute()))
  }

  /** Strategy A/B: the j30 interval-overlap aggregate through
    * ops.IntervalJoin's binned equi-join vs the naive theta-join Spark
    * plans for the raw overlap predicate (BroadcastNestedLoopJoin —
    * |ships|×|windows| comparisons). Same answer; the delta is the
    * candidate-generation strategy. The naive row is the one that
    * blows up quadratically with sf while the binned row tracks
    * overlap density. Not part of `total` (j30 already times the
    * binned spelling end-to-end). */
  private def intervalJoinBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    def ships = graft.core.Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R" && col("l_quantity") <= 2.0)
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("s0"),
        date_add(to_date(col("l_shipdate")), (col("l_quantity") * 7).cast("int")).as("s1"))
    def wins = graft.core.Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("w0"), date_add(to_date(col("o_orderdate")), 6).as("w1"))
    def agg(pairs: org.apache.spark.sql.DataFrame) =
      pairs.groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).as("n_overlaps"))
    def timeOf(f: => org.apache.spark.sql.DataFrame): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(); steadyMin(() => once())
    }
    Seq(
      "interval_join_binned" -> timeOf(agg(
        graft.ops.IntervalJoin.overlap(ships, wins, "s0", "s1", "w0", "w1", binDays = 7))),
      "interval_join_naive" -> timeOf(agg(
        ships.join(wins, col("s0") <= col("w1") && col("w0") <= col("s1")))))
  }

  /** Layout A/B #3: point lookup on a high-cardinality key — parquet
    * split-block bloom filters (sources/Sinks.writeWithBloom) vs the
    * same unsorted layout without them. The key (md5 of event id) spans
    * every row group's min/max, so footer stats prune nothing; the
    * bloom answers definite-absence per group from the footer alone.
    * Dictionary encoding off for both (the bloom's regime is "the
    * dictionary does not fit"). Signal = rows the parquet reader
    * decodes (`*_rows`, recordsRead — positioned reads bypass local-fs
    * bytesRead); wall time included for completeness. Writes untimed;
    * not part of `total`. */
  private def bloomScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_bloom", sfDir)
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    val prevDict = hc.get("parquet.enable.dictionary")
    val keyed = graft.core.Tables.events(spark, sfDir)
      .withColumn("rep", explode(expr("sequence(0, 15)")))
      .select(md5(concat_ws(":", col("event_id"), col("rep"))).as("key"),
        col("user_id"), col("value"))
    try {
      hc.setInt("parquet.block.size", 1 << 20)
      hc.set("parquet.enable.dictionary", "false")
      graft.sources.Sinks.writeWithBloom(keyed, s"$tmp/bloom",
        Map("key" -> 50000L), numFiles = 8)
      keyed.repartition(8).write.mode("overwrite").parquet(s"$tmp/plain")
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prevBlock)
      if (prevDict == null) hc.unset("parquet.enable.dictionary") else hc.set("parquet.enable.dictionary", prevDict)
    }
    val rowsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val needle = md5(concat_ws(":", lit("777"), lit("3")))
    def measuredLookup(dir: String): (Double, Double) = {
      spark.sparkContext.addSparkListener(listener)
      rowsRead.set(0L)
      val t0 = System.nanoTime()
      spark.read.parquet(dir).filter(col("key") === needle)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      (secs, rowsRead.get() / 1e6)
    }
    measuredLookup(s"$tmp/bloom"); measuredLookup(s"$tmp/plain") // warm
    Seq("lookup_bloom_layout", "lookup_plain_layout").map { name =>
      val dir = if (name.contains("bloom")) s"$tmp/bloom" else s"$tmp/plain"
      val (secs, mrows) = measuredLookup(dir)
      Seq(name -> secs, s"${name}_mrows" -> mrows)
    }.flatten
  }

  /** Layout A/B #2: linear time-sort vs 2-D z-order vs 3-D z-order
    * (ops/ZOrder) on the same ×16-replicated events, read back with
    * (a) a 1-day time predicate, (b) a narrow user predicate (~1% of
    * ids), and (c) an event-type predicate (the 3rd clustered dim).
    * The linear layout wins (a) outright and prunes NOTHING on (b) or
    * (c); the 2-D z layout prunes (a)+(b) at √selectivity each and
    * nothing on (c); the 3-D layout prunes all three at ∛ — the
    * documented trade, measured in scanned bytes. Same 1 MB row groups
    * as [[sortedScanBench]]; writes untimed; not part of `total`. */
  /** Bucketed co-located join A/B — the write-once/join-forever lever:
    * both fact sides stored bucketed+sorted by the join key
    * (Sinks.writeBucketed), so the repeated orderkey join runs with NO
    * exchange and NO sort on either side (SinksSpec pins the plan;
    * this section prices it). The shuffle twin reads the same columns
    * from plain parquet and pays the two-sided exchange every run. At
    * 100 TB the bucketed side's win is the whole shuffle fabric cost of
    * the larger table per downstream join; locally the delta is modest
    * but must not invert. Broadcast is disabled for BOTH cells (the
    * orders side fits local broadcast at small sf, which would measure
    * a different strategy, not the layout).  */
  private def bucketedJoinBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = graft.core.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.sources.Sinks.writeBucketed(li, "bench_li_bkt", "l_orderkey", 16,
      sortCols = Seq("l_orderkey"))
    graft.sources.Sinks.writeBucketed(ord, "bench_ord_bkt", "o_orderkey", 16,
      sortCols = Seq("o_orderkey"))
    val tmp = graft.core.Scratch.dir("bench_bktjoin", sfDir)
    li.repartition(16).write.mode("overwrite").parquet(s"$tmp/li")
    ord.repartition(16).write.mode("overwrite").parquet(s"$tmp/ord")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def revenue(l: org.apache.spark.sql.DataFrame,
          o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
            count(lit(1)).as("n"))
      def run(bucketed: Boolean): Double = {
        val t0 = System.nanoTime()
        val out =
          if (bucketed) revenue(spark.table("bench_li_bkt"), spark.table("bench_ord_bkt"))
          else revenue(spark.read.parquet(s"$tmp/li"), spark.read.parquet(s"$tmp/ord"))
        out.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run(bucketed = true); run(bucketed = false) // warm listings + codegen
      Seq(
        "join_orderkey_bucketed" -> steadyMin(() => run(bucketed = true)),
        "join_orderkey_shuffle" -> steadyMin(() => run(bucketed = false)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bench_li_bkt")
      spark.sql("DROP TABLE IF EXISTS bench_ord_bkt")
    }
  }

  private def zorderScanBench(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val tmp = graft.core.Scratch.dir("bench_zorder", sfDir)
    withReplicatedEvents(spark, sfDir) { base =>
      val events = base.withColumn("t", unix_timestamp(col("ts")))
        // domain dim: 60-bit md5 of event_type mod 1024 (ZOrder.bucket's
        // pre-scaling contract) — clusters by type, so the min/max stats
        // of the event_type STRING column prune too
        .withColumn("dh", expr(graft.queries.Shingles.h60("event_type")) % 1024)
      graft.sources.Sinks.writeSortedBy(events, s"$tmp/linear", Seq("t"), numFiles = 8)
      graft.ops.ZOrder.writeZOrderedBy(events, s"$tmp/zorder", "t", "user_id", numFiles = 8)
      graft.ops.ZOrder.writeZOrdered3By(events, s"$tmp/zorder3", "t", "user_id", "dh",
        numFiles = 8)
      graft.ops.HilbertOrder.writeHilbertOrderedBy(events, s"$tmp/hilbert", "t", "user_id",
        numFiles = 8)
      graft.ops.HilbertOrder.writeHilbert3OrderedBy(events, s"$tmp/hilbert3",
        "t", "user_id", "dh", numFiles = 8)
    }
    // At local scale 32 cores decode this whole table in ~0.15s and the
    // page cache is warm right after the writes, so WALL TIME cannot
    // separate the layouts — the quantity row-group pruning actually
    // changes, and the one that matters at 100 TB, is BYTES READ
    // (pruned groups are never fetched). Each read therefore reports a
    // (seconds, scanned-MB) pair; the *_mb entries carry the layout
    // signal.
    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    def measuredRead(dir: String, pred: org.apache.spark.sql.Column): (Double, Double) = {
      spark.sparkContext.addSparkListener(listener)
      bytesRead.set(0L)
      val t0 = System.nanoTime()
      spark.read.parquet(dir).filter(pred)
        .write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      (secs, bytesRead.get() / 1e6)
    }
    val tPred = col("t").between(
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime / 1000,
      java.sql.Timestamp.valueOf("2024-01-11 00:00:00").getTime / 1000)
    val uPred = col("user_id").between(100, 115)
    val ePred = col("event_type") === "purchase"
    val cases = Seq(
      ("scan_time_linear_layout", s"$tmp/linear", tPred),
      ("scan_time_zorder_layout", s"$tmp/zorder", tPred),
      ("scan_time_zorder3_layout", s"$tmp/zorder3", tPred),
      ("scan_time_hilbert_layout", s"$tmp/hilbert", tPred),
      ("scan_time_hilbert3_layout", s"$tmp/hilbert3", tPred),
      ("scan_user_linear_layout", s"$tmp/linear", uPred),
      ("scan_user_zorder_layout", s"$tmp/zorder", uPred),
      ("scan_user_zorder3_layout", s"$tmp/zorder3", uPred),
      ("scan_user_hilbert_layout", s"$tmp/hilbert", uPred),
      ("scan_user_hilbert3_layout", s"$tmp/hilbert3", uPred),
      ("scan_etype_linear_layout", s"$tmp/linear", ePred),
      ("scan_etype_zorder_layout", s"$tmp/zorder", ePred),
      ("scan_etype_zorder3_layout", s"$tmp/zorder3", ePred),
      ("scan_etype_hilbert_layout", s"$tmp/hilbert", ePred),
      ("scan_etype_hilbert3_layout", s"$tmp/hilbert3", ePred))
    cases.foreach { case (_, d, p) => measuredRead(d, p) } // warm all paths
    cases.flatMap { case (name, d, p) =>
      val (secs, mb) = measuredRead(d, p)
      Seq(name -> secs, s"${name}_mb" -> mb)
    }
  }
}
