"""Plan-level regression guard for the continuation-session queries.

Asserts the physical plans contain no CartesianProduct (the unbounded
cross product — BroadcastNestedLoopJoin over 1-row literal anchors and
tiny generator frames is the accepted pattern and is NOT flagged) and
no row-at-a-time Python evaluation (BatchEvalPython) — the two plan
shapes that do not survive a 100x scale-up. tools/plan_audit.py writes
the full headline audit to PLANS.md; this test pins the invariant in
CI for the queries added in this session.

The Luby guards at the end pin the job count of luby_coloring and its
agreement with the DuckDB replay over a grid of round budgets.
"""

from __future__ import annotations

import os
import re

import pytest

from social_link_prediction_spark import queries as q

SF_DIR = "/root/testdata/sf0.001"

NEW_QUERIES = [
    "katz_suppliers",
    "triangle_doulion",
    "frequent_itemsets_pairs",
    "revenue_concentration_gini",
    "mutual_information_priority_segment",
    "feature_scaling_audit",
    "neyman_allocation_sample",
    "l_diversity_audit",
    "multitouch_attribution",
    "ivf_silhouette_audit",
    "poisson_bootstrap_mean",
    "seasonal_residual_anomalies",
    "item_item_cosine_topk",
    "join_size_estimate",
    "information_gain_features",
    "conversion_latency_stats",
    "cf_recommend_parts_c1",
]

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


# round-5 additions (non-mapInPandas paths only: media_video_features
# is Arrow-batched by design and would trip neither assert anyway)
R5_QUERIES = [
    "trajectory_minhash_topk",
    "graph_build_weights",
    "year_feature_audit",
    "feature_assembly_audit",
    "six_degrees_summary",
    "hll_daily_users",
    "skyline_parts",
    "ols_revenue_trend",
    "cusum_changepoint",
    "table_fingerprint_audit",
    "weighted_median_price",
    "ab_test_zscore",
    "join_ivm_nation_orders",
    "temperature_mixture_langs",
    "kaplan_meier_conversion",
    "kmeans_embeddings",
    "markov_stationary_events",
    # r5 continuation: stats/corpus/graph/ANN batches
    "ewma_control_chart",
    "ks_test_price_segments",
    "chi2_priority_segment",
    "t_closeness_audit",
    "association_rules_items",
    "collocation_pmi_bigrams",
    "heaps_law_vocab",
    "theil_sen_revenue_trend",
    "rich_club_suppliers",
    "reciprocity_suppliers",
    "ann_recall_audit",
    "calibration_reliability_bins",
    "fdr_bh_nation_anomalies",
    "forecast_backtest_daily",
    # r5 second continuation: time-series, inference, causal,
    # LLM-curation, graph batches
    "acf_daily_events",
    "jackknife_nation_ratio",
    "zorder_layout_audit",
    "grid_dbscan_parts",
    "mann_whitney_price_segments",
    "spearman_size_price",
    "stl_decompose_daily",
    "mann_kendall_revenue_trend",
    "conformal_forecast_intervals",
    "rfm_segments",
    "isotonic_calibration_bins",
    "shapley_attribution_channels",
    "anova_price_segments",
    "covariate_balance_smd",
    "cuped_variance_reduction",
    "diff_in_diff_event_rates",
    "dsir_importance_weights",
    "ccnet_perplexity_buckets",
    "ab_test_power_mde",
    "anf_neighborhood_function",
    "scan_structural_similarity",
    "median_ci_binomial",
    "trimmed_winsorized_price",
    "frequent_event_paths",
    "cmh_test_priority_status",
    "overdispersion_event_counts",
    "hurst_exponent_daily",
    "entropy_rate_events",
    "linkpred_heuristic_eval",
    "attribute_assortativity_nation",
    "triangle_significance_null",
    "logrank_test_cohorts",
    "embedding_drift_by_label",
    "rolling_median_daily",
    "information_value_acctbal",
    "zipf_law_tokens",
    "stratified_ate_estimate",
    "seasonality_strength_daily",
    "matryoshka_truncation_audit",
    "delta_method_ratio_se",
    "msprt_ab_monitor",
    "cohort_ltv_curves",
    "token_burstiness_top",
    "huber_revenue_trend",
    "qini_uplift_deciles",
    "simpsons_paradox_screen",
    "interarrival_burstiness_users",
    "hour_of_day_uniformity",
    "clustering_by_degree",
    "brier_decomposition",
    "kendall_tau_binned",
    "langid_confusion_matrix",
    "cross_source_overlap",
    "negbinom_fit_events",
    "decile_lift_table",
    "icc_nation_totalprice",
    "capture_recapture_users",
    "mcnemar_model_compare",
    "cohens_kappa_langid",
    "pr_curve_score",
    "component_size_distribution",
    "hubness_audit_embeddings",
    "dau_mau_stickiness",
    "auc_exact_score",
    "ks_score_separation",
    "lorenz_curve_revenue",
    "hhi_market_concentration",
    "percolation_hub_removal",
    "embedding_isotropy_audit",
    "extreme_value_daily_peaks",
    "order_to_ship_latency",
    "growth_accounting_monthly",
    "pps_systematic_sample",
    "spectral_power_weekly",
    "session_threshold_sensitivity",
    "revenue_decomposition_mom",
    "abc_xyz_classification",
    "wilson_interval_priorities",
    "eb_shrunken_rates_nation",
    "vocab_richness_estimators",
    # round-6 additions
    "bucketed_rank_stats",
    "hyperball_anf_suppliers",
    "ndcg_popularity_baseline",
    "effective_diameter_suppliers",
    "jl_projection_audit",
    "time_decay_attribution",
    "hybrid_rrf_search_docs",
    "bpe_merges_docs",
    "textrank_keywords",
    "holt_forecast_daily",
    "embedding_covariance_spectrum",
    "densest_subgraph_suppliers",
    "containment_neardup_docs",
]

# round-6 second continuation wave
R6C_QUERIES = [
    "runs_test_daily_revenue",
    "hill_tail_index_price",
    "bloom_join_prune_audit",
    "skew_salting_plan",
    "sax_motifs_daily",
    "croston_forecast_urgent",
    "permutation_test_events",
    "salsa_partsupp",
    "wasserstein_price_segments",
    "energy_distance_embeddings",
    "cooks_distance_influence",
    "levene_test_price_segments",
    "bowtie_structure_suppliers",
    "dp_noisy_histogram",
    "page_hinkley_events",
    "image_ahash_neardup",
    "fim_split_audit",
    "span_corruption_plan",
    "kruskal_wallis_price_segments",
    "seasonal_mann_kendall_revenue",
    "pacf_daily_events",
    "weibull_fit_latency",
    "matrix_profile_daily",
    "watermark_lateness_audit",
    "price_elasticity_by_type",
    "quantile_treatment_effects",
    "hll_precision_sweep",
    "null_rate_drift_audit",
    "graph_deanonymization_risk",
    "crosscorr_purchase_click",
    "minhash_accuracy_audit",
    "write_partition_skew_audit",
    "otsu_quality_threshold",
    "safety_stock_by_brand",
    "longest_contamination_run",
    "markov_next_event_accuracy",
    "median_polish_weekday_month",
    "rmst_conversion",
    "randomized_response_estimate",
    "approx_percentile_accuracy_sweep",
    "peak_detection_daily",
    "dedup_state_ttl_audit",
    "bradley_terry_source_ranking",
    "encoding_advisor_orders",
    "twoway_anova_interaction",
    "mediation_priority_quantity",
    "kendall_w_nation_rankings",
    "granger_click_purchase",
    "best_split_changepoint",
    "variance_ratio_test",
    "qn_scale_daily",
    "theil_index_decomposition",
    "ipf_raking_weights",
    "burrows_delta_sources",
    "avg_neighbor_degree_curve",
]


# round-6 third wave: recursion-shaped graph ops, exact combinatorial
# inference on the shared-lgamma text, sketch/encoding/packing planners
R6D_QUERIES = [
    "eigenvector_centrality_suppliers",
    "hierarchy_rollup_parts",
    "temporal_reach_suppliers",
    "fisher_exact_priority_status",
    "bayes_ab_conversion",
    "ams_f2_tokens",
    "target_encoding_oof",
    "adstock_ols_events",
    "compaction_packing_plan",
    "mst_nation_trade",
    "independent_cascade_spread",
    "cox_ph_conversion",
    "kneser_ney_bigram_docs",
    "platt_calibration_scores",
    "sbg_churn_fit",
    "ql_dirichlet_search_docs",
    "good_turing_counts",
    "ips_policy_eval",
    "hierarchical_forecast_reconciliation",
    "em_gaussian_mixture_price",
    "gamma_gamma_spend_fit",
    "fellegi_sunter_em",
    "competing_risks_cif",
    "fiedler_scores_suppliers",
    "panel_fe_elasticity",
    "rolling_7d_hll_users",
    "stupid_backoff_trigram_docs",
    "psm_att_building",
    "markov_absorption_funnel",
    "youden_f1_threshold",
    "holt_winters_weekly",
    "fairness_audit_scores",
    "selectivity_independence_audit",
    "minmax_pruning_audit",
    "view_advisor_greedy",
    "knn_shapley_valuation",
    "glm_poisson_orders",
    "mmd_embeddings",
    "erlang_c_staffing",
    "partial_correlation_screen",
    "ransac_line_fit",
]


@needs_testdata
@pytest.mark.parametrize(
    "name", NEW_QUERIES + R5_QUERIES + R6C_QUERIES + R6D_QUERIES
)
def test_no_cartesian_or_python_rowloop(spark, name):
    df = q.QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: unbounded cross product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_sampled_graph_generator_isolated():
    """VERDICT r5 item 4: the N² crossJoin+hash testdata edge
    generator must live ONLY in graph/testgraph.py — query bodies get
    their sampled graph through tg.sampled_edges (so a production
    deployment swaps one source function, not ~16 inlined devices).
    Guard: no query body pair-expands a corpus table against itself
    with the hash-filter device."""
    import social_link_prediction_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            if path.endswith(os.path.join("graph", "testgraph.py")):
                continue
            src = open(path).read()
            # the device signature: the PYSPARK hash-threshold filter
            # over the "src-dst" pair string (oracle SQL strings also
            # carry the device — DuckDB must replay it — so match the
            # DataFrame-expression form only)
            if re.search(
                r'hash60\(F\.format_string\("%d-%d", "src", "dst"\),'
                r' F\.lit\([^)]*\)\)\s*\n?\s*%\s*10000',
                src,
            ):
                offenders.append(os.path.relpath(path, root))
    assert not offenders, f"inlined N² edge generator in: {offenders}"


@needs_testdata
def test_mixture_rebalance_broadcasts_report_join(spark):
    """VERDICT r4 item 3: the 5x5 plan-vs-kept report join must stay a
    broadcast join — without the hint Spark planned it as a full
    SortMergeJoin with two shuffles (the r4 bench regression)."""
    df = q.QUERIES["mixture_rebalance_langs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, "mixture report join lost its broadcast"
    assert "BroadcastHashJoin" in plan


def test_find_connection_pair_frame_has_no_python_scan(social_graph, monkeypatch):
    """The request's one-row pair frame is JVM literals: a Python-RDD
    scan (ExistingRDD) would start Python worker tasks on every action
    of the request that reads it."""
    from social_link_prediction_spark.application import AnalysisService
    from social_link_prediction_spark.graph import paths as gp

    seen = []
    search = gp.pair_shortest_paths

    def spy(edges, pairs, *args, **kw):
        seen.append(pairs)
        return search(edges, pairs, *args, **kw)

    monkeypatch.setattr(gp, "pair_shortest_paths", spy)
    v, e = social_graph
    assert AnalysisService(v, e).find_connection("Alice", "Bob", max_hops=2)["success"]
    (pairs,) = seen
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert [tuple(r) for r in pairs.collect()] == [("Q1", "Q2")]


def test_fuzzy_lookup_scores_each_candidate_once(social_graph):
    """The WRatio pandas UDF is planned once: the cutoff filter stays
    above the score projection instead of carrying a second copy of
    the UDF below it."""
    from social_link_prediction_spark.search import fuzzy as fz

    v, _ = social_graph
    df = fz.fuzzy_lookup(fz.build_search_index(v), "Alise", scorer="auto")
    assert [r.id for r in df.collect()] == ["Q1"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1


def test_plan_audit_counts_python_nodes_and_rdd_scans(spark):
    from tools.plan_audit import audit

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def counts(df):
        a = audit(df._jdf.queryExecution().explainString(mode))
        return a["python_eval"], a["existing_rdd_scans"]

    rows = spark.createDataFrame([(1, "a")], "id bigint, name string")
    assert counts(rows) == (0, 1)
    assert counts(rows.mapInPandas(lambda it: it, rows.schema)) == (1, 1)
    assert counts(spark.range(3).selectExpr("id * 2 AS x")) == (0, 0)


# The Luby round structure: the coloring stops each color at its last
# round's winners and skips the residual after the last color. Both
# shortcuts must agree with the DuckDB replay at every budget, not only
# at the catalog's (3 colors, 3 rounds).
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def luby_oracle(spark):
    import duckdb

    from social_link_prediction_spark.graph import testgraph as tg

    path = os.path.join(SF01_DIR, "supplier.parquet")
    edges = tg.sampled_edges(tg.supplier_nodes(spark.read.parquet(path)), 400, "mis").persist()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW supplier AS SELECT * FROM '{path}'")
    yield edges, con
    con.close()
    edges.unpersist()


def _same_as_oracle(df, con, sql):
    """Spark frame vs DuckDB query under the correctness gate's value hash."""
    from tools.verify_local import value_hash

    res = con.execute(sql)
    return value_hash(df.columns, [tuple(r) for r in df.collect()]) == value_hash(
        [d[0] for d in res.description], res.fetchall()
    )


@pytest.mark.skipif(not os.path.isdir(SF01_DIR), reason="sf0.01 testdata not present")
@pytest.mark.parametrize("colors,rounds", [(1, 4), (2, 1), (3, 3), (4, 2)])
def test_luby_coloring_matches_oracle_grid(luby_oracle, colors, rounds):
    from social_link_prediction_spark.catalog.c02 import _duck_coloring_sql
    from social_link_prediction_spark.graph import mis as gmis

    edges, con = luby_oracle
    got = gmis.luby_coloring(edges, colors, rounds)
    assert _same_as_oracle(got, con, _duck_coloring_sql(colors, rounds))


@pytest.mark.skipif(not os.path.isdir(SF01_DIR), reason="sf0.01 testdata not present")
@pytest.mark.parametrize("rounds", [1, 3, 8])
def test_mis_matches_oracle_grid(luby_oracle, rounds):
    from social_link_prediction_spark.catalog.c02 import _duck_mis_sql
    from social_link_prediction_spark.graph import mis as gmis

    edges, con = luby_oracle
    got = gmis.maximal_independent_set(edges, rounds)
    assert _same_as_oracle(got, con, _duck_mis_sql(rounds))


def test_luby_coloring_job_count(spark):
    """Per-job overhead sets luby_coloring's cost on small graphs, so
    the job count is the guard: on the benchmark-shaped input (100
    node ids sampled at 50 bp, 2 colors, 1 round each) the call runs
    18 jobs, collect included. Calling the full MIS per color, with
    its per-round bookkeeping, ran 55."""
    from social_link_prediction_spark.graph import mis as gmis
    from social_link_prediction_spark.graph import testgraph as tg

    sc = spark.sparkContext
    edges = tg.sampled_edges(spark.range(1, 101), 50, "und").persist()
    edges.count()
    sc.setJobGroup("luby-job-count", "luby_coloring job count")
    try:
        gmis.luby_coloring(edges, colors=2, rounds_per_color=1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        edges.unpersist()
    jobs = sc.statusTracker().getJobIdsForGroup("luby-job-count")
    assert len(jobs) <= 30


def test_fixpoint_operator_job_counts(spark):
    """Per-job overhead sets the cost of the bounded fixed-point
    operators on small graphs, so each one's job count on a tiny input
    is pinned exactly, collect included: one checkpoint and one change
    test per round, and no job that the shared loop adds."""
    from social_link_prediction_spark.graph import closure as gcl
    from social_link_prediction_spark.graph import motifs as gm
    from social_link_prediction_spark.graph import pagerank as gpr
    from social_link_prediction_spark.graph import scc as gscc
    from social_link_prediction_spark.graph import truss as gt

    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            run().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def edges(rows, schema="src long, dst long"):
        return spark.createDataFrame(rows, schema)

    two_cycles = edges([(5, 6), (6, 5), (1, 2), (2, 1), (6, 1)])
    tail = edges([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    kite = edges([(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    chain = edges([(i + 1, i) for i in range(1, 6)], "child long, parent long")
    path = edges([(i, i + 1) for i in range(8)])
    got = {
        "scc": jobs("fp-scc", lambda: gscc.strongly_connected_components(two_cycles, 3, 2)),
        "k_core": jobs("fp-kcore", lambda: gm.k_core(tail, k=2)),
        "ktruss": jobs("fp-ktruss", lambda: gt.ktruss(kite, k=4)),
        "closure": jobs("fp-closure", lambda: gcl.transitive_closure(chain)),
        "cc": jobs("fp-cc", lambda: gpr.connected_components(path)),
    }
    # ktruss: 21 jobs for its three rounds, then one to collect the
    # last round's checkpoint, which already carries the support
    assert got == {"scc": 139, "k_core": 30, "ktruss": 22, "closure": 33, "cc": 53}


def test_decorated_path_search_job_count(spark):
    """decorated_path_s1's shape: a 3-hop unit-weight search from one
    source over an integer part-supplier graph (both orientations), a
    target picked from the searched table, and its path reconstructed.
    Per-job overhead sets its cost on small graphs, so the job count is
    the guard: the unrolled search and reconstruct run 14 jobs,
    collect included; a per-hop loop with a count and a checkpoint job per
    hop ran 43."""
    from pyspark.sql import functions as F

    from social_link_prediction_spark.graph import paths as gp

    sc = spark.sparkContext
    # 400 parts (ids -1..-400), each supplied by three of 20 suppliers
    fwd = (
        spark.range(400)
        .select(
            (-F.col("id") - 1).alias("src"),
            F.explode(F.array(*[F.col("id") * k % 20 + 1 for k in (1, 7, 13)])).alias("dst"),
        )
        .dropDuplicates()
    )
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.withColumn("w", F.lit(1.0)).persist()
    edges.count()
    sc.setJobGroup("decorated-job-count", "decorated_path search job count")
    try:
        sources = spark.createDataFrame([(2,)], "source long")
        best = gp.multi_source_shortest_paths(edges, sources, weight="w", max_hops=3, directed=True)
        target = (
            best.filter((F.col("dist") == 3.0) & (F.col("id") < 0))
            .agg(F.max("id").alias("id"))
            .filter(F.col("id").isNotNull())
        )
        targets = target.select(F.lit(2).cast("long").alias("source"), "id")
        rows = gp.reconstruct_paths(best, targets, max_hops=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        edges.unpersist()
    assert [len(r.path) for r in rows] == [4]
    jobs = sc.statusTracker().getJobIdsForGroup("decorated-job-count")
    assert len(jobs) <= 20
