"""Physical-plan regression tests: the optimizations the engine relies
on at scale must be visible in the executed plan — predicate pushdown
reaching the parquet scan, dimension joins broadcasting, pixel kernels
staying inside whole-stage codegen, and no cartesian products sneaking
into the dedup/ANN candidate generation.
"""

from __future__ import annotations

import pytest

from bdc_collection_builder_spark.plans.registry import (
    QUERY_REGISTRY,
    all_queries,
)


@pytest.fixture(scope="module", autouse=True)
def _load():
    all_queries()


def plan_of(spark, name, sf_dir) -> str:
    df = QUERY_REGISTRY[name].spark_fn(spark, sf_dir)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_search_predicates_reach_scan(spark, sf_dir):
    plan = plan_of(spark, "s01_remote_search_pushdown", sf_dir)
    assert "PushedFilters:" in plan
    assert "o_orderstatus" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_scan_prunes_columns(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 6 needed columns, not all 16 of lineitem
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("j06_fk_broadcast_lookup", "j01_three_way_status_counts",
                 "f06_skip_published"):
        plan = plan_of(spark, name, sf_dir)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_pixel_kernel_stays_jvm_side(spark, sf_dir):
    plan = plan_of(spark, "px_x9_band_expression_ndvi", sf_dir)
    # formatted mode marks whole-stage-codegen'd operators with '*'
    assert "* Project" in plan or "* Filter" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Python in the pixel hot path: {marker}"


def test_no_cartesian_in_candidate_generation(spark, sf_dir):
    for name in ("dd_minhash_lsh_pairs", "dd_simhash_pairs", "ss_lsh_topk",
                 "dd_embedding_near_pairs", "j10_spatial_grid_join"):
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_plan_lint_every_query(spark, sf_dir):
    """Sweep EVERY registered query's physical plan for 100 TB
    red-flags: cartesian products, single-partition exchanges (global
    sorts / partition-less windows), and broadcast-nested-loop joins.
    BNLJ is allowed only where the build side is a one-row scalar
    attach (count/centroid/share dimensions) or the documented
    brute-force baseline — anything new must be justified here."""
    from bdc_collection_builder_spark.plans.registry import all_queries

    bnlj_allowed = {
        "ss_brute_force_topk",   # by design: broadcast query set × corpus
        "ss_ivf_topk",           # one-row centroid-array attach
        "ss_pq_topk",            # one-row codebook attach + 8-query ADC scan
        "tx_unigram_logprob",    # one-row vocab-total attach
        "tx_tfidf_topk",         # one-row corpus-size attach
        "cu_token_budget_mix",   # one-row source-share attach
        "ss_ivfpq_topk",         # one-row centroid+codebook attaches
        "cu_dsir_weights",       # one-row vocab-total attach
        "tx_ccnet_buckets",      # one-row vocab-total attach
        "cu_dsir_resample",      # one-row vocab-total attach
        "tx_bigram_logprob",     # one-row vocab-size attach
        "tx_kneser_ney_bigram",  # one-row bigram-type-total attach
        "tk_unigram_viterbi",    # one-row vocab-mass attach
        "ss_pca_power_iteration",  # one-row direction-vector attach
        "tk_bpe_merge_round",    # one-row chosen-merge attach
        "tk_bpe_train_rounds",   # one-row chosen-merge attach per round
        "ss_whiten_remove_pc",   # one-row direction-vector attach
        "mm_perceptual_hash_pairs",  # 4-row hash-table pair join
        "cu_semdedup_threshold_curve",  # one-row centroid-array attach
        "a19_price_histogram",   # one-row min/max-bounds attach
        "dd_semantic_dedup",     # one-row centroid-array attach
        "ss_kmeans_assign",      # one-row centroid-array attach per round
        "cu_temperature_mix",    # one-row mixture-normalizer attach
        "cu_epoch_repeat_plan",  # one-row corpus-total attach
        "ss_hard_negative_mining",  # by design: broadcast batch × corpus
        "ss_mmr_diversified_topk",  # by design: broadcast queries × corpus
        "tk_vocab_coverage_oov",    # one-row corpus-total attach
        "ss_ivf_recall_eval",    # eval protocol: brute-force ground truth
        "gr_hits_hubs_authorities",  # one-row L2-normalizer attaches
        "cu_filter_funnel",      # one-row corpus-total attach (pct)
        "j21_dormant_high_balance",  # one-row avg-balance-threshold attach
        "j27_top_supplier",      # one-row global-max-revenue attach
        "ss_ivf_probe_recall_curve",  # eval protocol: brute-force truth
        "ss_kmeans_train_rounds",  # k-row centroid attach per round
        "ss_ndcg_eval",          # eval protocol: brute-force truth
        "dq_cardinality_drift",  # one-row x one-row slice summary join
        "tk_viterbi_em_counts",  # one-row vocab-total + count-total attach
        "ss_knn_label_accuracy",  # eval protocol: brute-force neighbors
        "dq_mutual_information",  # one-row total / moment attaches
        "j32_important_part_value",  # one-row global-value-total attach
        "j35_idle_rich_customers",   # one-row avg-balance-threshold attach
        "dq_t_closeness",        # one-row corpus-total attach
        "lo_dynamic_partition_pruning",  # one-row error-total attach
                                         # on the DIM side (days-sized)
    }
    offenders = {}
    for name, fn in all_queries().items():
        plan = spark._jvm.PythonSQLUtils.explainString(
            fn(spark, sf_dir)._jdf.queryExecution(), "formatted")
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "Exchange SinglePartition" in plan:
            flags.append("single-partition-exchange")
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_allowed:
            flags.append("bnlj")
        if flags:
            offenders[name] = flags
    assert not offenders, f"scale red-flags: {offenders}"


def test_geometry_queries_stay_jvm_side(spark, sf_dir):
    """The exact-geometry predicate/accessor suite must run entirely in
    whole-stage codegen — no Python eval anywhere (that's the point of
    expressing it as higher-order functions instead of a shapely UDF)."""
    for name in ("x17_polygon_intersects", "x17b_geometry_accessors",
                 "j10_spatial_grid_join"):
        plan = plan_of(spark, name, sf_dir)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, f"{name}: Python in plan: {marker}"


def test_vocabulary_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, "tx_vocabulary_topk", sf_dir)
    # top-k must be TakeOrdered (per-partition heaps), never a full sort
    assert "TakeOrderedAndProject" in plan
    # the count aggregate is map-side combined before its one shuffle
    assert plan.count("Arguments: hashpartitioning") == 1


def test_curation_has_single_wide_stage(spark, sf_dir):
    plan = plan_of(spark, "tx_corpus_curation", sf_dir)
    # dedup group-by is the only shuffle; language/quality scalars fuse
    # into the scan side (no extra exchange, no Python)
    assert plan.count("Arguments: hashpartitioning") <= 2  # agg + join key
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_single_shuffle_aggregate(spark, sf_dir):
    plan = plan_of(spark, "q1_pricing_summary", sf_dir)
    n_exchanges = plan.count("Arguments: hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}"


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.sources.tables import (
        load_table,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", ["o_orderkey"], n_buckets=8)
    try:
        joined = (
            spark.table("b_orders").hint("merge")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan
        assert "Arguments: hashpartitioning" not in plan, \
            "bucketed join must not shuffle"
        # result parity with the unbucketed plan
        want = (
            orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                "o_orderkey")
            .groupBy("o_orderkey").agg(F.sum("l_quantity").alias("q"))
        )
        assert joined.orderBy("o_orderkey").limit(50).collect() == \
            want.orderBy("o_orderkey").limit(50).collect()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_bucketed_reclaims_orphan_of_mixed_case_name(spark, sf_dir):
    """An interrupted session can leave a managed table's directory
    behind with no catalog entry. Spark stores managed tables under
    the LOWERCASED name, so a mixed-case table name must clean up the
    lowercase directory, or saveAsTable fails with
    LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    from bdc_collection_builder_spark.sources.tables import (
        load_table,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    name = "B_Orphan_Orders"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    orphan = os.path.join(wh, name.lower())
    os.makedirs(orphan, exist_ok=True)
    open(os.path.join(orphan, "part-00000.parquet"), "w").close()
    try:
        write_bucketed(orders, name, ["o_orderkey"], n_buckets=4)
        # and again over the live table, whose location the catalog
        # reports
        write_bucketed(orders, name, ["o_orderkey"], n_buckets=4)
        assert spark.table(name).count() == orders.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_scrub_and_quantize_are_shuffle_free(spark, sf_dir):
    for name in ("tx_pii_scrub", "ss_quantize_int8"):
        plan = plan_of(spark, name, sf_dir)
        assert "Exchange" not in plan, name
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, f"{name}: {marker}"


def test_tfidf_broadcasts_dimension_sides(spark, sf_dir):
    plan = plan_of(spark, "tx_tfidf_topk", sf_dir)
    # idf + corpus-size join back onto tf as broadcasts; the fact side
    # shuffles only for its own aggregations and the per-doc window.
    # The static plan prints the identical tf exchange twice (tf feeds
    # both the join and the df aggregate); AQE's ReuseExchange collapses
    # them at runtime, so 4 here is really 3 executed shuffles.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Arguments: hashpartitioning") <= 4


def test_repetition_stats_stays_jvm_side(spark, sf_dir):
    plan = plan_of(spark, "tx_repetition_stats", sf_dir)
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def tree_of(plan: str) -> str:
    # formatted explain lists every node twice (tree, then details);
    # count structure in the tree section only. Codegen'd nodes carry a
    # leading "*".
    return plan.split("\n\n")[0]


def test_zorder_key_stays_jvm_side(spark, sf_dir):
    plan = plan_of(spark, "lo_zorder_curve", sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "* Project" in tree_of(plan)


def test_compaction_plan_single_window_shuffle(spark, sf_dir):
    tree = tree_of(plan_of(spark, "lo_compaction_plan", sf_dir))
    # one Exchange for the per-partition window; the manifest data never
    # fans out further
    assert tree.count("Exchange") == 1


def test_grouping_sets_single_scan(spark, sf_dir):
    tree = tree_of(plan_of(spark, "a13_grouping_sets", sf_dir))
    # Expand computes both histograms off ONE lineitem scan
    assert tree.count("Scan parquet") == 1
    assert "Expand" in tree


def test_tpch_join_plan_shapes(spark, sf_dir):
    """The Q3/Q5-shaped joins must plan the shapes their docstrings
    claim: top-k as TakeOrderedAndProject (no global sort), dims
    broadcast, date filters pushed to the scans."""
    plan = plan_of(spark, "j12_shipping_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("o_orderdate" in ln or "l_shipdate" in ln for ln in pushed)

    plan5 = plan_of(spark, "j13_regional_supplier_volume", sf_dir)
    assert plan5.count("BroadcastHashJoin") >= 2    # dim chain broadcasts
    assert "CartesianProduct" not in plan5


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """lo_bucketed_join's whole point: after bucketBy(16, key) writes,
    the orders⋈customer sort-merge join runs WITHOUT any Exchange on
    either input — bucket-to-bucket. (The registered query checkpoints
    its result, which hides the join plan, so this test rebuilds the
    join from the bucketed tables it wrote.)"""
    from bdc_collection_builder_spark.plans.registry import QUERY_REGISTRY

    # Run the query once so the bucketed tables exist in this session.
    QUERY_REGISTRY["lo_bucketed_join"].spark_fn(spark, sf_dir).collect()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("bdc_lo_b_orders")
        c = spark.table("bdc_lo_b_customer")
        j = o.join(c, o["o_custkey"] == c["c_custkey"]) \
             .groupBy("c_mktsegment").count()
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    # the ONLY exchange is the final groupBy's (it sits ABOVE the join
    # in the tree) — neither join input shuffles: their partitioning
    # comes from the bucket layout
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree


def test_hive_partitioned_scan_prunes(spark, sf_dir):
    """s30's read path must prune at file-listing time: the scan's
    PartitionFilters carries the event_type predicate, and no pushed
    data filter re-checks it."""
    from bdc_collection_builder_spark.plans.registry import QUERY_REGISTRY

    plan = spark._jvm.PythonSQLUtils.explainString(
        QUERY_REGISTRY["s30_hive_partitioned_roundtrip"]
        .spark_fn(spark, sf_dir)._jdf.queryExecution(), "formatted")
    part_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln]
    assert part_lines and any("event_type" in ln for ln in part_lines), plan


def test_doc_counts_match_registry():
    """VERDICT-r4 What's-wrong #2: the README's query totals drifted
    once (288/283 vs the registry's 289/284). Pin README.md and
    COVERAGE.md to the live registry so the number can't drift again —
    adding a query without regenerating the docs now fails CI."""
    import os
    import re

    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    n_total = len(QUERY_REGISTRY)
    n_oracle = sum(1 for q in QUERY_REGISTRY.values() if q.oracle)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"(\d+) named queries \((\d+) DuckDB-oracle-checked",
                  readme)
    assert m, "README.md lost its query-registry count sentence"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"README.md says {m.group(1)}/{m.group(2)} but the registry has "
        f"{n_total}/{n_oracle} — update README.md:25")

    coverage = open(os.path.join(root, "COVERAGE.md")).read()
    m = re.search(r"Totals: (\d+) queries, (\d+) oracle-checked", coverage)
    assert m, "COVERAGE.md lost its Totals line"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"COVERAGE.md is stale ({m.group(1)}/{m.group(2)} vs registry "
        f"{n_total}/{n_oracle}) — rerun scripts/gen_coverage.py")


def test_driver_window_rotation_round6():
    """Round-6 window, now HISTORY: the driver ran it (50/50 green in
    CORRECTNESS_r06.json), so the guard checks the recorded window
    matches what VERDICT-r5 ordered — the 49 never-checked oracled
    queries + the st_stream_outer_join re-check — instead of pinning
    the live _DRIVER_PRIORITY (which rotated on to round 7)."""
    import json
    import os

    # The 49 names below are FROZEN: the judge-computed set of oracled
    # queries with no CORRECTNESS_r01-r05 entry, validated against the
    # history files when the rotation landed.
    final_tranche = {
        "a22_group_mode", "cu_dataset_card", "cu_dsir_resample",
        "cu_epoch_repeat_plan", "cu_filter_funnel", "cu_pareto_frontier",
        "cu_reservoir_per_group", "cu_semdedup_threshold_curve",
        "cu_source_budget_selection", "cu_weighted_sample_es",
        "dd_exact_substring_maxlen", "dd_planted_pair_eval",
        "lo_bucketed_join", "mm_audio_rms_frames",
        "mm_perceptual_hash_pairs", "mm_shot_boundaries",
        "s33_constraint_enforced_merge", "sk_join_cardinality",
        "sk_kmv_overlap", "ss_ivf_incremental_upsert",
        "ss_ivf_probe_recall_curve", "ss_mmr_diversified_topk",
        "ss_multiprobe_lsh_topk", "ss_ndcg_eval", "ss_whiten_remove_pc",
        "tj_cusum_changepoint", "tj_seasonal_naive_eval",
        "tk_bpe_merge_round", "tk_unigram_viterbi",
        "tk_vocab_coverage_oov", "tx_bigram_logprob", "tx_c4_line_filter",
        "tx_ccnet_buckets", "tx_flesch_readability",
        "tx_kneser_ney_bigram", "tx_langid_confusion_eval",
        "tx_line_dedup", "tx_ngram_novelty", "tx_rake_word_scores",
        "tx_span_dedup", "tx_token_entropy", "tx_unigram_logprob",
        "w17_event_transition_matrix", "w18_week_over_week_change",
        "w19_rfm_segments", "w20_weekly_churn",
        "x13c_wgs84_to_utm_roundtrip", "x26_geohash_encode",
        "a18b_distinct_rollup_exact",
    }
    assert len(final_tranche) == 49
    window_r6 = final_tranche | {"st_stream_outer_join"}

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r6_path = os.path.join(root, "CORRECTNESS_r06.json")
    if not os.path.exists(r6_path):
        pytest.skip("CORRECTNESS_r06.json not present in this checkout")
    r6 = json.load(open(r6_path))
    assert set(r6.keys()) == window_r6
    checked: set[str] = set()
    for i in range(1, 6):
        path = os.path.join(root, f"CORRECTNESS_r0{i}.json")
        if os.path.exists(path):
            checked |= set(json.load(open(path)).keys())
    if len(checked) < 200:
        pytest.skip("CORRECTNESS history not present in this checkout")
    # the frozen tranche really was never driver-checked before r6, and
    # the only already-checked window entry was the deliberate re-check
    assert not final_tranche & checked
    assert "st_stream_outer_join" in checked


def test_driver_window_rotation_round8():
    """Round-8 window, now HISTORY (the driver ran it — 50/50 green in
    CORRECTNESS_r08.json): the recorded window must be exactly what
    VERDICT-r7 ordered — the 26 round-7 additions plus 24 deliberate
    re-checks (the four round-8 semantic changes among them) — and
    the 26 really were never driver-checked before round 8."""
    import json
    import os

    new_26 = {
        "dd_prefix_filter_jaccard", "gr_strongly_connected",
        "dd_hamming_near_pairs", "sql01_shared_ansi_text",
        "lo_dynamic_partition_pruning", "tj_mann_kendall_trend",
        "tj_runs_test_randomness", "tx_heaps_vocab_growth",
        "tx_simpson_diversity", "tx_word_burstiness",
        "dq_t_closeness", "dq_l_diversity", "dq_mutual_information",
        "a23_copurchase_support", "cu_cluster_size_distribution",
        "gr_clustering_coefficient", "gr_harmonic_centrality",
        "j30_customer_order_distribution", "j31_waiting_supplier_blame",
        "j32_important_part_value", "j35_idle_rich_customers",
        "mm_audio_silence_trim", "px_morph_erode_dilate3x3",
        "s36_erasure_vacuum_horizon", "sk_bloom_fpr_eval",
        "ss_knn_label_accuracy",
    }
    recheck_24 = {
        "j21_dormant_high_balance", "dd_suffix_prefix_overlap",
        "px_blob_labeling", "dd_exact_substring_maxlen",
        "s33_constraint_enforced_merge", "s34_partitioned_evolution_read",
        "s35_erasure_delete_keys", "tj_theil_sen_trend", "tx_zipf_slope",
        "x13b_extent_to_wgs84_exact", "x13c_wgs84_to_utm_roundtrip",
        "st_late_data_audit",
        "s27_docker_correction", "s26_incremental_cdf_maintenance",
        "s30_hive_partitioned_roundtrip", "lo_bucketed_join",
        "st_stream_stream_join", "st_incremental_near_dedup",
        "tk_viterbi_em_counts", "tx_kneser_ney_bigram",
        "ss_ivf_probe_recall_curve", "gr_hits_hubs_authorities",
        "w14_rolling_median", "dd_ngram_jaccard_pairs",
    }
    assert len(new_26) == 26 and len(recheck_24) == 24

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r8_path = os.path.join(root, "CORRECTNESS_r08.json")
    if not os.path.exists(r8_path):
        pytest.skip("CORRECTNESS_r08.json not present in this checkout")
    r8 = json.load(open(r8_path))
    assert set(r8.keys()) == new_26 | recheck_24
    checked: set[str] = set()
    for i in range(1, 8):
        path = os.path.join(root, f"CORRECTNESS_r0{i}.json")
        if os.path.exists(path):
            checked |= set(json.load(open(path)).keys())
    if len(checked) < 200:
        pytest.skip("CORRECTNESS history not present in this checkout")
    assert not new_26 & checked, new_26 & checked
    assert recheck_24 <= checked, recheck_24 - checked


def test_driver_window_rotation_round9():
    """Round-9 window, now HISTORY (the driver ran it — 50/50 green in
    CORRECTNESS_r09.json): the recorded window must be exactly what
    VERDICT-r8 ordered — the 7 round-9-pool queries (never
    driver-checked before round 9) plus 43 deliberate re-checks (all
    42 round-1-only oracled rows + the float-risk r2 pixel path
    px_x10_quicklook_radiometry). Landing it made verification debt
    zero: cumulative 335/335 oracled queries driver-checked."""
    import json
    import os

    pool_7 = {
        "st_stream_static_enrich", "dd_edit1_near_pairs",
        "dq_dp_laplace_counts", "sk_ams_f2_estimate",
        "cu_kcenter_coreset", "tj_classical_decomposition",
        "a24_pivot_status_matrix",
    }
    recheck_43 = {
        "px_x10_quicklook_radiometry",
        "mm_decode_features", "mm_frame_sample", "mm_media_dedup",
        "ss_brute_force_topk", "ss_lsh_topk", "ss_ivf_topk",
        "ss_quantize_int8",
        "dd_exact_duplicates", "dd_cluster_components",
        "dd_minhash_lsh_md5", "dd_simhash_md5",
        "cu_hash_split", "cu_stratified_sample", "cu_seeded_shuffle",
        "cu_decontaminate", "cu_token_budget_mix",
        "tx_text_stats", "tx_quality_score", "tx_language_id",
        "tx_fingerprint", "tx_pii_scrub", "tx_repetition_stats",
        "tx_chunk_documents", "tx_tfidf_topk", "tx_vocabulary_topk",
        "tx_corpus_curation",
        "a01_status_histogram", "a02_daily_status_histogram",
        "a03_latest_attempt_per_scene", "a04_distinct_collections",
        "a05_missing_per_collection", "a07_result_count",
        "a08_band_min_max", "a09_rollup_hierarchy",
        "a10_cube_cross_totals", "a12_group_percentiles",
        "a13_grouping_sets",
        "f01_cloud_cover_filter", "f02_bbox_intersects",
        "f03_temporal_overlap", "f04_restart_filters",
        "q1_pricing_summary",
    }
    assert len(pool_7) == 7 and len(recheck_43) == 43

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r9_path = os.path.join(root, "CORRECTNESS_r09.json")
    if not os.path.exists(r9_path):
        pytest.skip("CORRECTNESS_r09.json not present in this checkout")
    r9 = json.load(open(r9_path))
    assert set(r9.keys()) == pool_7 | recheck_43
    checked: set[str] = set()
    for i in range(1, 9):
        path = os.path.join(root, f"CORRECTNESS_r0{i}.json")
        if os.path.exists(path):
            checked |= set(json.load(open(path)).keys())
    if len(checked) < 200:
        pytest.skip("CORRECTNESS history not present in this checkout")
    assert not pool_7 & checked, pool_7 & checked
    assert recheck_43 <= checked, recheck_43 - checked


def test_driver_window_rotation_round10():
    """VERDICT-r9 task 1: round 10's driver window is ALL re-checks
    (the registry froze at 340; round 9 cleared the last
    never-driver-checked queries). It must be exactly the 18
    remaining round-2 rows followed by 32 of the 46 round-3 rows,
    drift-risk ordered (codec/stage s-block first). Fails if anyone
    perturbs the rotation before the driver runs it. Done => every
    oracled query's newest green driver row is <= 7 rounds old."""
    import json
    import os

    from bdc_collection_builder_spark.plans.registry import (
        _DRIVER_PRIORITY,
        QUERY_REGISTRY,
        all_queries,
    )

    ordered = list(all_queries())
    assert len(_DRIVER_PRIORITY) == 50
    assert len(set(_DRIVER_PRIORITY)) == 50, "duplicate window entries"
    # the driver checks the FIRST 50 entries of queries() — the
    # priority list must actually lead the registration order
    assert tuple(ordered[:50]) == _DRIVER_PRIORITY
    unregistered = [n for n in _DRIVER_PRIORITY if n not in QUERY_REGISTRY]
    assert not unregistered, unregistered
    # every entry must be oracled (rows-only entries waste a slot on a
    # guaranteed err:no_oracle row)
    rows_only = [n for n in _DRIVER_PRIORITY
                 if not QUERY_REGISTRY[n].oracle]
    assert not rows_only, rows_only

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    history: dict[str, int] = {}
    for i in range(1, 10):
        path = os.path.join(root, f"CORRECTNESS_r0{i}.json")
        if os.path.exists(path):
            for name, row in json.load(open(path)).items():
                if isinstance(row, dict) and row.get("err"):
                    continue
                history[name] = max(history.get(name, 0), i)
    if len(history) < 200:
        pytest.skip("CORRECTNESS history not present in this checkout")
    # the leading 18 are EXACTLY the oracled queries whose newest
    # green row is round 2 (the pool enumerated when round 9 chose
    # px_x10 over them)
    r2_rows = {n for n, r in history.items()
               if r == 2 and n in QUERY_REGISTRY
               and QUERY_REGISTRY[n].oracle}
    assert set(_DRIVER_PRIORITY[:18]) == r2_rows, (
        set(_DRIVER_PRIORITY[:18]) ^ r2_rows)
    # the 32 fills all come from the round-3 block (the next-oldest
    # rows); the 14 left out are enumerated in the registry comment
    # as the round-11 fill pool
    for name in _DRIVER_PRIORITY[18:]:
        assert history.get(name) == 3, (name, history.get(name))
    r3_rows = {n for n, r in history.items()
               if r == 3 and n in QUERY_REGISTRY
               and QUERY_REGISTRY[n].oracle}
    assert set(_DRIVER_PRIORITY[18:]) <= r3_rows
    leftover = r3_rows - set(_DRIVER_PRIORITY)
    assert len(r3_rows) == 46 and len(leftover) == 14, (
        len(r3_rows), sorted(leftover))
    # nothing older than the window remains: no oracled query's
    # newest green row predates round 2. Queries with NO history row
    # are the round-10 registrations (VERDICT-r9 task 6) — they join
    # the round-11 driver pool, not this window.
    oracled = {n for n, q in QUERY_REGISTRY.items() if q.oracle}
    stale = {n for n in oracled if n in history and history[n] < 2}
    assert not stale, stale
    never = oracled - set(history)
    assert never <= {"j36_min_cost_supplier", "ss_ivf_delete_erasure"}, (
        never)


@pytest.mark.slow  # >8s e2e pin: round-close gate (--runslow)
def test_oracles_nonvacuous_at_sf0_01():
    """VERDICT-r7 task 5: every oracled query must return >= 1 row at
    sf0.01 unless allowlisted here with a reason — a green hash-match
    on an EMPTY result proves almost nothing, and round 8's sweep
    found three such silent vacuums (j21's no-orders predicate that
    no customer satisfies, dd_suffix_prefix_overlap's misaligned
    32-char anchor that could never match its own planted pairs, and
    px_blob_labeling's threshold above the synthetic band's value
    range). The check runs the DuckDB side only: the oracle gate
    already pins Spark == DuckDB value-for-value, so one engine's
    row count is both engines' row count."""
    import os

    import duckdb

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 testdata not present")
    # name -> reason; empty on purpose after the round-8 de-vacuous
    # sweep. Adding an entry REQUIRES a reason string.
    allow: dict[str, str] = {}
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    empties = []
    for name, q in QUERY_REGISTRY.items():
        if not q.oracle or name in allow:
            continue
        n = con.execute(
            f"SELECT count(*) FROM ({q.oracle})").fetchone()[0]
        if n == 0:
            empties.append(name)
    assert not empties, (
        f"oracled queries with EMPTY results at sf0.01 (vacuous "
        f"green — fix the query or allowlist with a reason): {empties}")


def test_planmap_rounds_column_explicit(tmp_path):
    """VERDICT-r6 task 5: PLANMAP's `rounds` column must be
    machine-parseable — an explicit integer in every non-stream row
    (0 for non-iterative queries, never a blank cell), and every query
    known to run construction-time iteration (iterate() relaxations,
    binary lifting, BPE/EM training rounds, contraction passes) must
    report rounds >= 1."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "PLANMAP.md")).read()
    rounds: dict[str, str] = {}
    for line in text.splitlines():
        m = re.match(r"\| `(\w+)` \| ([^|]*) \| ([^|]*) \|", line)
        if m:
            name, shuffles, r = m.group(1), m.group(2).strip(), \
                m.group(3).strip()
            if shuffles == "stream":
                continue  # streaming drains aren't fingerprinted
            rounds[name] = r
    assert len(rounds) > 250, "PLANMAP.md table not parsed"
    blanks = [n for n, r in rounds.items() if not r.isdigit()]
    assert not blanks, f"non-integer rounds cells: {blanks[:10]}"

    # queries whose construction runs iterate() loops (relaxations,
    # BPE training, connected-components star contraction, label
    # propagation, SCC frontiers) or notes its one eager pass
    # (Viterbi-EM). dd_exact_substring_maxlen left this set in
    # round 8: its registered engine is now the ONE-PASS sorted-
    # neighbor-LCP path (rounds=0 is correct); the binary-lifting
    # engine it replaced stays covered by its equivalence test.
    iterative = {
        "dd_cluster_components", "dd_cluster_components_star",
        "dd_survivorship",
        "gr_bfs_distance", "gr_dag_layering", "gr_kcore_peeling",
        "gr_label_propagation", "gr_pagerank",
        "gr_personalized_pagerank", "gr_strongly_connected",
        "px_blob_labeling",
        "tk_bpe_train_rounds", "tk_viterbi_em_counts",
    }
    missing = {n for n in iterative if n not in rounds}
    assert not missing, missing
    zeroed = {n for n in iterative if int(rounds[n]) < 1}
    assert not zeroed, f"iterative queries reporting rounds=0: {zeroed}"


def test_dpp_plan_prunes_partitions(spark, sf_dir):
    """lo_dynamic_partition_pruning: the fact scan's PartitionFilters
    must carry a runtime `dynamicpruning` subquery on the partition
    column `day` — proving the hot-day predicate (computed from data,
    unknowable at plan time) reaches the file listing, not just a
    post-scan filter."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    plan = spark._jvm.PythonSQLUtils.explainString(
        QUERY_REGISTRY["lo_dynamic_partition_pruning"]
        .spark_fn(spark, sf_dir)._jdf.queryExecution(), "formatted")
    part_lines = [ln for ln in plan.splitlines()
                  if "PartitionFilters" in ln]
    assert part_lines, plan
    assert any("dynamicpruning" in ln and "day" in ln
               for ln in part_lines), plan
