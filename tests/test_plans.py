"""Physical-plan assertions (SURVEY §5.4): guard the properties that make
the operators scale — predicate pushdown, broadcast dims, blocked (never
cartesian) pair generation, and no row-at-a-time Python in hot paths.
A perf regression that flips one of these shows up here before it shows up
in BENCH.
"""

from __future__ import annotations

import pytest

from iceberg_classifier_spark.plans.registry import load_all_queries

REGISTRY = load_all_queries()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q6_revenue_change")
    assert "PushedFilters: [" in plan
    # the range predicates must reach the parquet reader, not sit in a Filter
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_star_join_broadcasts_dims(spark, sf_dir):
    for name in ("q5_region_volume", "q7_nation_volume", "q9_product_profit"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join in plan"


def test_pair_generation_is_blocked_no_cartesian(spark, sf_dir):
    """Dedup/similarity candidate generation must never be an unblocked
    cross join (ann_bruteforce is the one deliberate broadcast cross)."""
    for name in (
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "range_join_events",
        "ann_lsh_topk",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"


def test_no_row_python_udfs_in_headline_queries(spark, sf_dir):
    """Hot paths stay JVM-side: no BatchEvalPython (row-at-a-time Python).
    Arrow-batched mapInPandas is allowed where a vectorized kernel beats
    JVM expression trees (multimodal decode, the ANN blocked GEMM)."""
    for name, qd in REGISTRY.items():
        if not qd.headline:
            continue
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF in plan"


def test_headline_queries_use_codegen(spark, sf_dir):
    # under AQE the pre-execution plan is an un-compiled AdaptiveSparkPlan;
    # disable it for the assertion so codegen subtrees are visible statically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q1_pricing_summary", "events_hourly", "band_composites"):
            df = REGISTRY[name].fn(spark, sf_dir)
            s = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "codegen"
            )
            assert "WholeStageCodegen subtrees" in s and "Found 0" not in s, (
                f"{name}: no codegen span"
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_topn_is_take_ordered_not_global_sort(spark, sf_dir):
    """LIMIT-after-ORDER BY compiles to TakeOrderedAndProject (per-partition
    top-N + merge), not a full global sort."""
    plan = plan_of(spark, sf_dir, "q3_top_unshipped")
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    # the 100 TB training side must stream through a broadcast of the tiny
    # eval gram set — a shuffle join here would reshuffle the whole corpus
    plan = plan_of(spark, sf_dir, "decontaminate_8gram")
    assert "BroadcastHashJoin" in plan, "eval gram set not broadcast"


def test_funnel_stages_broadcast_user_frames(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_funnel")
    assert "BroadcastHashJoin" in plan, "per-user stage frames not broadcast"
    assert "CartesianProduct" not in plan


def test_motif_enumeration_is_broadcast(spark, sf_dir):
    """Triangle enumeration must run on the aggregated edge list via
    broadcast joins — never a shuffled join of fact-sized inputs."""
    plan = plan_of(spark, sf_dir, "motif_trade_triangles")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zorder_is_single_aggregation_pass(spark, sf_dir):
    """Morton coding is map-only: exactly one grouping aggregate (the
    bucket report), no joins beyond the tiny min/max broadcast."""
    plan = plan_of(spark, sf_dir, "zorder_cluster")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_quad_motif_stays_broadcast(spark, sf_dir):
    """4-cycle enumeration and both chord anti-probes run on broadcast
    copies of the edge list — motif arity adds broadcast joins, never a
    shuffled or cartesian join (the only nested-loop joins are the
    deliberate 1-row threshold broadcasts)."""
    plan = plan_of(spark, sf_dir, "motif_trade_quads")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_tdigest_sketch_algebra_is_tiny(spark, sf_dir):
    """Fact-sized hash exchanges stay bounded: the per-segment sort rank
    for the sketch plus the histogram-bracket exact side (tiny bucket agg
    + bucket-partitioned rank over only the bracketed buckets — the r4
    replacement for the old global row_number). Sketch algebra itself
    still runs on <=k-row frames; lookups are broadcast, never shuffled
    joins."""
    plan = plan_of(spark, sf_dir, "tdigest_quantile_merge")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_interval_sweep_never_expands(spark, sf_dir):
    """The sweep line must stay O(intervals + days): no Generate (per-day
    interval explosion) and no cartesian; the running sum's single
    partition only ever sees collapsed per-day net rows."""
    plan = plan_of(spark, sf_dir, "interval_inflight_peak")
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan


def test_islands_and_ewma_shuffle_aggregates_not_events(spark, sf_dir):
    """Both per-user series ops are join-free with exactly two right-sized
    exchanges: map-side (user, day) partial aggregation first, so the
    initial shuffle moves day-level rows, then one user_id regroup feeds
    every window."""
    for name in ("user_streak_islands", "ewma_user_activity"):
        plan = plan_of(spark, sf_dir, name)
        assert "Join" not in plan, f"{name}: unexpected join"
        assert plan.count("Exchange hashpartitioning") == 2, f"{name}"
        assert "HashAggregate" in plan, f"{name}: no map-side partial agg"


def test_geo_ops_are_grid_blocked(spark, sf_dir):
    """The radius predicate must ride an equi-join on cell keys — never a
    cartesian/nested-loop pair enumeration (the only broadcast nested loop
    allowed is the deliberate 9-row offset-ring replication)."""
    for name in ("geo_radius_pairs", "geo_cell_hotspots"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), (
            f"{name}: no hash join on grid cells"
        )


def test_single_scan_moment_ops(spark, sf_dir):
    """welch derives its global moments from window functions over the
    tiny pre-aggregate — the fact table is scanned exactly once, with no
    scalar-subquery second scan. rfm_segments (round 5) ranks with the
    range-repartitioned two-phase distributed ntile, whose per-partition
    offset map joins back as a BROADCAST of a #partitions-sized frame —
    so broadcast joins are expected there, but never a sort-merge join
    and never a single-partition WindowExec sort (the plan-guards test
    pins the latter)."""
    plan = plan_of(spark, sf_dir, "welch_ttest_priority")
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2, (
        "welch_ttest_priority: fact table scanned more than once"
    )
    assert "Join" not in plan, "welch_ttest_priority: unexpected join"
    plan = plan_of(spark, sf_dir, "rfm_segments")
    assert "SortMergeJoin" not in plan, (
        "rfm_segments: offset joins must broadcast, not sort-merge"
    )
    assert "CartesianProduct" not in plan


def test_proration_and_pit_join_once(spark, sf_dir):
    """Largest-remainder proration and the PIT lookup are one equi-join
    each (orders⋈lineitem / fact⋈history) plus windows — no cartesian and
    no row-at-a-time Python."""
    for name in ("proration_largest_remainder", "pit_scd2_lookup"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BatchEvalPython" not in plan, f"{name}: row-Python in plan"


def test_snapshot_diff_is_one_outer_join(spark, sf_dir):
    """The reconciliation diff is a single full-outer equi-join on the key
    (bucket checksums need no join at all); both snapshot derivations prune
    to the two columns they read."""
    plan = plan_of(spark, sf_dir, "snapshot_diff_checksum")
    assert plan.count("FullOuter") >= 1
    assert "CartesianProduct" not in plan


def test_association_rules_pair_join_is_blocked(spark, sf_dir):
    """The ante→cons pair enumeration joins on the (user, day) basket key —
    never a cartesian — and the item/total counts broadcast onto the tiny
    pair aggregate."""
    plan = plan_of(spark, sf_dir, "association_rules")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cusum_and_seasonal_are_single_scan_join_free(spark, sf_dir):
    """Both series ops collapse the fact table to a tiny aggregate first
    and derive their global references from windows — one scan, no join."""
    for name in ("cusum_changepoint", "seasonal_dow_index"):
        plan = plan_of(spark, sf_dir, name)
        assert "Join" not in plan, f"{name}: unexpected join"
        assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2, (
            f"{name}: fact table scanned more than once"
        )


def test_phrase_and_vocab_prune_before_shuffle(spark, sf_dir):
    """phrase_search prunes the posting explode to the query terms before
    the adjacency join; vocab_oov_rate probes the corpus against a
    broadcast vocabulary — neither does a cartesian."""
    for name in ("phrase_search", "vocab_oov_rate"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian"
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "vocab_oov_rate")


def test_latest_ops_avoid_quadratic_plans(spark, sf_dir):
    """FIFO matching joins on the part key (never cartesian); OHLC bars
    are a join-free window+aggregate; CDC chunking is map-only until the
    digest aggregate; label separation never enumerates vector pairs."""
    for name in (
        "fifo_inventory_matching",
        "multimodal_cdc_chunk_dedup",
        "embedding_label_separation",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian"
        assert "BatchEvalPython" not in plan, f"{name}: row-Python"
    ohlc = plan_of(spark, sf_dir, "events_ohlc_bars")
    assert "Join" not in ohlc
    assert "Window" in ohlc and "HashAggregate" in ohlc


def test_ngram_jaccard_stop_shingle_cap_bounds_pair_emission(spark, tmp_path):
    """A shingle with document frequency above NGRAM_DF_CAP must emit ZERO
    candidate pairs (df²/2 emission from one hot posting list is the
    100 TB job-killer), while sub-cap shingles still produce their pairs.
    CAP+100 identical docs would emit ~2.2M pairs uncapped; with the cap
    the only surviving pair is the unique near-dup couple."""
    from pyspark.sql import functions as F

    from iceberg_classifier_spark.plans.dedup import NGRAM_DF_CAP
    R = load_all_queries()

    n_hot = NGRAM_DF_CAP + 100
    rows = [(i, "the same hot boilerplate line repeated") for i in range(n_hot)]
    rows += [
        (900000, "unique rare tokens alpha beta gamma delta"),
        (900001, "unique rare tokens alpha beta gamma delta"),
    ]
    df = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("t"))
        .withColumn("n_chars", F.length("text"))
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = R["dedup_ngram_jaccard"].fn(spark, sf).collect()
    assert len(got) == 1, f"expected only the sub-cap pair, got {len(got)} pairs"
    assert (got[0].doc_a, got[0].doc_b) == (900000, 900001)
    assert got[0].jaccard == 1.0


def test_observe_does_not_poison_mllib_arrow_collect(spark, sf_dir):
    """Spark 4's SparkSession.observationManager (a lazy val, not
    java-serializable) must never be initialized on the shared session:
    once it is, any later MLlib model.transform whose captured
    trainingSummary references the session dies with
    NotSerializableException — but only on the Arrow collect path
    (toPandas), which is what the driver's correctness gate uses, so a
    count()-based check cannot catch the regression. observe must run on
    an isolated session clone."""
    R = load_all_queries()

    assert len(R["observe_pipeline_metrics"].fn(spark, sf_dir).toPandas()) == 1
    tta = R["tta_ten_crop_predict"].fn(spark, sf_dir).toPandas()
    assert len(tta) == 1 and int(tta["min_crops"][0]) == 10


def test_curation3_ops_are_map_only_or_single_shuffle(spark, sf_dir):
    """pii_scrub is a pure map (no exchange at all); line_dedup_exact's only
    corpus-sized shuffle is the line-key hash partition; the mix/packing/
    novelty rollups never produce a cartesian or nested-loop join."""
    plan = plan_of(spark, sf_dir, "pii_scrub")
    # map-only corpus rewrite: the single Exchange allowed is the edge sort
    assert plan.count("Exchange") <= 1, "pii_scrub: unexpected shuffle"
    assert "Join" not in plan
    for name in (
        "line_dedup_exact",
        "domain_mix_weights",
        "shingle_novelty_curve",
        "length_bucket_packing",
        "bpe_merge_train",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_packing_and_novelty_broadcast_the_corpus_scalar(spark, sf_dir):
    """The corpus max (doc_id / token count) must ride in as a broadcast
    1-row join, never via a driver collect or a corpus-wide window."""
    for name in ("shingle_novelty_curve", "length_bucket_packing"):
        p = plan_of(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, (
            f"{name}: corpus scalar not broadcast"
        )


def test_analytics4_wave_plan_shapes(spark, sf_dir):
    """The stats wave stays blocked/broadcast: no cartesian or row-Python
    anywhere; PMI's support-filtered pair frame joins the unigram dim
    without a nested loop; the KS ECDF never sorts raw rows globally."""
    for name in (
        "ks_two_sample",
        "mutual_info_events",
        "acf_daily_counts",
        "trimmed_winsor_price",
        "token_pmi_pairs",
        "feature_hash_bow",
        "zipf_token_fit",
        "rle_layout_audit",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_ks_prefix_sum_is_two_level(spark, sf_dir):
    """ks_two_sample's cumulative ECDF must be the distributed two-level
    prefix sum: the only unpartitioned window runs over range-bucket
    subtotals (dimension-sized), and the per-value cumsum window is
    partitioned by bucket — never a single-partition window over every
    distinct value."""
    df = REGISTRY["ks_two_sample"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # the value-level window is partitioned by bkt
    assert "windowspecdefinition(bkt" in analyzed
    plan = plan_of(spark, sf_dir, "ks_two_sample")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """The top-256 token selection must compile to TakeOrderedAndProject
    (per-partition top-N + merge), never a full global sort of the
    token dimension."""
    plan = plan_of(spark, sf_dir, "zipf_token_fit")
    assert "TakeOrderedAndProject" in plan


def test_search_wave_plan_shapes(spark, sf_dir):
    """BM25 must prune postings through a broadcast of the tiny query-term
    dim before any shuffle; the wave stays free of cartesians and
    row-Python (mapInPandas/Arrow in hard_negative_mining is the
    deliberate vectorized kernel, same as ann_bruteforce_topk)."""
    p = plan_of(spark, sf_dir, "bm25_search")
    assert "BroadcastHashJoin" in p, "bm25: query terms not broadcast"
    assert "CartesianProduct" not in p
    for name in (
        "idf_stopword_discovery",
        "session_path_topk",
        "fano_burstiness",
        "cross_corr_types",
        "hard_negative_mining",
        "melt_unpivot_metrics",
    ):
        q = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in q, f"{name}: cartesian product"
        assert "BatchEvalPython" not in q, f"{name}: row-Python UDF"


def test_session_path_shares_user_shuffle(spark, sf_dir):
    """Sessionization and the per-session rank must ride ONE hash exchange
    on user_id (HashPartitioning(user) satisfies the (user, session_no)
    window's clustering), so adding the path report costs no extra
    corpus shuffle beyond events_sessionize's."""
    plan = plan_of(spark, sf_dir, "session_path_topk")
    assert plan.count("hashpartitioning(user_id") <= 1


def test_unpivot_is_map_side_expand(spark, sf_dir):
    """DataFrame.unpivot compiles to Expand — a zero-shuffle map-side
    row multiplier, not a join or union of scans."""
    plan = plan_of(spark, sf_dir, "melt_unpivot_metrics")
    assert "Expand" in plan


def test_analytics5_wave_plan_shapes(spark, sf_dir):
    """Wave-5 ops run on dimension-sized frames after one combinable
    corpus pass: no cartesians, no row-Python; the assortativity edge
    list and KN head filter ride broadcast joins."""
    for name in (
        "graph_degree_assortativity",
        "mix_shift_decomposition",
        "uplift_stratified",
        "dataset_card_report",
        "kn_bigram_lm",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"
    p = plan_of(spark, sf_dir, "kn_bigram_lm")
    assert "BroadcastHashJoin" in p, "kn: heads not broadcast"


def test_pipeline_ops_wave_plan_shapes(spark, sf_dir):
    """Operational wave: no cartesians / row-Python; the skyline and
    lateness prefix passes ride broadcast joins of dimension frames
    (ndcg's exact side is the eval harness's one deliberate broadcast
    cross, like ann_bruteforce_topk)."""
    for name in (
        "debounce_events",
        "funnel_time_to_convert",
        "late_arrival_watermark_audit",
        "skyline_orders_2d",
        "dp_noisy_counts",
        "rendezvous_shard_balance",
        "quantile_normalize_embeddings",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "skyline_orders_2d")


def test_rendezvous_is_map_only(spark, sf_dir):
    """The 8-weight argmax must be a per-row projection: exactly the one
    rollup exchange (plus AQE reads), never an explode-join."""
    p = plan_of(spark, sf_dir, "rendezvous_shard_balance")
    assert "Generate" not in p, "rendezvous: unexpected explode"


def test_lateral_decorrelates_to_ranked_shuffle(spark, sf_dir):
    """The LATERAL top-k subquery must decorrelate: no nested-loop
    re-execution, no cartesian — one windowed rank like the DataFrame
    formulation."""
    p = plan_of(spark, sf_dir, "lateral_topk_customers")
    assert "CartesianProduct" not in p
    assert "Window" in p or "WindowGroupLimit" in p


def test_modernapi2_wave_runs_clean(spark, sf_dir):
    for name in (
        "xml_roundtrip",
        "recursive_cte_reachability",
        "collation_ci_vocab",
        "sql_variable_threshold_report",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def _window_input(node):
    """The first node under ``node`` that is not a Project, Filter, Sort
    or Window: what an unpartitioned window actually ranks."""
    node = node.child()
    while node.nodeName() in ("Project", "Filter", "Sort", "Window"):
        node = node.child()
    return node


def test_new_topk_selections_are_take_ordered(spark, sf_dir):
    """Top-k selections over unbounded dimensions (vocabulary, heads,
    users) must compile to TakeOrderedAndProject, never a rank window
    over the whole dimension in one partition: every unpartitioned
    window of these builders ranks a GlobalLimit, so one bounded top-k
    cannot hide a second whole-dimension rank window elsewhere."""
    from test_plan_guards import _unpartitioned_windows

    for name in (
        "bm25_search",
        "kn_bigram_lm",
        "fano_burstiness",
        "champion_list_retrieval",
        "team_draft_interleaving",
        "rocchio_prf",
        "err_ranking_eval",
    ):
        assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, name), name
        df = REGISTRY[name].fn(spark, sf_dir)
        for w in _unpartitioned_windows(df):
            if w.nodeName() != "Window":
                continue
            below = _window_input(w).nodeName()
            assert below == "GlobalLimit", f"{name}: window over {below}"


def test_analytics6_wave_plan_shapes(spark, sf_dir):
    """Wave-6: sampling compiles to TakeOrdered; no cartesians or
    row-Python anywhere; the decomposition joins its dow dimension
    broadcast."""
    assert "TakeOrderedAndProject" in plan_of(
        spark, sf_dir, "weighted_sample_es_topk"
    )
    for name in (
        "ts_decomposition_daily",
        "weighted_sample_es_topk",
        "sprt_sequential_test",
        "curriculum_quality_schedule",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_dpp_join_injects_runtime_pruning(spark, sf_dir):
    """The day-partitioned fact scan must carry a dynamicpruning
    subquery fed by the dim side — the 3-of-N partition skip that makes
    star joins viable at 100 TB."""
    df = REGISTRY["dpp_prune_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in fact scan"


def test_warehouse2_wave_plan_shapes(spark, sf_dir):
    for name in (
        "dpp_prune_join",
        "dynamic_partition_overwrite",
        "pandas_udaf_geomean",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_scene_cuts_and_growth_plan_shapes(spark, sf_dir):
    """Scene cuts must stay an Arrow kernel (MapInPandas, no byte
    explode); growth accounting must never cartesian the activity frame."""
    p = plan_of(spark, sf_dir, "multimodal_scene_cuts")
    assert "MapInPandas" in p
    assert "Generate" not in p, "scene_cuts: bytes exploded into rows"
    q = plan_of(spark, sf_dir, "growth_accounting_daily")
    assert "CartesianProduct" not in q
    assert "BatchEvalPython" not in q


def test_ahash_is_map_only_jvm(spark, sf_dir):
    """The perceptual hash must be pure JVM expression work: no Python,
    no explode, and a TakeOrdered/entropy path free of cartesians."""
    p = plan_of(spark, sf_dir, "multimodal_image_ahash")
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Generate" not in p, "ahash: bytes exploded into rows"
    q = plan_of(spark, sf_dir, "user_type_entropy")
    assert "TakeOrderedAndProject" in q and "CartesianProduct" not in q


def test_final_wave_plan_shapes(spark, sf_dir):
    """lang confusion is map+tiny-matrix; position bias is a TakeOrdered;
    the clustering-coefficient triangle join runs on the blocked pair
    frame (no cartesian anywhere)."""
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "token_position_bias")
    for name in (
        "lang_id_confusion",
        "token_position_bias",
        "neardup_clustering_coefficient",
    ):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"


def test_sprt_and_skyline_have_no_global_single_partition_window(spark, sf_dir):
    """The SPRT walk and the skyline prefix-max must be two-level: every
    window over more-than-dimension-sized input is partitioned by a
    range bucket. The only unpartitioned windows left run on bucket/day
    dimensions (SinglePartition over a dimension frame is fine)."""
    for name in ("sprt_sequential_test", "skyline_orders_2d"):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert "windowspecdefinition(bkt" in analyzed, (
            f"{name}: local window not bucket-partitioned"
        )


def test_sql_surface_waves_run_clean(spark, sf_dir):
    """Pipe-syntax and parameterized SQL compile to ordinary pushed-down
    grouped scans — no cartesians, no row-Python, filters at the scan."""
    for name in ("sql_pipe_syntax_report", "parameterized_sql_report"):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        assert "BatchEvalPython" not in p, f"{name}: row-Python UDF"
        assert "PushedFilters: [" in p, f"{name}: filters not pushed"


def test_embedding_cosine_join_keys_include_lsh_bucket(spark, sf_dir):
    """The embedding near-dup candidate join must key on the hyperplane
    band bucket, not label alone — label cardinality is tiny, so a
    label-only equi-join is an O(n²/|labels|) all-pairs at 100 TB. Every
    equi-join over the banded frames must carry the bucket key."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l or "BroadcastHashJoin" in l)
        and "label" in l
    ]
    assert join_lines, "no equi-join on label found in plan"
    for l in join_lines:
        assert "bucket" in l and "band" in l, f"join not bucket-blocked: {l}"


def test_stratified_folds_rank_shuffle_is_salted(spark, sf_dir):
    """The fold-rank window must shuffle on (label, id-range bucket), not
    label alone: a binary label would otherwise put ALL rows into 2
    shuffle partitions regardless of cluster width. Assert the exchange
    keys include the bucket column and that far more than 2 groups carry
    rows (SURVEY §4's promised salting, landed)."""
    from pyspark.sql import functions as F

    from iceberg_classifier_spark.operators.folds import (
        TARGET_FOLD_BUCKETS,
        with_stratified_folds,
    )
    from iceberg_classifier_spark.sources.tables import load

    plan = plan_of(spark, sf_dir, "stratified_folds")
    parts = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert any("_fb" in l and "label" in l for l in parts), (
        "rank exchange not keyed on (label, bucket)"
    )
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    f = with_stratified_folds(e.withColumn("label", F.col("label") % 2),
                              "label", "vec_id", 8)
    # shuffle-group cardinality: distinct (label, id-range bucket) pairs
    n = e.count()
    width = max(1, n // TARGET_FOLD_BUCKETS)
    groups = (
        e.select((F.col("label") % 2).alias("l"),
                 F.expr(f"vec_id div {width}").alias("b"))
        .distinct().count()
    )
    assert groups > 2, f"only {groups} shuffle groups"
    # and the salted output is still the exact unsalted formula
    from pyspark.sql import Window
    w = Window.partitionBy("label").orderBy("vec_id")
    direct = (
        e.withColumn("label", F.col("label") % 2)
        .withColumn("fold", ((F.row_number().over(w) - 1) % 8).cast("int"))
    )
    diff = (
        f.select("vec_id", "fold").subtract(direct.select("vec_id", "fold")).count()
    )
    assert diff == 0, f"{diff} rows differ from unsalted formula"


def test_round3_ops_have_blocked_plans(spark, sf_dir):
    """Round-3 operators keep the engine's plan discipline: no cartesian
    products, no row-at-a-time Python; pair-generating ops join on their
    blocking keys."""
    for name in (
        "semdedup_cells",
        "pq_adc_topk",
        "repeated_span_mask",
        "mann_whitney_u",
        "conformal_interval_coverage",
        "loo_target_encoding",
        "negative_sampling_pairs",
        "incremental_matview_maintenance",
        "gdpr_delete_propagation",
        "grouped_kfold_assign",
        "tokenizer_fertility_audit",
        "random_augment_stream",
        "multimodal_bmp_stats",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"


def test_semdedup_pair_join_is_cell_blocked(spark, sf_dir):
    """SemDeDup's within-cell verify must be the per-cell Arrow GEMM
    (FlatMapGroupsInPandas keyed on cell), never a row-pair join, and
    the two-level centroid assignment must be the single Arrow pass
    against the driver-collected centroid matrix (MapInPandas — r10: the
    old explode+window cascade shuffled ~2M wide rows twice and was the
    whole of the 18.5× warm sf10 ratio). A vec_id-keyed pair join
    anywhere in the plan is the O(cell²)-rows regression this replaced
    (round-7 fix of the round-6 quadratic finding)."""
    plan = plan_of(spark, sf_dir, "semdedup_cells")
    assert "FlatMapGroupsInPandas" in plan, "per-cell GEMM stage missing"
    assert "MapInPandas" in plan, "Arrow assignment pass missing"
    pair_joins = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l)
        and "vec_id" in l and "<" in l
    ]
    assert not pair_joins, f"row-pair join resurfaced: {pair_joins}"


def test_pq_adc_join_is_code_keyed(spark, sf_dir):
    """The ADC stage must be an equi-join between the code column and the
    broadcast query distance table — no scoring join over raw vectors."""
    plan = plan_of(spark, sf_dir, "pq_adc_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, "query table not broadcast"


def test_degloballed_round4_ops_have_no_corpus_wide_windows(spark, sf_dir):
    """Round-4 de-globalizations: doc_entropy_filter's extremes are
    TakeOrderedAndProject (never a full sort into one partition);
    concat_chunk_packing's prefix sum is bucket-partitioned; the
    tdigest exact side ranks only inside bracketed buckets (window
    partitioned by bucket, not a global row_number over orders)."""
    plan = plan_of(spark, sf_dir, "doc_entropy_filter")
    assert "TakeOrderedAndProject" in plan, "extremes not TakeOrdered"
    analyzed = (
        REGISTRY["doc_entropy_filter"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition" not in analyzed, (
        "doc_entropy_filter: window over the doc frame resurfaced"
    )

    analyzed = (
        REGISTRY["concat_chunk_packing"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(bkt" in analyzed, (
        "concat_chunk_packing: doc cumsum not bucket-partitioned"
    )

    analyzed = (
        REGISTRY["tdigest_quantile_merge"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    # every row_number over the raw orders frame must be partitioned:
    # the exact side by histogram bucket b, the sketch side by segment p
    assert "rn3" not in analyzed, "global exact-rank window resurfaced"


def test_round4_new_ops_plan_shapes(spark, sf_dir):
    """Round-4 additions keep the scale properties: no cartesian pair
    generation, no row-at-a-time Python (mapInPandas/mapInArrow are the
    allowed Arrow-batched boundaries), bucket-partitioned prefix sums
    where applicable."""
    for name in (
        "pretrained_featurizer_head",
        "token_budget_selection",
        "epoch_shuffle_shards",
        "label_propagation_communities",
        "dbscan_grid_clusters",
        "rowgroup_stats_pruning",
        "neyman_allocation_sample",
        "sql_udf_revenue_report",
        "multimodal_wav_stats",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"

    # token budget's corpus cumsum must be bucket-partitioned
    analyzed = (
        REGISTRY["token_budget_selection"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(qb" in analyzed, (
        "token_budget_selection: doc cumsum not bucket-partitioned"
    )

    # the SQL UDFs must be inlined: no UDF node survives in the physical plan
    plan = plan_of(spark, sf_dir, "sql_udf_revenue_report")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_distinct_value_prefix_sums_are_bucket_partitioned(spark, sf_dir):
    """The r4 de-globalizations hold: every cumulative count over a
    distinct-value / distinct-timestamp frame is bucket-partitioned, and
    pareto's decile assignment has no global ntile window (exact ntile is
    re-derived from two-level ranks)."""
    for name, marker in (
        ("mann_whitney_u", "windowspecdefinition(bkt"),
        ("equi_depth_histogram_stats", "windowspecdefinition(vb"),
        ("temporal_split_leakage_audit", "windowspecdefinition(bkt"),
        ("pareto_revenue_share", "windowspecdefinition(bkt"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: bucketed window missing"
    analyzed = (
        REGISTRY["pareto_revenue_share"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "ntile" not in analyzed, "pareto: global ntile resurfaced"


def test_round4b_schema_discovery_and_closedform_plan_shapes(spark, sf_dir):
    """This wave's additions keep the scale properties: no cartesian pair
    generation anywhere (the phonetic fuzzy join is code-blocked, the FK
    containment join is distinct-keyed semi), no row-at-a-time Python,
    and the retrieval/HITS top-ks are TakeOrdered limits, not global
    rank windows over the corpus."""
    for name in (
        "fk_inference_audit",
        "functional_dependency_audit",
        "boolean_retrieval_and",
        "ols_normal_equations",
        "pca2_closed_form",
        "dsir_importance_weights",
        "phonetic_blocking_audit",
        "hits_hub_authority",
        "binseg_changepoints",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"

    # top-ks are bounded TakeOrdered merges, never corpus-wide ranks
    for name in ("boolean_retrieval_and", "hits_hub_authority"):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k not TakeOrdered"

    # FK containment must join on distinct keys via left-semi
    plan = plan_of(spark, sf_dir, "fk_inference_audit")
    assert "LeftSemi" in plan, "fk_inference_audit: containment not a semi join"

    # phonetic fuzzy candidate join must be equi-keyed on the code block
    # (the 1-row scalar crossJoins legitimately show as nested-loop)
    plan = plan_of(spark, sf_dir, "phonetic_blocking_audit")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, (
        "phonetic_blocking_audit: pair join not equi-keyed on the code"
    )


def test_round4c_eval_and_fusion_plan_shapes(spark, sf_dir):
    """The eval/causal/search wave keeps the scale invariants: no
    cartesian pair generation (the rank-correlation day-pair join is
    dimension-sized and deliberately inequality-keyed), no row-Python,
    and retrieval/compaction top-ks bounded."""
    for name in (
        "rrf_hybrid_fusion",
        "psi_stability_index",
        "ab_power_analysis",
        "cdc_log_compaction",
        "forecast_backtest_rolling",
        "pr_auc_exact",
        "difference_in_differences",
        "lift_gain_deciles",
        "stylometry_burrows_delta",
        "aa_test_calibration",
        "quantile_treatment_effects",
        "dp_clipped_mean",
        "jl_projection_distortion",
        "hilbert_curve_cluster",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        if name not in ("rank_correlation_daily",):
            assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # RRF prunes postings via broadcast before ranking, top-k bounded
    plan = plan_of(spark, sf_dir, "rrf_hybrid_fusion")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan

    # CDC compaction's max-by is key-partitioned, never a global window
    analyzed = (
        REGISTRY["cdc_log_compaction"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(user_id" in analyzed

    # QTE cumulative is arm-partitioned over the distinct-value dimension
    analyzed = (
        REGISTRY["quantile_treatment_effects"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(treated" in analyzed


def test_round4d_domain_waves_plan_shapes(spark, sf_dir):
    """Lakehouse-internals / bizops / spectral waves keep the scale
    invariants: no cartesian pair generation (the RANSAC vote join and
    rank-correlation day-pair join are deliberate dimension-sized
    products), row-Python only in the Arrow-batched FFT kernel, and
    every per-key window partitioned."""
    for name in (
        "occ_conflict_detection",
        "cow_vs_mor_write_amplification",
        "metric_driver_tree",
        "cohort_ltv_curves",
        "safety_stock_reorder",
        "snapshot_expiry_orphans",
        "column_entropy_ranking",
        "erlang_c_staffing",
        "twap_vs_mean_daily",
        "holt_winters_daily",
        "second_price_auction_clearing",
        "revenue_recognition_waterfall",
        "peak_detection_daily",
        "bigram_greedy_decode",
        "colbert_maxsim_retrieval",
        "latency_percentile_heatmap",
        "session_bounce_dwell",
        "capture_recapture_estimate",
        "join_cardinality_feedback",
        "ransac_line_fit",
        "slo_burn_rate_alerts",
        "successive_halving_replay",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"

    # FFT runs as ONE Arrow-batched kernel, not row Python
    plan = plan_of(spark, sf_dir, "multimodal_fft_dominant")
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    assert "BatchEvalPython" not in plan

    # per-key windows stay partitioned (no corpus-wide rank anywhere)
    for name, marker in (
        ("second_price_auction_clearing", "windowspecdefinition(slot"),
        ("cohort_ltv_curves", "windowspecdefinition(cohort_week"),
        ("latency_percentile_heatmap", "windowspecdefinition(hod"),
        ("session_bounce_dwell", "windowspecdefinition(user_id"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: window not key-partitioned"


def test_round4e_stats_linkage_waves_plan_shapes(spark, sf_dir):
    """Survival/scoring/text/linkage waves keep the scale invariants:
    no row-Python UDFs (winnowing/MAP@k run as Arrow-batched
    mapInPandas), no cartesian pair generation (the SNM pair source is
    lead() windows, SymSpell candidates come from a broadcast
    delete-index equi-join), and per-key windows stay partitioned."""
    for name in (
        "nelson_aalen_hazard",
        "logrank_ship_delay",
        "wilson_ci_ranking",
        "page_hinkley_drift",
        "woe_iv_binning",
        "decision_stump_split",
        "readability_scores",
        "naive_bayes_lang",
        "sorted_neighborhood_blocking",
        "symspell_correction",
        "horvitz_thompson_total",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # winnowing + MAP@k: custom kernels are Arrow-batched, never row Python
    for name in ("winnowing_fingerprints", "map_at_k_eval"):
        plan = plan_of(spark, sf_dir, name)
        assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), name
        assert "BatchEvalPython" not in plan, name

    # top-k leaderboards are TakeOrdered, not a global sort
    for name in ("wilson_ci_ranking",):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name

    # SymSpell's dictionary and the polygon edge set ride as broadcasts
    for name in ("symspell_correction", "point_in_polygon_tag"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name

    # per-key windows partitioned: SNM sorts within blocks, SymSpell
    # ranks within (doc, pos), naive Bayes argmaxes within doc
    for name, marker in (
        ("sorted_neighborhood_blocking", "windowspecdefinition(blk"),
        ("symspell_correction", "windowspecdefinition(doc_id"),
        ("naive_bayes_lang", "windowspecdefinition(doc_id"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: window not key-partitioned"


def test_round4f_stats_retrieval_waves_plan_shapes(spark, sf_dir):
    """Waves 13/14 + search4/evalops4 keep the scale invariants: the
    only Python is Arrow-batched (MMR pool/greedy), pair and
    checkpoint expansions ride broadcast joins (never CartesianProduct
    of two fact sides), sequential estimators are single bounded folds,
    and per-key windows stay partitioned."""
    for name in (
        "kruskal_wallis_priority",
        "ipw_ate_cells",
        "jackknife_cluster_ratio",
        "viterbi_regime_decode",
        "friedman_test",
        "gumbel_return_levels",
        "rmst_shipping",
        "cmh_stratified_test",
        "mcnemar_paired_test",
        "cohen_kappa_agreement",
        "kalman_filter_1d",
        "heaps_law_fit",
        "silhouette_labels",
        "brier_decomposition",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # MMR: pool via mapInPandas GEMM, greedy via grouped applyInPandas —
    # both Arrow-batched, partitioned by query
    plan = plan_of(spark, sf_dir, "mmr_rerank")
    assert "MapInPandas" in plan, "mmr pool not Arrow-batched"
    assert "FlatMapGroupsInPandas" in plan, "mmr greedy not grouped-Arrow"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan

    # per-key windows partitioned
    for name, marker in (
        ("friedman_test", "windowspecdefinition(blk"),
        ("mmr_rerank", "windowspecdefinition(query_id"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: window not key-partitioned"


def test_round4g_domain_waves_plan_shapes(spark, sf_dir):
    """Bizops4/attribution/analytics15-18/curation8/linkage3/search5
    keep the scale invariants: no row-Python anywhere, pair and grid
    expansions are broadcast- or key-joined (never a fact×fact
    cartesian), sequential estimators are bounded folds, and top-k
    selections are TakeOrdered."""
    for name in (
        "croston_intermittent",
        "abc_xyz_classification",
        "price_elasticity_loglog",
        "markov_removal_attribution",
        "anova_oneway_priority",
        "brown_forsythe_test",
        "acceptance_sampling_oc",
        "confident_learning_noise",
        "active_learning_batch",
        "qgram_edit_join",
        "ucb_bandit_replay",
        "fixed_effects_within",
        "competing_risks_cif",
        "hierarchical_forecast_reconciliation",
        "lsh_s_curve_planner",
        "dirichlet_ql_search",
        "mediation_product_coeffs",
        "bass_diffusion_fit",
        "weibull_rank_regression",
        "runs_test_daily",
        "ljung_box_test",
        "graph_modularity_score",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # QL retrieval: top-k are TakeOrdereds, never a corpus-wide rank
    plan = plan_of(spark, sf_dir, "dirichlet_ql_search")
    assert "TakeOrderedAndProject" in plan
    # active learning: all three acquisitions are TakeOrdered
    plan = plan_of(spark, sf_dir, "active_learning_batch")
    assert "TakeOrderedAndProject" in plan

    # journey windows are user-partitioned; q-gram pairs ride the gram
    # equi-join
    analyzed = (
        REGISTRY["markov_removal_attribution"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(user_id" in analyzed


def test_round4h_multimodal_eval_waves_plan_shapes(spark, sf_dir):
    """Waves 19/20 + multimodal3/evalops5/textops6: Python only as
    Arrow-batched kernels, blocked pair generation, bounded folds."""
    for name in (
        "chain_ladder_development",
        "xbar_r_control_chart",
        "markov_stationary_entropy_rate",
        "pacf_durbin_levinson",
        "duplicate_payment_detection",
        "price_ending_bias",
        "integral_image_boxsum",
        "bradley_terry_strengths",
        "bpe_apply_encode",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # audio + leakage kernels are Arrow-batched mapInPandas
    for name in ("multimodal_audio_zcr_silence", "embedding_leakage_scan"):
        plan = plan_of(spark, sf_dir, name)
        assert "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name

    # dup-payment candidates come from the (cust, cents) equi-join and
    # the top-k is TakeOrdered
    plan = plan_of(spark, sf_dir, "duplicate_payment_detection")
    assert "TakeOrderedAndProject" in plan


def test_round4i_late_waves_plan_shapes(spark, sf_dir):
    """Waves 21-26 + expops/multimodal4/mlscore2: no row-Python, no
    fact×fact cartesians (pair sources are histogram/equi-joins),
    sequential estimators are bounded folds, selections TakeOrdered."""
    for name in (
        "obrien_fleming_looks",
        "hash_chain_audit",
        "ss_inventory_policy_replay",
        "image_ahash_neardup",
        "histogram_equalization_audit",
        "sample_ratio_mismatch",
        "poisson_rate_scoreci",
        "optimal_threshold_selection",
        "permutation_importance_auc",
        "temperature_entropy_sweep",
        "kde_density_curve",
        "jarque_bera_test",
        "cochran_q_test",
        "hurst_exponent_rs",
        "variance_ratio_test",
        "garman_klass_volatility",
        "hash_collision_audit",
        "adstock_lag_regression",
        "geometric_retention_fit",
        "littles_law_audit",
        "taylors_law_fit",
        "hodges_lehmann_location",
        "wilcoxon_signed_rank",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # threshold selections are TakeOrdered; signed-rank pairs ride
    # customer-partitioned windows
    plan = plan_of(spark, sf_dir, "optimal_threshold_selection")
    assert "TakeOrderedAndProject" in plan
    analyzed = (
        REGISTRY["wilcoxon_signed_rank"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(cust" in analyzed


def test_round4j_final_waves_plan_shapes(spark, sf_dir):
    """Waves 27-29 + textops7: histogram-bounded grids, no row-Python,
    no fact×fact cartesians, TakeOrdered tails."""
    for name in (
        "tost_equivalence_test",
        "meta_analysis_dl",
        "intraclass_correlation",
        "self_bleu_diversity",
        "distribution_fit_selection",
        "hill_tail_index",
        "gaussian_mixture_em",
        "pav_calibration_map",
        "energy_distance_test",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # Hill's only corpus interaction is a TakeOrdered top-k
    plan = plan_of(spark, sf_dir, "hill_tail_index")
    assert "TakeOrderedAndProject" in plan


def test_round4k_closing_waves_plan_shapes(spark, sf_dir):
    """Waves 31/32: gap/island windows stay user- or slot-partitioned,
    grids broadcast, no row-Python, no fact×fact cartesians."""
    for name in (
        "session_gap_sensitivity",
        "mtbf_availability",
        "reserve_price_grid",
        "rich_club_coefficient",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    for name, marker in (
        ("session_gap_sensitivity", "windowspecdefinition(user_id"),
        ("reserve_price_grid", "windowspecdefinition(slot"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: window not key-partitioned"


def test_round4l_wave33_plan_shapes(spark, sf_dir):
    """Wave 33: the Fisher sample is a TakeOrdered cap, trend/PRESS
    collapse to map-side grouped sufficient stats, no row-Python,
    no fact×fact cartesians (the only cross joins broadcast 1-row
    scalar frames)."""
    for name in (
        "fisher_exact_test",
        "cochran_armitage_trend",
        "press_loocv_regression",
        "ar2_yule_walker_forecast",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    # the exact test's sample is bounded by a TakeOrdered, not a sort
    plan = plan_of(spark, sf_dir, "fisher_exact_test")
    assert "TakeOrderedAndProject" in plan


def test_round4m_wave34_plan_shapes(spark, sf_dir):
    """Wave 34: autocomplete rank partitions by prefix with a
    TakeOrdered prefix head; ROUGE pairing is a source-partitioned
    lead (no self-join); no row-Python, no cartesians."""
    for name in (
        "good_turing_smoothing",
        "prefix_autocomplete_topk",
        "rouge_l_pairs",
        "encoding_anomaly_audit",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    plan = plan_of(spark, sf_dir, "prefix_autocomplete_topk")
    assert "TakeOrderedAndProject" in plan
    for name, marker in (
        ("prefix_autocomplete_topk", "windowspecdefinition(p#"),
        ("rouge_l_pairs", "windowspecdefinition(source"),
    ):
        analyzed = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().analyzed().toString()
        )
        assert marker in analyzed, f"{name}: window not key-partitioned"


def test_round4n_wave35_plan_shapes(spark, sf_dir):
    """Wave 35: folds partition by user, MoR deletes broadcast into
    the anti-join, pattern windows stay user-partitioned, no
    row-Python, no cartesians."""
    for name in (
        "token_bucket_rate_limit",
        "lru_hit_ratio_curve",
        "row_pattern_match_vshape",
        "position_delete_merge_on_read",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    plan = plan_of(spark, sf_dir, "token_bucket_rate_limit")
    assert "TakeOrderedAndProject" in plan
    plan = plan_of(spark, sf_dir, "position_delete_merge_on_read")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    analyzed = (
        REGISTRY["row_pattern_match_vshape"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(user_id" in analyzed


def test_round4o_wave36_plan_shapes(spark, sf_dir):
    """Wave 36: the quantized query block broadcasts (nested-loop on
    the inequality, never CartesianProduct), LDA/ridge collapse to
    map-side moments, no row-Python."""
    for name in (
        "binary_quantization_hamming",
        "fisher_lda_direction",
        "learning_curve_ridge",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    plan = plan_of(spark, sf_dir, "binary_quantization_hamming")
    assert "BroadcastNestedLoopJoin" in plan


def test_round4p_wave37_plan_shapes(spark, sf_dir):
    """Wave 37: multimodal kernels are map-only Arrow passes (the
    one allowed Python is mapInPandas/ArrowEvalPython, never
    row-at-a-time BatchEvalPython), no cartesians."""
    for name in ("audio_spectral_centroid", "image_phash_dct"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "MapInPandas" in plan, f"{name}: expected Arrow kernel"


def test_round4q_wave38_plan_shapes(spark, sf_dir):
    """Wave 38: CvM rides value-grouped prefix sums, newsvendor
    windows partition by brand, Moran's adjacency is an equi-join on
    cell keys (broadcast offsets, never point pairs)."""
    for name in (
        "cramer_von_mises_two_sample",
        "newsvendor_quantile_policy",
        "morans_i_cells",
        "bartlett_test",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    analyzed = (
        REGISTRY["newsvendor_quantile_policy"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(brand" in analyzed


def test_round4r_wave39_plan_shapes(spark, sf_dir):
    """Wave 39: champion ranking partitions by term, interleave/PRF
    windows partition by query, dimension sides broadcast, no
    row-Python, no cartesians."""
    for name in (
        "champion_list_retrieval",
        "team_draft_interleaving",
        "rocchio_prf",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, f"{name}: row-Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"

    analyzed = (
        REGISTRY["champion_list_retrieval"].fn(spark, sf_dir)
        ._jdf.queryExecution().analyzed().toString()
    )
    assert "windowspecdefinition(word" in analyzed


def test_round4s_wave40_plan_shapes(spark, sf_dir):
    """Wave 40: IRLS runs on the bounded binomial histogram — one
    fact pass, no row-Python, no cartesian (the per-iteration cross
    joins in the oracle are 1-row parameter frames)."""
    plan = plan_of(spark, sf_dir, "logreg_irls_histogram")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round4t_wave41_plan_shapes(spark, sf_dir):
    """Wave 41: GLM/tree estimators keep the fact-table work to one
    histogram pass — no row-Python anywhere; the Cox histogram joins
    lineitem-orders without a cartesian; CART's split search uses
    only broadcast 1-row cross joins (BroadcastNestedLoopJoin is the
    expected physical form — assert no CartesianProduct)."""
    for name in ("poisson_irls_daily", "cox_ph_newton",
                 "kmeans_lloyd_histogram", "cart_depth2_tree"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4u_wave42_plan_shapes(spark, sf_dir):
    """Wave 42: econometric estimators are one-pass conditional
    aggregates — RD's bandwidth filter reaches the scan, IV's part
    dim broadcasts, and nothing runs row-at-a-time Python."""
    plan = plan_of(spark, sf_dir, "regression_discontinuity")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "iv_wald_estimate")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    for name in ("chow_break_test", "granger_causality_daily"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4v_wave43_plan_shapes(spark, sf_dir):
    """Wave 43: drift/concordance/ranking/risk ops reduce the fact
    table to bounded frames in one pass — no row-Python; the Kendall
    pair join and ERR posting joins are equi/broadcast joins, never
    an unblocked cartesian over fact rows."""
    for name in ("js_hellinger_drift", "kendall_tau_daily",
                 "err_ranking_eval", "var_cvar_daily"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4w_wave44_plan_shapes(spark, sf_dir):
    """Wave 44: stats ops reduce the fact table to bounded frames
    (dollar cells / calendar days / 5 groups / 8 items) in one
    map-side-combined pass — no row-Python, no cartesian over fact
    rows (the only cross joins broadcast 1-row scalar frames)."""
    for name in ("inequality_indices", "anderson_darling_normality",
                 "mood_median_test", "cronbach_alpha_embeddings"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4x_wave45_plan_shapes(spark, sf_dir):
    """Wave 45: the Lindley replay shuffles ONCE on user_id with the
    fold local to each group; the daily ops reduce to the calendar
    frame in one map-side-combined pass — no row-Python, no
    cartesian anywhere."""
    for name in ("lindley_queue_replay", "sharpe_sortino_daily",
                 "rsi_wilder_daily", "kelly_criterion_daily"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4y_wave46_plan_shapes(spark, sf_dir):
    """Wave 46: DeLong joins the doc frame against two BROADCAST
    bounded placement tables; MTLD's fold is per-doc local; Cliff's
    delta pushes its priority filter to the scan — no row-Python,
    no cartesian over fact rows anywhere."""
    plan = plan_of(spark, sf_dir, "delong_auc_comparison")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "cliffs_delta_priority")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan
    for name in ("mtld_lexical_diversity",):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4z_wave47_plan_shapes(spark, sf_dir):
    """Wave 47: mRMR's MIs and greedy argmax run on the bounded cell
    frame after ONE fact pass; SAX/Tukey reduce to calendar/group
    frames — no row-Python, no cartesian over fact rows (mRMR's
    1-row broadcast scalar joins surface as BroadcastNestedLoop,
    not CartesianProduct)."""
    for name in ("mrmr_feature_selection", "sax_daily_motifs",
                 "tukey_hsd_priority"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4aa_wave48_plan_shapes(spark, sf_dir):
    """Wave 48: AdaBoost's rounds join 42 candidate stumps against
    the bounded cell frame (the candidate x cell and 1-row stump
    broadcasts surface as BroadcastNestedLoop, never
    CartesianProduct); the audit and A/B grid are one-pass
    conditional aggregates — no row-Python anywhere."""
    for name in ("adaboost_stumps", "l_diversity_audit",
                 "bayes_ab_grid"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ab_wave49_plan_shapes(spark, sf_dir):
    """Wave 49: randomized response is one stateless map pass (no
    shuffle beyond the final combine); Page/Shapiro-Francia reduce
    to bounded frames — no row-Python, no cartesian."""
    for name in ("randomized_response_estimate", "page_trend_test",
                 "shapiro_francia_normality"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ac_wave50_plan_shapes(spark, sf_dir):
    """Wave 50: rec pairs block per user and the metric frames are
    item-bounded; Grubbs is a TakeOrdered over the calendar frame;
    richness is two map-side aggregation levels — no row-Python,
    no cartesian."""
    for name in ("coverage_novelty_recs", "grubbs_outlier_test",
                 "vocabulary_richness_indices"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ad_wave51_plan_shapes(spark, sf_dir):
    """Wave 51: NB shuffles once on the customer key; the
    periodogram's 30-harmonic grid broadcasts against the calendar
    frame; packing folds 40 items on one row — no row-Python, no
    cartesian."""
    for name in ("negative_binomial_fit", "periodogram_daily",
                 "ffd_bin_packing_replay"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ae_wave52_plan_shapes(spark, sf_dir):
    """Wave 52: cointegration/tails reduce to the calendar frame;
    power iteration's 10 matvec stages run on the 64-row matrix
    frame with window normalization (linear lineage, no per-round
    re-derivation); Erlang-B is one stateless agg — no row-Python,
    no cartesian."""
    for name in ("engle_granger_cointegration",
                 "power_iteration_top_eigen", "erlang_b_blocking",
                 "tail_dependence_daily"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4af_wave53_plan_shapes(spark, sf_dir):
    """Wave 53: both codecs run inside ONE Arrow-batched mapInPandas
    (ArrowEvalPython/MapInPandas in the plan is the intended shape;
    row-at-a-time BatchEvalPython is not) with a pushed doc filter
    on the PNG path."""
    plan = plan_of(spark, sf_dir, "multimodal_png_decode")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "multimodal_mulaw_snr")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_round4ag_wave54_plan_shapes(spark, sf_dir):
    """Wave 54: NW's 20-point grid broadcasts against the calendar
    frame; Cpk is one map-side pass; the paradox audit joins the
    edge list against broadcast-or-shuffled degree frames — no
    row-Python, no cartesian."""
    for name in ("nadaraya_watson_regression", "process_capability_cpk",
                 "friendship_paradox_audit"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ah_wave55_plan_shapes(spark, sf_dir):
    """Wave 55: CEM is one broadcast-dim join pass to a strata frame;
    the Bloom bit table broadcasts to the probe side; k-NN's pair
    join is calendar-bounded — no row-Python, no cartesian over
    fact rows."""
    plan = plan_of(spark, sf_dir, "coarsened_exact_matching_att")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    for name in ("bloom_fpp_calibration", "knn_loo_regression_daily"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ai_wave56_plan_shapes(spark, sf_dir):
    """Wave 56: Sinkhorn's 10 scaling rounds run on 5-element vector
    frames against the 25-cell kernel (linear chain); EXP3 folds a
    bounded TakeOrdered prefix — no row-Python, no cartesian over
    fact rows."""
    for name in ("sinkhorn_transport_plan", "exp3_bandit_replay"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4aj_wave57_plan_shapes(spark, sf_dir):
    """Wave 57: NMF's factor algebra runs on 10/14-row frames after
    one matrix aggregation (localCheckpoint truncates per-round
    lineage); Lorenz is a histogram prefix walk — no row-Python,
    no cartesian over fact rows."""
    for name in ("nmf_multiplicative_updates", "lorenz_curve_deciles"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ak_wave58_plan_shapes(spark, sf_dir):
    """Wave 58: GS folds 50 fixed elements over the 25-cell
    preference frame with a bounded stability-audit join; SJF/FCFS
    are two prefix windows over 40 jobs — no row-Python, no
    cartesian over fact rows."""
    for name in ("gale_shapley_assignment", "sjf_vs_fcfs_flowtime"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4al_wave59_plan_shapes(spark, sf_dir):
    """Wave 59: Elo folds the bounded day-contest stream; Fisher's
    two-year predicate reaches the scan; Holm runs on the 10-row
    pair frame — no row-Python, no cartesian over fact rows."""
    plan = plan_of(spark, sf_dir, "price_index_fisher")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan
    for name in ("elo_rating_replay", "holm_stepdown_welch"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4am_wave60_plan_shapes(spark, sf_dir):
    """Wave 60: SimRank iterates on the bounded nation-pair frame
    after one fact pass; Verhoeff is stateless per-row fold work;
    the keyspace estimator pushes its modulo predicate — no
    row-Python, no cartesian over fact rows."""
    for name in ("simrank_nations", "verhoeff_checksum_audit",
                 "keyspace_cardinality_estimate"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4an_wave61_plan_shapes(spark, sf_dir):
    """Wave 61: S-H-ESD's rounds are ordered windows + TakeOrdered
    over the bounded calendar frame (localCheckpoint truncates
    lineage); circular stats is one stateless moment pass — no
    row-Python, no cartesian."""
    for name in ("seasonal_hybrid_esd", "circular_stats_dow"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ao_wave62_plan_shapes(spark, sf_dir):
    """Wave 62: the forward fold walks the bounded day frame; the
    Wagner-Whitin DP folds 12 elements with the 1995 predicate on
    the scan — no row-Python, no cartesian."""
    plan = plan_of(spark, sf_dir, "wagner_whitin_lotsize")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "hmm_forward_likelihood")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round4ap_wave63_plan_shapes(spark, sf_dir):
    """Wave 63: the EAN kernel is one Arrow-batched mapInPandas over
    the key-sampled frame (modulo predicate pushed); the Parzen
    grid crosses 201 fixed points with the bounded histogram."""
    plan = plan_of(spark, sf_dir, "multimodal_ean13_decode")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "parzen_mode_estimate")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round4aq_wave64_plan_shapes(spark, sf_dir):
    """Wave 64: synthetic control crosses a fixed 1771-weight grid
    with the 24-month frame; Kemeny costs 120 permutations against
    the 20-cell preference matrix — no row-Python, no cartesian
    over fact rows (the fixed candidate-set crosses broadcast)."""
    for name in ("synthetic_control_grid", "kemeny_rank_aggregation"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ar_wave65_plan_shapes(spark, sf_dir):
    """Wave 65: the min-cut enumeration crosses fixed 32x32 masks
    with bounded capacity frames; apportionment ranks a 100-row
    quotient frame — no row-Python, no cartesian over fact rows."""
    for name in ("maxflow_mincut_bipartite", "dhondt_seat_apportionment"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4as_wave66_plan_shapes(spark, sf_dir):
    """Wave 66: Gorilla is two per-user lag windows + a global
    combine; Morris folds a bounded prefix — no row-Python, no
    cartesian."""
    for name in ("gorilla_dod_encoding_audit", "morris_counter_replay"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4at_wave67_plan_shapes(spark, sf_dir):
    """Wave 67: Gi* works on the fixed 432-cell grid with a 9-offset
    broadcast join; the LSM fold walks the calendar frame with
    O(levels) state — no row-Python, no cartesian over fact rows."""
    for name in ("getis_ord_gi_star", "lsm_compaction_model_replay"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4au_wave68_plan_shapes(spark, sf_dir):
    """Wave 68: the auction is fixed-size algebra on one wide row
    after a broadcast-dim pass; AICc is one moment row + Cramer
    closed forms — no row-Python, no cartesian."""
    for name in ("gsp_vs_vcg_auction", "polynomial_aicc_selection"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4av_wave69_plan_shapes(spark, sf_dir):
    """Wave 69: IRR's rounds are 12-row NPV aggregations with year
    predicates pushed to the scans; duration is one moment pass —
    no row-Python, no cartesian over fact rows."""
    plan = plan_of(spark, sf_dir, "duration_convexity_cashflow")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan
    plan = plan_of(spark, sf_dir, "irr_bisection")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round4aw_wave70_plan_shapes(spark, sf_dir):
    """Wave 70: InfoNCE's pair work is batch-blocked (equi-join on
    the batch key, never corpus^2); the JSD matrix lives on the
    source x vocab frame — no row-Python, no cartesian."""
    for name in ("infonce_loss_eval", "source_vocab_jsd_matrix"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ax_wave71_plan_shapes(spark, sf_dir):
    """Wave 71: all three ops are stateless per-row map work into
    small aggregates — no row-Python, no cartesian."""
    for name in ("goertzel_tone_detect", "hash_avalanche_audit",
                 "key_prime_factor_audit"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4ay_wave72_plan_shapes(spark, sf_dir):
    """Wave 72: t-closeness is cumulative windows on the bounded
    (QI, status) cell frame; the stopping rule is per-year windows
    — no row-Python, no cartesian over fact rows."""
    for name in ("t_closeness_audit", "secretary_problem_replay"):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_round4az_wave73_plan_shapes(spark, sf_dir):
    """Wave 73: the majority graph is 10 duel cells off the bounded
    day frame — no row-Python, no cartesian."""
    plan = plan_of(spark, sf_dir, "copeland_condorcet_check")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round4ba_wave74_plan_shapes(spark, sf_dir):
    """Wave 74: Shamir sharing is one stateless modular-math map pass
    into a single aggregate — no row-Python, no cartesian."""
    plan = plan_of(spark, sf_dir, "shamir_secret_sharing_audit")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_round5_curated_pipeline_plan_shapes(spark, sf_dir):
    """Round-5 fused curation funnel: the decontamination join must be a
    broadcast of the eval gram set (the corpus side never shuffles for
    that stage), no cartesian, no row-Python."""
    plan = plan_of(spark, sf_dir, "curated_corpus_pipeline")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_round5_skewed_dedup_has_no_band_selfjoin(spark, sf_dir):
    """Hot-bucket hardening: dedup_minhash_skewed must decide dedup via
    associative per-bucket aggregation, NEVER a band-key self-join —
    the O(bucket²) pair blowup an all-identical corpus triggers. The
    crisp invariant: no band-keyed Join may have the band-key generator
    (Generate/posexplode) on BOTH sides — one side must already be the
    aggregated bucket-min frame."""
    df = REGISTRY["dedup_minhash_skewed"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan()

    def side_is_raw_bands(node) -> bool:
        """True if a Generate (the band-key posexplode) is reachable from
        this join side WITHOUT passing through an Aggregate — i.e. the
        side still carries one row per (doc, band) at full bucket
        cardinality. An Aggregate collapses the bucket, so anything below
        it is safe."""
        stack = [node]
        while stack:
            n = stack.pop()
            if n.nodeName() == "Aggregate":
                continue  # collapsed — don't descend
            if n.nodeName() == "Generate":
                return True
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return False

    band_joins = 0
    stack = [opt]
    while stack:
        node = stack.pop()
        ch = node.children()
        if node.nodeName() == "Join":
            cond = str(node.condition())
            if "band" in cond:
                band_joins += 1
                raw_sides = sum(
                    side_is_raw_bands(ch.apply(i)) for i in range(2)
                )
                assert raw_sides <= 1, (
                    "band-key SELF-join found: un-aggregated band keys on "
                    "both sides — the hot-bucket O(n²) plan"
                )
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    assert band_joins >= 1, "expected a band-keyed join in the plan"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_round7_capped_pair_family_bounds_every_selfjoin(spark, sf_dir):
    """The round-6 sf1 sweep found four pair-enumerating plans whose
    bucket/block self-join had no population control (574/170/304/102 s
    at 10× data). The round-7 fix caps the bucket: the pair self-join may
    only run over the cap-filtered members, and oversized buckets route
    through the aggregated representative (star) instead. Invariant in
    the optimized plan: every pair self-join (a `<` between two id
    columns in the join condition) must have an Aggregate in BOTH input
    subtrees — the bucket-size aggregation whose cap filter gates the
    join. The uncapped plans had pure scan→project chains on both sides.

    (minhash_lsh_quality's truth join is deliberately absent here: its
    exact-Jaccard side is bounded by the deterministic ~30% doc sample,
    not a bucket cap.)"""
    def has_aggregate(node) -> bool:
        stack = [node]
        while stack:
            n = stack.pop()
            if n.nodeName() == "Aggregate":
                return True
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return False

    for name, idcol in [
        ("dedup_embedding_cosine", "vec_id"),
        ("image_ahash_neardup", "doc_id"),
        ("multimodal_curation_pipeline", "doc_id"),
        ("fellegi_sunter_linkage", "k"),
    ]:
        opt = (
            REGISTRY[name].fn(spark, sf_dir)
            ._jdf.queryExecution().optimizedPlan()
        )
        pair_joins = 0
        stack = [opt]
        while stack:
            node = stack.pop()
            ch = node.children()
            if node.nodeName() == "Join":
                cond = str(node.condition())
                if f"{idcol}#" in cond and " < " in cond:
                    pair_joins += 1
                    for i in range(2):
                        assert has_aggregate(ch.apply(i)), (
                            f"{name}: pair self-join side {i} reaches the "
                            "raw per-row source with no bucket-size "
                            "aggregation — the uncapped O(bucket²) plan"
                        )
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        assert pair_joins >= 1, f"{name}: expected a capped pair self-join"
