"""Plan-shape guards for the optimizations of rounds 10 and 11
(OPTIMIZATION_r10.md, OPTIMIZATION_r11.md).

Each test pins a plan property an optimization established, so a later
refactor that silently reintroduces the removed work or the closed edge
fails here instead of only showing up as a bench regression:

- pretrained_featurizer_head: the Arrow/Python conv kernel (MapInPandas)
  must run at most once — the featurizer output is cached and both the
  train-statistics branch and the val-scoring branch read the cache
  (before: two MapInPandas stages re-ran the kernel).
- colbert_maxsim_retrieval: no exchange may hash-partition the exploded
  (doc_id, word) posting frame — per-doc distinctness is computed
  row-locally with array_distinct and scoring joins a broadcast
  vocabulary dimension (before: a corpus-wide distinct shuffle).
- curated_corpus_pipeline / token_budget_selection: the reused minority
  frame (dedup-window output / per-doc metadata) must stay cached —
  consumers read an InMemoryTableScan instead of re-running the
  data-sized shuffle / re-tokenizing the corpus.
- dedup_minhash_lsh / dedup_minhash_skewed / minhash_lsh_quality: the
  MinHash signature or band-key frame that several branches read must
  stay cached, so the md5 + hash-family work runs once per document.
- itemitem_cosine_topk / coverage_novelty_recs / dsir_importance_weights /
  dedup_ngram_jaccard / curated_corpus_pipeline: the round-11 pair-count,
  basket-cap, cells-cache, packed-posting and empty-train guards below.
"""

from __future__ import annotations

import re

import pytest

from iceberg_classifier_spark.plans.registry import load_all_queries

REGISTRY = load_all_queries()


def _executed_plan(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    s = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    return s


def _optimized_nodes(spark, name, sf_dir):
    # traverse the LOGICAL optimizedPlan (the test_plan_guards pattern):
    # with AQE on, the physical root is AdaptiveSparkPlanExec — a leaf
    # whose children() is empty, which made an executedPlan walk always
    # find nothing (r10 advice). The optimized plan also hides a cached
    # frame's build lineage behind InMemoryRelation, so a node count is
    # exactly "kernel evaluations the live plan pays".
    df = REGISTRY[name].fn(spark, sf_dir)
    nodes = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        nodes.append(node)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    spark.catalog.clearCache()
    return nodes


def test_featurizer_python_kernel_runs_at_most_once(spark, sf_dir):
    # the MapInPandas node lives inside the cached relation's build plan,
    # so the live plan shows 0 (cache) — before the r10 cache it showed 2
    nodes = _optimized_nodes(spark, "pretrained_featurizer_head", sf_dir)
    n = sum(1 for node in nodes if "MapInPandas" in node.nodeName())
    assert n <= 1, (
        f"pretrained_featurizer_head: {n} MapInPandas nodes — the Python "
        "conv kernel is being re-run per consumer; keep the featurizer "
        "output cached so train stats and val scoring share one pass."
    )


def test_colbert_has_no_posting_distinct_shuffle(spark, sf_dir):
    plan = _executed_plan(spark, "colbert_maxsim_retrieval", sf_dir)
    # structural guard (r10 advice): no exchange may hash-partition on
    # BOTH doc_id and word, in any key order and with any extra keys —
    # the brittle exact-prefix regex missed reordered/widened variants
    offending = [
        keys
        for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if re.search(r"\bdoc_id#\d+", keys) and re.search(r"\bword#\d+", keys)
    ]
    assert not offending, (
        "colbert_maxsim_retrieval: an exchange partitioned on "
        f"(doc_id, word) re-entered the plan ({offending}) — per-doc "
        "distinctness is row-local (array_distinct); the corpus-wide "
        "distinct shuffle was removed in r10."
    )
    assert "array_distinct" in plan


@pytest.mark.parametrize(
    "name",
    [
        "curated_corpus_pipeline",
        "token_budget_selection",
        "dedup_minhash_lsh",
        "dedup_minhash_skewed",
        "minhash_lsh_quality",
    ],
)
def test_reused_minority_frames_stay_cached(name, spark, sf_dir):
    plan = _executed_plan(spark, name, sf_dir)
    assert "InMemoryTableScan" in plan, (
        f"{name}: no InMemoryTableScan in the plan — the multi-consumer "
        "minority frame lost its cache and every consumer re-runs the "
        "corpus scan/shuffle lineage."
    )


@pytest.mark.parametrize(
    "name", ["itemitem_cosine_topk", "coverage_novelty_recs"]
)
def test_pair_count_is_sort_streamed_not_hashed(name, spark, sf_dir):
    # r11: the 1.27e9-row pair stream (97% unique keys at sf10) must be
    # counted by the pk-partitioned window (radix sort + streaming
    # one-group-at-a-time count, no hash-map state) — a refactor back to
    # groupBy(pk).count() reintroduces the ~40 GB spilling hash agg.
    # Searched in the formatted explain text because coverage's pair
    # frame is persisted and its window lives inside the cached
    # relation's build plan (invisible to an optimizedPlan walk).
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    spark.catalog.clearCache()
    assert "windowspecdefinition(pk#" in plan, (
        f"{name}: no Window partitioned on the packed pair key pk — the "
        "sort-streamed pair count was replaced with a hash aggregation."
    )


def test_itemitem_has_no_per_user_cap_window(spark, sf_dir):
    # r11: the cap is slice(sort_array(collect_set)) — row-local. A
    # Window partitioned on the user column means the old
    # distinct -> row_number -> self-join machinery (3 data-sized
    # exchanges) came back.
    nodes = _optimized_nodes(spark, "itemitem_cosine_topk", sf_dir)
    for n in nodes:
        if n.nodeName() == "Window":
            try:
                spec = n.partitionSpec()
                keys = [spec.apply(i).toString() for i in range(spec.size())]
            except Exception:  # noqa: BLE001
                continue
            assert not any(k.startswith("u#") for k in keys), (
                "itemitem_cosine_topk: a Window partitioned on the user "
                "column re-entered the plan — the basket cap must stay "
                "row-local (slice of the sorted collect_set)."
            )


def test_dsir_cells_frame_is_cached(spark, sf_dir):
    # r11: the (doc, slot) cells aggregate feeds three differently-pruned
    # consumers that AQE cannot stage-share; without the cache the
    # tokenize+md5 corpus pass runs three times (r10 plan evidence:
    # plans/r10/dsir_importance_weights_after.txt, 3 scans).
    nodes = _optimized_nodes(spark, "dsir_importance_weights", sf_dir)
    n_inmem = sum(1 for n in nodes if "InMemoryRelation" in n.nodeName())
    assert n_inmem >= 2, (
        f"dsir_importance_weights: {n_inmem} InMemoryRelation consumers — "
        "the cells cache was dropped and every consumer re-tokenizes the "
        "corpus."
    )


def test_ngram_posting_entries_are_packed_longs(spark, sf_dir):
    # r11: posting entries are one packed int64 (doc_id * 2^31 + n_sh),
    # not (doc_id, n_sh) structs — halves both data-sized exchanges.
    df = REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    spark.catalog.clearCache()
    assert "collect_list(pe#" in plan, (
        "dedup_ngram_jaccard: posting lists no longer collect the packed "
        "int64 entry (pe) — the struct kernel is only for corpora whose "
        "doc_ids overflow the pack."
    )


def test_curated_stage6_row_survives_empty_train(spark, tmp_path):
    # degenerate corpus: every doc_id is an eval holdout (doc_id % 7 == 0)
    # so train/qkept/sel are all EMPTY. rollup over empty input emits zero
    # rows (no grand-total row), so the stage-6 counter must come from the
    # anchored 1-row left join, not from the rollup's gid==1 row
    # (r10 verdict item 6 — latent semantics divergence the oracle can't
    # see until a degenerate frame triggers it).
    docs = spark.createDataFrame(
        [(7 * k, "w1 w2 w3", "en", "s", 8) for k in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    rows = REGISTRY["curated_corpus_pipeline"].fn(spark, sf).collect()
    spark.catalog.clearCache()
    by_ord = {}
    for r in rows:
        by_ord.setdefault(r.stage_ord, []).append(r)
    assert 6 in by_ord, (
        "curated_corpus_pipeline: the stage-6 (budget_selected total) row "
        "vanished on an empty-train corpus — it must be emitted "
        "unconditionally (anchored 1-row left join over the rollup total)."
    )
    (s6,) = by_ord[6]
    assert s6.n_docs == 0 and s6.n_tokens == 0
    # stage 1 still counts the raw corpus
    (s1,) = by_ord[1]
    assert s1.n_docs == 5
    # no per-language stage-7 rows exist for an empty selection
    assert 7 not in by_ord
