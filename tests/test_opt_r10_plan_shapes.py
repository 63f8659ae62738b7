"""Round-10 optimization plan-shape guards.

Each assertion pins a specific plan property that a round-10 optimization
established (OPTIMIZATION_r10.md), so a later refactor that silently
reintroduces the removed work fails here instead of only showing up as a
bench regression:

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


def _count_nodes(spark, name, sf_dir, node_name_substr):
    # traverse the LOGICAL optimizedPlan (the test_plan_guards pattern):
    # with AQE on, the physical root is AdaptiveSparkPlanExec — a leaf
    # whose children() is empty, which made the old executedPlan walk
    # always return 0 (r10 advice). The optimized plan also hides a
    # cached frame's build lineage behind InMemoryRelation, so the count
    # is exactly "kernel evaluations the live plan pays".
    df = REGISTRY[name].fn(spark, sf_dir)
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node_name_substr in node.nodeName():
            n += 1
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    spark.catalog.clearCache()
    return n


def test_featurizer_python_kernel_runs_at_most_once(spark, sf_dir):
    # the MapInPandas node lives inside the cached relation's build plan,
    # so the live plan shows 0 (cache) — before the r10 cache it showed 2
    n = _count_nodes(spark, "pretrained_featurizer_head", sf_dir, "MapInPandas")
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
