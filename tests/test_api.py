"""Behavior tests for the public library entry points (api.py) on
user-shaped DataFrames with non-benchmark column names — proving the
reusable families work without the registry's fixed star schema."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from iceberg_classifier_spark import api


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (4, "completely different text about spark clusters and shuffles", "en"),
        (5, "short", "en"),
        (6, "le renard brun rapide saute par dessus le chien paresseux", "fr"),
    ]
    return spark.createDataFrame(rows, "url long, body string, lang string")


def test_exact_dedup_keeps_min_id(corpus):
    kept = api.dedup(corpus, text_col="body", id_col="url").toPandas()
    assert sorted(kept.url) == [1, 3, 4, 5, 6]  # 2 is the exact dup of 1


def test_minhash_pairs_find_near_dup(corpus):
    pairs = api.minhash_dedup_pairs(
        corpus, text_col="body", id_col="url"
    ).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (1, 2) in got  # exact dup: every band collides
    est = dict(zip(zip(pairs.id_a, pairs.id_b), pairs.est_jaccard))
    assert est[(1, 2)] == 1.0
    # near dup (one token differs) shares most shingles; if banding
    # surfaces it the estimate must be high but below the exact pair
    if (1, 3) in got:
        assert 0.3 <= est[(1, 3)] < 1.0


def test_near_dedup_collapses_component(corpus):
    kept = api.dedup(
        corpus, text_col="body", id_col="url", near=True, min_jaccard=0.5
    ).toPandas()
    assert 1 in set(kept.url)  # component representative (min id)
    assert 2 not in set(kept.url)
    assert 4 in set(kept.url) and 6 in set(kept.url)


def test_decontaminate_drops_gram_overlap(spark, corpus):
    eval_df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog indeed",)],
        "body string",
    )
    clean = api.decontaminate(
        corpus, eval_df, text_col="body", id_col="url", gram_n=8
    ).toPandas()
    # docs 1/2 share the verbatim 8-gram with the eval doc; 3 differs at
    # token 9 but still shares 'the quick ... the lazy' 8-gram prefix
    assert 1 not in set(clean.url) and 2 not in set(clean.url)
    assert 4 in set(clean.url) and 5 in set(clean.url)


def test_quality_filter_and_budget(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(10 + i))) for i in range(6)]
        + [(99, "dup dup dup dup dup dup dup dup")],
        "doc_id long, text string",
    )
    q = api.quality_filter(docs, min_tokens=8, min_unique_ratio=0.5)
    got = q.toPandas()
    assert 99 not in set(got.doc_id)  # diversity 1/8 < 0.5
    assert set(got.columns) >= {"n_tokens", "quality"}
    sel = api.token_budget_select(q, budget_tokens=30).toPandas()
    assert 0 < sel.n_tokens.sum() <= 30


def test_token_budget_select_accepts_double_quality(spark):
    # a 0-1 model score as the quality column: the bucket expression must
    # type-check for doubles (integer div does not)
    docs = spark.createDataFrame(
        [(1, 0.9, 5), (2, 0.7, 5), (3, 0.5, 5)],
        "doc_id long, quality double, n_tokens int",
    )
    sel = api.token_budget_select(docs, budget_tokens=10)
    assert sorted(r.doc_id for r in sel.collect()) == [1, 2]


def test_token_budget_matches_registered_plan(spark, sf_dir):
    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.sources.tables import load

    # the per-doc (doc_id, lang, n, q) frame token_budget_selection builds
    toks = F.split(F.trim("text"), " ")
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.size(toks).alias("n"),
                F.size(F.array_distinct(toks)).alias("u"))
        .filter(F.col("n") > 0)
        .select("doc_id", "lang", "n", F.expr("(u * 1000000) div n").alias("q"))
    )
    budget = docs.agg(F.expr("sum(n) div 4")).first()[0]
    got = (
        api.token_budget_select(docs, budget, quality_col="q", n_tokens_col="n")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_sel"),
            F.sum("n").alias("tokens_sel"),
            F.min("q").alias("min_quality_sel"),
        )
        .toPandas()
        .sort_values("lang", ignore_index=True)
    )
    reg = load_all_queries()
    exp = (
        reg["token_budget_selection"].fn(spark, sf_dir)
        .select("lang", "n_docs_sel", "tokens_sel", "min_quality_sel")
        .toPandas()
        .sort_values("lang", ignore_index=True)
    )
    spark.catalog.clearCache()
    assert len(exp) > 0
    assert got.equals(exp)


def test_curation_funnel_composes(spark, corpus):
    eval_df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "body string"
    )
    out = api.curation_funnel(
        corpus,
        eval_df,
        text_col="body",
        id_col="url",
        min_tokens=2,
    ).toPandas()
    assert 5 not in set(out.url)  # below min_tokens
    assert 1 not in set(out.url) and 2 not in set(out.url)  # contaminated
    assert 4 in set(out.url) and 6 in set(out.url)


def test_quality_filter_whitespace_runs_do_not_skew_ratio(spark):
    # round-6 advice: 'a  a' (double space) must score the same quality
    # as 'a a' — both tokenize to [a, a] under the shared ' +' split
    docs = spark.createDataFrame(
        [(1, "a a"), (2, "a  a"), (3, "x   y \t z")],
        "doc_id long, text string",
    )
    got = (
        api.quality_filter(docs, min_tokens=1)
        .select("doc_id", "n_tokens", "quality")
        .toPandas()
        .set_index("doc_id")
    )
    assert got.loc[1, "quality"] == got.loc[2, "quality"] == 500000
    assert got.loc[1, "n_tokens"] == got.loc[2, "n_tokens"] == 2
    assert got.loc[3, "quality"] == 1000000


def test_ann_topk_zero_norm_and_self_exclusion(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero-norm: NaN cosine would rank 1 for everyone
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = api.ann_topk(df, df.where(F.col("vec_id") == 0), k=2).toPandas()
    assert 2 not in set(got.neighbor_id)  # zero-norm dropped, not rank 1
    assert 0 not in set(got.neighbor_id)  # self excluded by default
    assert list(got.sort_values("rank").neighbor_id) == [1, 3]
    # exclude_self=False: distinct datasets sharing id values keep the hit
    kept = api.ann_topk(
        df, df.where(F.col("vec_id") == 0), k=2, exclude_self=False
    ).toPandas()
    assert list(kept.sort_values("rank").neighbor_id) == [0, 1]


def test_ann_topk_matches_registered_plan(spark, sf_dir):
    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    got = (
        api.ann_topk(emb, emb.where(F.col("vec_id") < 8), k=5)
        .select("query_id", "neighbor_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    reg = load_all_queries()
    exp = (
        reg["ann_bruteforce_topk"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id", "rank")
        .toPandas()
        .sort_values(["query_id", "rank"], ignore_index=True)
    )
    # same neighbors in the same order (the registered plan ranks on
    # fixed-point cosine; ranking is scale-invariant so raw cosine agrees)
    assert got.equals(exp)


def test_minhash_pairs_match_registered_plan(spark, sf_dir):
    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    got = (
        api.minhash_dedup_pairs(docs, bucket_cap=None)
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    reg = load_all_queries()
    exp = (
        reg["dedup_minhash_lsh"].fn(spark, sf_dir)
        .select("doc_a", "doc_b", "est_jaccard")
        .toPandas()
        .sort_values(["doc_a", "doc_b"], ignore_index=True)
    )
    spark.catalog.clearCache()
    # same candidate pairs AND the same estimates: the library's default
    # signatures and bands are the registered plan's, bit for bit
    assert len(exp) > 0
    assert got.equals(exp)


def test_folds_metrics_reexports(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 2).cast("double").alias("y")
    )
    folded = api.with_stratified_folds(df, label_col="y", id_col="id", k=4)
    assert folded.where(F.col("fold").between(0, 3)).count() == 100
    probs = df.withColumn("p", F.lit(0.5))
    assert abs(api.log_loss(probs, "y", "p") - 0.6931471805599453) < 1e-9


def test_minhash_pairs_hot_bucket_cap_emits_star(spark):
    """Round-7 verdict task 1: the public API's band self-join must carry
    the registry's cap+star hot-bucket control. A 40-copy template cluster
    with bucket_cap=8 must emit ONLY its star (min-id rep → member), never
    the 780-pair clique, while small buckets still enumerate fully and
    keep-one dedup components are unchanged."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, template) for i in range(40)] + [
        (100, "completely different text about spark clusters and shuffles"),
        (101, "completely different text about spark clusters and shuffles"),
    ]
    df = spark.createDataFrame(rows, "url long, body string")
    pdf = api.minhash_dedup_pairs(
        df, text_col="body", id_col="url", bucket_cap=8
    ).toPandas()
    got = {(a, b) for a, b in zip(pdf.id_a, pdf.id_b)}
    # hot bucket (40 verbatim copies, every band collides) → star only
    assert {(a, b) for a, b in got if b < 100} == {(0, i) for i in range(1, 40)}
    # small bucket (2 copies) still enumerates its pair
    assert (100, 101) in got
    # est_jaccard is computed on star pairs too (verbatim copies → 1.0)
    assert set(pdf[pdf.id_b < 100].est_jaccard) == {1.0}
    # keep-one consumer sees identical components: star links every member
    # to the representative
    kept = api.dedup(
        df, text_col="body", id_col="url", near=True,
        min_jaccard=0.5, bucket_cap=8,
    ).toPandas()
    assert sorted(kept.url) == [0, 100]
    # opt-out restores full enumeration
    full = api.minhash_dedup_pairs(
        df, text_col="body", id_col="url", bucket_cap=None
    ).toPandas()
    assert len(full[full.id_b < 100]) == 40 * 39 // 2


def test_minhash_pairs_plan_bounds_the_band_selfjoin(spark):
    """Plan-shape guard for the public API (mirrors
    test_round7_capped_pair_family_bounds_every_selfjoin): under the
    default bucket_cap, every pair self-join (`<` between two id columns)
    must have an Aggregate — the bucket-size control — in BOTH input
    subtrees; the uncapped hazard plan has raw scan→explode chains on
    both sides."""
    df = spark.createDataFrame(
        [(i, f"tok{i} a b c d e f") for i in range(4)], "url long, body string"
    )
    pairs = api.minhash_dedup_pairs(df, text_col="body", id_col="url")

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

    opt = pairs._jdf.queryExecution().optimizedPlan()
    pair_joins = 0
    stack = [opt]
    while stack:
        node = stack.pop()
        ch = node.children()
        if node.nodeName() == "Join":
            cond = str(node.condition())
            if "url#" in cond and " < " in cond:
                pair_joins += 1
                for i in range(2):
                    assert has_aggregate(ch.apply(i)), (
                        "api.minhash_dedup_pairs: pair self-join side "
                        f"{i} reaches the raw band explode with no "
                        "bucket-size aggregation — the uncapped "
                        "O(bucket²) plan the r7 verdict flagged"
                    )
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    assert pair_joins >= 1, "expected the capped pair self-join"
    assert "CartesianProduct" not in (
        pairs._jdf.queryExecution().executedPlan().toString()
    )


def test_minhash_pairs_hot_bucket_star_threshold_caveat(spark):
    """r9 advisor finding: star pairs filter on the REPRESENTATIVE's
    est_jaccard, so with a positive min_jaccard a hot bucket whose min-id
    member links sub-threshold emits nothing for that bucket — while the
    min_jaccard=0 component identity (the docstring's retained claim)
    still holds exactly. The variant text was searched offline against
    the fixed hash family: it shares >=1 LSH band with the template
    (candidate at threshold 0) and estimates 0.71875 — above 0, below
    the 0.8 filter."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    variant = "alpha chi gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, variant)] + [(i, template) for i in range(1, 40)]
    df = spark.createDataFrame(rows, "url long, body string")
    # threshold 0: the variant is rep (min id) of every bucket it shares
    # with the members; its star pairs carry the sub-1.0 estimate
    p0 = api.minhash_dedup_pairs(
        df, text_col="body", id_col="url", bucket_cap=8
    ).toPandas()
    star0 = p0[p0.id_a == 0]
    assert len(star0) == 39  # every member linked through the rep
    assert set(star0.est_jaccard.round(6)) == {0.71875}
    # component identity at min_jaccard=0: capped and uncapped keep-one
    # agree (one component, min id 0 kept)
    for cap in (8, None):
        kept = api.dedup(
            df, text_col="body", id_col="url", near=True,
            min_jaccard=0.0, bucket_cap=cap,
        ).toPandas()
        assert sorted(kept.url) == [0], cap
    # threshold 0.8: every (0, m) star pair is sub-threshold -> dropped.
    # 23/32 matching hashes means at most 5 of 8 bands fully collide, so
    # some band's bucket excludes the variant and emits the id-1 star at
    # est 1.0 — the members survive only through THAT rep
    p8 = api.minhash_dedup_pairs(
        df, text_col="body", id_col="url", bucket_cap=8, min_jaccard=0.8
    ).toPandas()
    assert not len(p8[p8.id_a == 0])
    assert set(zip(p8.id_a, p8.id_b)) == {(1, m) for m in range(2, 40)}
