"""Corpus-curation operators, wave 6: token-budget-constrained selection
and deterministic epoch shard shuffling — the two planning steps between
"scored corpus" and "training run" in a large-scale pretraining pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.prefix import running_sums
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_TOKS = "string_split(trim(text), ' ')"


@query(
    "token_budget_selection",
    headline=True,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_TOKS}) AS n,
             len(list_distinct({_TOKS})) AS u
      FROM documents
    ), q AS (
      SELECT doc_id, lang, n, (u * 1000000) // n AS q
      FROM t WHERE n > 0
    ), b AS (
      SELECT CAST(sum(n) // 4 AS BIGINT) AS budget FROM q
    ), cum AS (
      SELECT doc_id, lang, n, q,
             sum(n) OVER (ORDER BY q DESC, doc_id) AS s
      FROM q
    ), sel AS (
      SELECT cum.* FROM cum CROSS JOIN b WHERE cum.s <= b.budget
    )
    SELECT sel.lang,
           CAST(count(*) AS BIGINT) AS n_docs_sel,
           CAST(sum(sel.n) AS BIGINT) AS tokens_sel,
           CAST(min(sel.q) AS BIGINT) AS min_quality_sel,
           CAST(max(b.budget) AS BIGINT) AS budget_tokens
    FROM sel CROSS JOIN b
    GROUP BY 1 ORDER BY 1
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection — the curation step that
    picks the highest-quality documents until a training-token budget is
    exhausted (budget = 1/4 of the corpus token mass here; quality =
    integer lexical diversity, unique_tokens×1e6 div tokens, so the
    ranking is exact in both engines). Emits the per-language composition
    of the selected set plus the realized quality cutoff — the numbers a
    data-mixing run is planned from.

    Scale: the greedy prefix needs a corpus-wide cumulative token sum in
    (quality DESC, doc_id) order — ``operators.prefix.running_sums`` over
    ≤245 quality buckets, so no single-partition sort of the corpus; the
    per-doc scoring is one shuffle-free scan.
    """
    toks = F.split(F.trim("text"), " ")
    t = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.size(toks).alias("n"),
            F.size(F.array_distinct(toks)).alias("u"),
        )
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            "lang",
            "n",
            F.expr("(u * 1000000) div n").alias("q"),
        )
        # negated quality buckets for the two-level prefix sum: q is in
        # [0, 1e6], so -(q div 4096) never decreases in (q DESC, doc_id)
        .withColumn("qb", F.expr("-(q div 4096)"))
        # cached: t is the per-doc METADATA frame (doc_id, lang, n, q, qb —
        # no text), consumed by the bucket agg AND the cumsum join; without
        # the cache each consumer re-tokenizes the corpus (split +
        # array_distinct per doc — the scan-dominant cost, measured in the
        # before plan as two full parquet passes). Persist-the-minority
        # (guide §5): ~40 B/doc vs the corpus text bytes
        .cache()
    )
    cum, bkt = running_sums(t, "qb", [F.desc("q"), "doc_id"], {"s": "n"})
    # the budget is the grand total of the bucket subtotals — derived from
    # bkt (exact int64 sums are associative) instead of a third scan of t
    budget = bkt.agg(F.expr("sum(s) div 4").cast("bigint").alias("budget"))
    sel = cum.crossJoin(F.broadcast(budget)).filter(F.col("s") <= F.col("budget"))
    return (
        sel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_sel"),
            F.sum("n").alias("tokens_sel"),
            F.min("q").alias("min_quality_sel"),
            F.max("budget").alias("budget_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "epoch_shuffle_shards",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, len({_TOKS}) AS n,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 8),
                 k -> CAST(strpos('0123456789abcdef',
                        substr(md5(concat(CAST(doc_id AS VARCHAR), ':1')),
                               CAST(k AS INTEGER), 1)) - 1 AS BIGINT))),
               (acc, c) -> acc * 16 + c) % 16 AS shard
      FROM documents
    ), s AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM d GROUP BY 1
    )
    SELECT shard, n_docs, n_tokens, n_langs,
           round(n_tokens * 1.0 / (sum(n_tokens) OVER () / 16), 6)
             AS balance_ratio
    FROM s ORDER BY shard
    """,
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every document is assigned to one of
    16 training shards by a seeded portable hash (md5 of "doc_id:epoch"),
    and the per-shard composition (docs, token mass, language coverage,
    token-balance ratio vs the ideal 1/16) is reported — the shard
    manifest a distributed training job reads. Changing the epoch seed
    re-deals every document without any data movement decision being made
    by position, which is how 100 TB corpora get re-shuffled between
    epochs: the "shuffle" is a pure hash partition, not a sort.

    Scale: one scan, one map-side-combined agg on 16 keys; the only
    window runs over the 16-row shard dimension. At any corpus size the
    plan is scan + tiny agg.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), " ")).alias("n"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":1"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 16
        ).alias("shard"),
    )
    s = d.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    return s.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_langs",
        F.round(
            F.col("n_tokens")
            * 1.0
            / (F.sum("n_tokens").over(Window.partitionBy()) / 16),
            6,
        ).alias("balance_ratio"),
    ).orderBy("shard")
