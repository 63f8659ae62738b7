"""Search wave 5: Dirichlet-smoothed query-likelihood ranking.

The language-modeling ranker (Ponte-Croft / Zhai-Lafferty) is the
other classical retrieval family next to BM25: score(q,d) =
Σ_w ln((tf_wd + μ·p(w|C)) / (|d| + μ)). Unlike BM25 it scores EVERY
document (absent terms contribute the collection prior), which is
exactly what makes its distributed form interesting: the match part
rides the pruned postings, the absent-term part is a per-doc closed
form — no corpus-wide score join needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import (
    QUERY_RANKS,
    query_id,
    ranked_words,
    word_tokens,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_QL_MU = 300.0
_QL_TOPK = 10


@query(
    "dirichlet_ql_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ), corpus AS (
      SELECT CAST(sum(dl) AS BIGINT) AS total_dl FROM dl
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk,
             CAST(count(*) AS BIGINT) AS cf
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word, cf,
             CASE WHEN rk IN (3, 8) THEN 1
                  WHEN rk IN (13, 18) THEN 2 ELSE 3 END AS query_id
      FROM ranked WHERE rk IN (3, 8, 13, 18, 23, 28)
    ), prior AS (
      SELECT t.query_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(ln({_QL_MU} * t.cf / c.total_dl) ORDER BY t.word)),
               (a, v) -> a + v) AS lp_absent,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM terms t CROSS JOIN corpus c GROUP BY t.query_id
    ), match_part AS (
      SELECT t.query_id, f.doc_id,
             sum(ln((f.tf + {_QL_MU} * t.cf / c.total_dl))
                 - ln({_QL_MU} * t.cf / c.total_dl)) AS lift
      FROM tf f JOIN terms t ON t.word = f.word
      CROSS JOIN corpus c
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.query_id, d.doc_id,
             coalesce(m.lift, 0.0) + p.lp_absent
             - p.n_terms * ln(d.dl + {_QL_MU}) AS score
      FROM dl d CROSS JOIN prior p
      LEFT JOIN match_part m
        ON m.doc_id = d.doc_id AND m.query_id = p.query_id
    )
    SELECT query_id,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
           doc_id, round(score, 6) AS score
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id) <= {_QL_TOPK}
    ORDER BY query_id, rank
    """,
)
def dirichlet_ql_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (μ=300) for the
    SAME three two-term queries as `bm25_search` (terms at fixed
    corpus-frequency ranks), so the two classical ranking families are
    directly comparable on identical queries. The score decomposes as
    matched-term lift (over pruned postings) + a per-query absent-term
    prior + a per-doc length penalty −|q|·ln(dl+μ) — so every document
    is scored, as QL semantics require, without any corpus×query
    postings fan-out.

    Determinism: tf/dl/cf are exact int64; each doc's score adds ≤2
    matched floats (commutative) to closed-form terms; the absent-term
    prior folds the 2 query terms in word order.

    Scale: postings prune through the broadcast 6-term dimension; the
    all-docs part is a map-side expression over the doc-length frame;
    top-10 per query is a bounded window merge (the `bm25_search`
    plan shape plus one broadcast prior).
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("dl")
    )
    corpus = dl.agg(F.sum("dl").cast("bigint").alias("total_dl"))
    terms = ranked_words(toks, QUERY_RANKS).select(
        "word", F.col("c").alias("cf"), query_id()
    )
    prior = (
        terms.crossJoin(F.broadcast(corpus))
        .groupBy("query_id")
        .agg(
            F.expr(
                f"""
                aggregate(transform(array_sort(collect_list(struct(word,
                    ln({_QL_MU} * cf / total_dl) AS vv))), s -> s.vv),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            ).alias("lp_absent"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    match_part = (
        tf.join(F.broadcast(terms), "word")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.log(
                    F.col("tf") + _QL_MU * F.col("cf") / F.col("total_dl")
                )
                - F.log(_QL_MU * F.col("cf") / F.col("total_dl"))
            ).alias("lift")
        )
    )
    scored = (
        dl.crossJoin(F.broadcast(prior))
        .join(match_part, ["doc_id", "query_id"], "left")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(F.col("lift"), F.lit(0.0))
                + F.col("lp_absent")
                - F.col("n_terms") * F.log(F.col("dl") + _QL_MU)
            ).alias("score"),
        )
    )
    # top-10 per query as THREE TakeOrdereds over the fixed query ids —
    # never a row_number window partitioned by query over the whole
    # corpus (3 partitions × |docs| is the global-rank shape the plan
    # tests forbid); the final rank window sees only the 30-row union
    tops = None
    for qid in (1, 2, 3):
        t = (
            scored.filter(F.col("query_id") == qid)
            .orderBy(F.desc("score"), "doc_id")
            .limit(_QL_TOPK)
        )
        tops = t if tops is None else tops.unionAll(t)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        tops.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("query_id", "rank")
    )
