"""Analytics wave 35: drift divergences, rank concordance, graded
ranking quality, and tail-risk measures.

- `js_hellinger_drift` — Jensen-Shannon divergence, Hellinger
  distance, and total variation between the pre-1998 and post-1998
  order-price distributions on a shared $10k-bin histogram — the
  bounded-metric complements of `kl_drift` (unbounded) and
  `psi_stability_index` (bin-floored).
- `kendall_tau_daily` — Kendall tau-b between daily order count and
  daily revenue by exact concordant/discordant pair counting over
  the bounded day frame (the robust, tie-correct complement of
  `rank_correlation_daily`'s Spearman rho).
- `err_ranking_eval` — Expected Reciprocal Rank at 10 (Chapelle
  2009) over the corpus-derived 2-term queries of the `bm25_search`
  family: graded relevance from term frequency, cascade model via an
  order-pinned fold (no ln/exp cumulative-product trick).
- `var_cvar_daily` — historical one-day Value-at-Risk and expected
  shortfall (CVaR) of daily revenue changes at 95%, exact order
  statistics over the bounded day frame.

Determinism: histograms/day frames carry exact int64; divergence and
ERR folds are order-pinned or bounded; outputs rounded 6dp.

Scale: every operator is one fact pass to a bounded frame
(histogram cells / calendar days / 3 queries x top-10); pair
counting and windows run on those bounded frames only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import (
    QUERY_RANKS,
    doc_freq,
    query_id,
    ranked_words,
    word_tokens,
)
from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "js_hellinger_drift",
    oracle="""
    WITH binned AS (
      SELECT CAST(round(o_totalprice / 10000.0) AS BIGINT) AS cell,
             CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                  < DATE '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pre,
             CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
                  >= DATE '1998-01-01' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_post
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_pre) AS BIGINT) AS tp,
             CAST(sum(n_post) AS BIGINT) AS tq
      FROM binned
    ), pq AS (
      SELECT b.cell,
             CAST(b.n_pre AS DOUBLE) / t.tp AS p,
             CAST(b.n_post AS DOUBLE) / t.tq AS q
      FROM binned b CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           (SELECT tp FROM tot) AS n_pre,
           (SELECT tq FROM tot) AS n_post,
           round(sum(CASE WHEN p > 0
                     THEN 0.5 * p * ln(p / ((p + q) / 2))
                     ELSE 0 END
                   + CASE WHEN q > 0
                     THEN 0.5 * q * ln(q / ((p + q) / 2))
                     ELSE 0 END), 6) AS js_divergence,
           round(sqrt(0.5 * sum((sqrt(p) - sqrt(q))
                                * (sqrt(p) - sqrt(q)))), 6)
             AS hellinger,
           round(0.5 * sum(abs(p - q)), 6) AS total_variation
    FROM pq
    """,
)
def js_hellinger_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded distribution-drift metrics between the pre-1998 and
    post-1998 order price distributions on a shared $10k-bin
    histogram: Jensen-Shannon divergence (symmetric, finite even
    with disjoint support — the mixture M=(P+Q)/2 keeps every log
    finite), Hellinger distance, and total variation. The bounded
    trio completes the drift suite next to `kl_drift` (unbounded),
    `psi_stability_index` (needs bin flooring), and
    `emd_value_drift` (transport).

    Determinism: one conditional-aggregate pass yields exact int64
    cell counts; p/q are single divisions of exact ints; the ~50
    divergence terms sum as smooth O(1e-2) doubles rounded 6dp.

    Scale: ONE fact scan, map-side combine to the bounded cell
    frame; nothing downstream touches raw rows.
    """
    o = load(spark, sf_dir, "orders")
    pre = F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    binned = o.groupBy(
        F.round(F.col("o_totalprice") / 10000.0).cast("bigint").alias("cell")
    ).agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("bigint").alias("n_pre"),
        F.sum(F.when(~pre, 1).otherwise(0)).cast("bigint").alias("n_post"),
    )
    tot = binned.agg(
        F.sum("n_pre").cast("bigint").alias("tp"),
        F.sum("n_post").cast("bigint").alias("tq"),
    )
    pq = binned.crossJoin(F.broadcast(tot)).select(
        "cell",
        "tp",
        "tq",
        (F.col("n_pre").cast("double") / F.col("tp")).alias("p"),
        (F.col("n_post").cast("double") / F.col("tq")).alias("q"),
    )
    return pq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("tp").alias("n_pre"),
        F.max("tq").alias("n_post"),
        F.round(
            F.expr(
                "sum(CASE WHEN p > 0"
                " THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END"
                " + CASE WHEN q > 0"
                " THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END)"
            ),
            6,
        ).alias("js_divergence"),
        F.round(
            F.sqrt(
                F.expr(
                    "0.5 * sum((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)))"
                )
            ),
            6,
        ).alias("hellinger"),
        F.round(F.expr("0.5 * sum(abs(p - q))"), 6).alias("total_variation"),
    )


@query(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
               AS BIGINT) AS tx,
             CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
               AS BIGINT) AS ty
      FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
           conc AS concordant, disc AS discordant,
           tx AS ties_x, ty AS ties_y,
           round((conc - disc)
                 / sqrt(CAST(n0 - tx AS DOUBLE)
                        * CAST(n0 - ty AS DOUBLE)), 6) AS tau_b
    FROM pairs
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank concordance between daily order count and
    daily dollar revenue: exact concordant/discordant/tied pair
    counts over all day pairs, with the tau-b tie correction
    (conc - disc) / sqrt((n0 - t_x)(n0 - t_y)). The tie-exact
    complement of `rank_correlation_daily`'s Spearman rho — counts
    tie heavily since daily order counts repeat.

    Determinism: all pair statistics are integer counts; tau-b is
    one double expression over them.

    Scale: the fact table reduces to the bounded calendar frame
    (<=2.4k rows at ANY corpus size) in one pass; the all-pairs
    join is a constant ~2.9M lightweight integer comparisons —
    deliberately bounded, never fact-sized.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    ).cache()
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum(
            F.when(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
                < 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
        F.sum(F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0))
        .cast("bigint")
        .alias("tx"),
        F.sum(F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0))
        .cast("bigint")
        .alias("ty"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return pairs.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("tx").alias("ties_x"),
        F.col("ty").alias("ties_y"),
        F.round(
            (F.col("conc") - F.col("disc"))
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


_ERR_K = 10


@query(
    "err_ranking_eval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), corpus AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks
    ), rankedw AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word)
               AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word,
             CASE WHEN rk IN (3, 8) THEN 1
                  WHEN rk IN (13, 18) THEN 2 ELSE 3 END AS query_id
      FROM rankedw WHERE rk IN (3, 8, 13, 18, 23, 28)
    ), dfreq AS (
      SELECT f.word, CAST(count(*) AS BIGINT) AS df FROM tf f
      WHERE f.word IN (SELECT word FROM terms) GROUP BY 1
    ), scored AS (
      SELECT t.query_id, f.doc_id,
             sum(f.tf * ln(c.n * 1.0 / d.df)) AS score,
             least(3, CAST(sum(f.tf) AS BIGINT)) AS grade
      FROM tf f
      JOIN terms t ON t.word = f.word
      JOIN dfreq d ON d.word = f.word
      CROSS JOIN corpus c
      GROUP BY 1, 2
    ), topk AS (
      SELECT query_id, doc_id, score, grade,
             (pow(2, grade) - 1) / 8.0 AS rel
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) <= {_ERR_K}
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS n_ranked,
           CAST(max(grade) AS BIGINT) AS max_grade,
           round(list_reduce(
             list_prepend([0.0, 1.0, 0.0],
               list([rel] ORDER BY score DESC, doc_id)),
             (a, b) -> [a[1] + a[2] * b[1] / (a[3] + 1),
                        a[2] * (1.0 - b[1]), a[3] + 1.0])[1], 6)
             AS err_at_{_ERR_K}
    FROM topk GROUP BY query_id ORDER BY query_id
    """,
)
def err_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank at {_ERR_K} (Chapelle 2009 cascade
    model) for the corpus-derived 2-term tf-idf queries of the
    `bm25_search` family: graded relevance g = min(3, matched term
    frequency), stop probability R = (2^g - 1)/8, and
    ERR = sum_r (1/r) R_r prod_(i<r) (1 - R_i). The cascade product
    runs as an ORDER-PINNED flat-array fold over the (score desc,
    doc_id) ranking — [err, prod, rank] accumulator, exact dyadic
    R values, no exp/ln cumulative-product trick — so both engines
    fold bit-identically. Graded complement of the binary
    `session_mrr` / `ndcg_ann_eval` metrics.

    Scale: vocabulary ranking is bounded to max(ranks) rows
    (TakeOrdered, then the rank window); posting work is per-term (6
    terms broadcast); per-query ranking windows are per-query-bounded;
    the fold touches 10 rows per query.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    corpus = toks.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    terms = ranked_words(toks, QUERY_RANKS).select("word", query_id())
    dfreq = doc_freq(tf, terms)
    scored = (
        tf.join(F.broadcast(terms), "word")
        .join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr("sum(tf * ln(n * 1.0 / df))").alias("score"),
            F.expr("least(3, CAST(sum(tf) AS BIGINT))").alias("grade"),
        )
    )
    topk = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("score"), "doc_id"
                )
            ),
        )
        .filter(F.col("rk") <= _ERR_K)
        .withColumn("rel", F.expr("(pow(2, grade) - 1) / 8.0"))
    )
    return (
        topk.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
            F.max("grade").cast("bigint").alias("max_grade"),
            F.round(
                F.expr(
                    "aggregate("
                    " transform(array_sort(collect_list("
                    "   struct((-score) AS ns, doc_id AS did, rel AS rel))),"
                    "   s -> s.rel),"
                    " array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE),"
                    "       CAST(0.0 AS DOUBLE)),"
                    " (a, r) -> array(a[0] + a[1] * r / (a[2] + 1),"
                    "                 a[1] * (1.0 - r), a[2] + 1.0))[0]"
                ),
                6,
            ).alias(f"err_at_{_ERR_K}"),
        )
        .orderBy("query_id")
    )


@query(
    "var_cvar_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), chg AS (
      SELECT c.d, c.y - p.y AS dy
      FROM daily c JOIN daily p ON p.d = c.d - 1
    ), ranked AS (
      SELECT dy, row_number() OVER (ORDER BY dy, d) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM chg
    ), cut AS (
      SELECT dy AS var_k, n FROM ranked
      WHERE rk = CAST(ceil(0.05 * n) AS BIGINT)
    )
    SELECT c.n AS n_days,
           CAST(c.var_k AS DOUBLE) AS var_95_k,
           round(CAST((SELECT sum(dy) FROM chg WHERE dy <= c.var_k)
                   AS DOUBLE)
                 / (SELECT count(*) FROM chg WHERE dy <= c.var_k), 6)
             AS cvar_95_k,
           (SELECT CAST(min(dy) AS BIGINT) FROM chg) AS worst_day_k,
           (SELECT CAST(max(dy) AS BIGINT) FROM chg) AS best_day_k
    FROM cut c
    """,
)
def var_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical one-day 95% Value-at-Risk and expected shortfall
    (CVaR) of day-over-day revenue changes ($1k units): VaR is the
    exact ceil(0.05 n)-th order statistic of the change
    distribution; CVaR averages the tail at or below it. Emits the
    two risk measures plus the worst/best single-day swings —
    the tail-risk counterpart of `max_drawdown_users` /
    `garman_klass_volatility`.

    Determinism: changes are exact int64 ($1k-quantized daily
    revenue); the order statistic breaks ties on (dy, d); the tail
    mean is an exact-int ratio.

    Scale: fact table reduces to the bounded calendar frame in one
    pass; the rank window runs over <=2.4k rows (bounded by the
    fixed date range — documented single-partition window).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("y")
    )
    c = daily.alias("c")
    p = daily.alias("p")
    chg = c.join(F.broadcast(p), F.col("p.d") == F.col("c.d") - 1).select(
        F.col("c.d").alias("d"), (F.col("c.y") - F.col("p.y")).alias("dy")
    ).cache()
    ranked = chg.select(
        "dy",
        F.row_number().over(Window.orderBy("dy", "d")).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).cast("bigint").alias("n"),
    )
    cut = ranked.where(
        F.col("rk") == F.ceil(0.05 * F.col("n")).cast("bigint")
    ).select(F.col("dy").alias("var_k"), "n")
    tail = cut.alias("cu").join(
        chg.alias("ch"), F.col("ch.dy") <= F.col("cu.var_k")
    ).groupBy("cu.var_k", "cu.n").agg(
        F.sum("ch.dy").cast("bigint").alias("tail_sum"),
        F.count(F.lit(1)).cast("bigint").alias("tail_n"),
    )
    ext = chg.agg(
        F.min("dy").cast("bigint").alias("worst_day_k"),
        F.max("dy").cast("bigint").alias("best_day_k"),
    )
    return tail.crossJoin(F.broadcast(ext)).select(
        F.col("n").alias("n_days"),
        F.col("var_k").cast("double").alias("var_95_k"),
        F.round(
            F.col("tail_sum").cast("double") / F.col("tail_n"), 6
        ).alias("cvar_95_k"),
        "worst_day_k",
        "best_day_k",
    )
