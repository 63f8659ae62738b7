"""Search wave 2 + experimentation utilities: reciprocal-rank fusion,
population stability index, and A/B power analysis.

RRF is the standard hybrid-retrieval combiner (Cormack et al. 2009 —
what production search uses to merge lexical and semantic rankings);
PSI is the industry drift metric model-monitoring platforms alarm on;
the power analysis turns observed metric variance into required sample
sizes — the question every experiment review asks first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.terms import ranked_words, word_tokens
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_RRF_K = 60  # standard RRF damping constant
_RRF_RANKS = (5, 10)  # corpus frequency ranks of the two query terms
_RRF_TOPK = 15


@query(
    "rrf_hybrid_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ), ranked AS (
      SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM toks GROUP BY word
    ), terms AS (
      SELECT word, rk FROM ranked WHERE rk IN {_RRF_RANKS}
    ), perterm AS (
      SELECT t.rk AS term_rank, f.doc_id,
             row_number() OVER (PARTITION BY t.rk
                                ORDER BY f.tf DESC, f.doc_id) AS r
      FROM tf f JOIN terms t ON t.word = f.word
    ), fused AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lists,
             sum(1.0 / ({_RRF_K} + r)) AS score
      FROM perterm GROUP BY 1
    ), top AS (
      SELECT * FROM fused
      ORDER BY score DESC, doc_id LIMIT {_RRF_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                AS INTEGER) AS rank,
           doc_id, n_lists, round(score, 6) AS rrf_score
    FROM top ORDER BY rank
    """,
)
def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k={_RRF_K}) of two per-term relevance
    rankings: each query term (fixed corpus frequency ranks
    {_RRF_RANKS}) ranks its matching documents by term frequency, and
    RRF combines them as Σ 1/(k + rank) — the rank-based combiner that
    needs no score calibration, which is why hybrid lexical+vector
    search fleets standardize on it. Per-doc fusion adds at most two
    floats (IEEE addition of two values is commutative — aggregation
    order cannot change the bits, the bm25_search precedent), so fused
    scores and the final ranking are bit-exact across engines.

    Scale: term postings are pruned by a broadcast semi-join BEFORE the
    ranking shuffle; per-term ranks are windows partitioned by term
    (bounded by document frequency, the standard postings-ranking
    shape); the final top-{_RRF_TOPK} is a TakeOrdered merge with
    row_number applied on the bounded result.
    """
    toks = word_tokens(load(spark, sf_dir, "documents"), "doc_id")
    tf = toks.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    terms = ranked_words(toks, _RRF_RANKS).select("word", "rk")
    perterm = tf.join(F.broadcast(terms), "word").select(
        F.col("rk").alias("term_rank"),
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("rk").orderBy(F.desc("tf"), "doc_id"))
        .alias("r"),
    )
    fused = perterm.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum(1.0 / (_RRF_K + F.col("r"))).alias("score"),
    )
    top = fused.orderBy(F.desc("score"), "doc_id").limit(_RRF_TOPK)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("int")
        .alias("rank"),
        "doc_id",
        "n_lists",
        F.round("score", 6).alias("rrf_score"),
    ).orderBy("rank")


_PSI_BINS = 10
_PSI_SPLIT_DAY = 15  # reference = first 15 days of the month


@query(
    "psi_stability_index",
    oracle=f"""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             (CAST(day(ts) AS BIGINT) <= {_PSI_SPLIT_DAY}) AS is_ref
      FROM events
    ), mx AS (
      SELECT event_type, CAST(max(cents) AS BIGINT) AS mc FROM v GROUP BY 1
    ), binned AS (
      SELECT v.event_type,
             least({_PSI_BINS} - 1,
                   v.cents * {_PSI_BINS} // (mx.mc + 1)) AS bin,
             v.is_ref
      FROM v JOIN mx USING (event_type)
    ), cell AS (
      SELECT event_type, bin,
             CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS nb
      FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(na) AS BIGINT) AS ta,
             CAST(sum(nb) AS BIGINT) AS tb
      FROM cell GROUP BY 1
    ), terms AS (
      SELECT c.event_type, c.bin,
             ((c.na + 1) / (CAST(t.ta AS DOUBLE) + {_PSI_BINS})
              - (c.nb + 1) / (CAST(t.tb AS DOUBLE) + {_PSI_BINS}))
             * ln(((c.na + 1) / (CAST(t.ta AS DOUBLE) + {_PSI_BINS}))
                  / ((c.nb + 1) / (CAST(t.tb AS DOUBLE) + {_PSI_BINS})))
               AS term
      FROM cell c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(term ORDER BY bin)), (a, x) -> a + x), 6) AS psi,
           (list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(term ORDER BY bin)), (a, x) -> a + x) > 0.2)
             AS drift_alarm
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def psi_stability_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type: split the month into a
    reference window (days 1-{_PSI_SPLIT_DAY}) and a current window,
    bin the value distribution into {_PSI_BINS} equal-width buckets
    (exact integer bucketing off the per-type max), and report
    PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur) with add-one smoothing —
    the drift score model-monitoring platforms alarm on (>0.2 = action
    threshold). Complements kl_drift (one-sided KL on categorical
    mixes) with the binned, symmetrized industry standard on a
    continuous metric. The ≤{_PSI_BINS} per-type terms sum in a
    bin-SORTED ordered fold, so PSI is bit-exact across engines.

    Scale: one map-side-combined (type, bin, window) aggregate after a
    broadcast join of the per-type max dimension; everything downstream
    runs on the |types|×{_PSI_BINS} cell frame. Quantile-binned PSI at
    scale = swap the width formula for equi_depth_histogram_stats'
    bucketed quantile pass.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (F.dayofmonth("ts").cast("bigint") <= _PSI_SPLIT_DAY).alias("is_ref"),
    )
    mx = v.groupBy("event_type").agg(F.max("cents").cast("bigint").alias("mc"))
    binned = v.join(F.broadcast(mx), "event_type").select(
        "event_type",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.expr(f"cents * {_PSI_BINS} div (mc + 1)"),
        ).alias("bin"),
        "is_ref",
    )
    cell = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("bigint").alias("nb"),
    )
    tot = cell.groupBy("event_type").agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    pa = (F.col("na") + 1) / (F.col("ta").cast("double") + _PSI_BINS)
    pb = (F.col("nb") + 1) / (F.col("tb").cast("double") + _PSI_BINS)
    terms = cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "bin",
        ((pa - pb) * F.log(pa / pb)).alias("term"),
    )
    psi_fold = F.expr(
        """
        aggregate(
          transform(array_sort(collect_list(struct(bin, term))),
                    x -> x.term),
          CAST(0.0 AS DOUBLE), (a, x) -> a + x)
        """
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            psi_fold.alias("psi_raw"),
        )
        .select(
            "event_type",
            "n_bins",
            F.round("psi_raw", 6).alias("psi"),
            (F.col("psi_raw") > 0.2).alias("drift_alarm"),
        )
        .orderBy("event_type")
    )


_POWER_FACTOR = 16.0  # Lehr's rule: n/arm ≈ 16 σ²/δ² (α=.05, power=.8)
_POWER_MDE = 0.05  # detect a 5% lift on the metric mean


@query(
    "ab_power_analysis",
    oracle=f"""
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) AS s,
             CAST(CAST(sum(cents * cents) AS BIGINT) AS DOUBLE) AS ss,
             CAST(count(*) AS DOUBLE) AS n1
      FROM v GROUP BY 1
    )
    SELECT event_type, n_obs,
           round(s / n1 / 100.0, 6) AS mean_value,
           round((ss - s * s / n1) / (n1 - 1) / 10000.0, 6) AS var_value,
           CAST(ceil({_POWER_FACTOR} * ((ss - s * s / n1) / (n1 - 1))
                     / (({_POWER_MDE} * s / n1) * ({_POWER_MDE} * s / n1)))
                AS BIGINT) AS n_per_arm,
           (CAST(ceil({_POWER_FACTOR} * ((ss - s * s / n1) / (n1 - 1))
                      / (({_POWER_MDE} * s / n1) * ({_POWER_MDE} * s / n1)))
                 AS BIGINT) * 2 <= n_obs) AS powered_today
    FROM stats ORDER BY event_type
    """,
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size (power) analysis per metric: from each event
    type's observed mean and variance (exact integer cent sums), the
    required per-arm n to detect a {_POWER_MDE:.0%} lift at α=0.05 /
    power 0.8 via Lehr's n ≈ 16σ²/δ² — the first number any experiment
    review asks for, and the guardrail that stops underpowered launches
    (powered_today says whether the CURRENT traffic volume could
    already support the test). All variance math is the identical
    double expression over exact int64 sums; sample sizes are exact
    after ceil.

    Scale: one map-side-combined aggregate per event type; the solve is
    a |types|-row dimension select — the same sufficient-statistics
    layout as ols_normal_equations.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    stats = v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("cents").cast("bigint").cast("double").alias("s"),
        F.sum(F.col("cents") * F.col("cents"))
        .cast("bigint")
        .cast("double")
        .alias("ss"),
        F.count(F.lit(1)).cast("double").alias("n1"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n1")) / (
        F.col("n1") - 1
    )
    delta = _POWER_MDE * F.col("s") / F.col("n1")
    n_arm = F.ceil(_POWER_FACTOR * var / (delta * delta)).cast("bigint")
    return stats.select(
        "event_type",
        "n_obs",
        F.round(F.col("s") / F.col("n1") / 100.0, 6).alias("mean_value"),
        F.round(var / 10000.0, 6).alias("var_value"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2 <= F.col("n_obs")).alias("powered_today"),
    ).orderBy("event_type")
