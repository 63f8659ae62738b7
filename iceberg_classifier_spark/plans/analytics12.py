"""Analytics wave 12: survival-analysis estimators beyond Kaplan-Meier,
confidence-bound ranking, and sequential drift detection.

Nelson-Aalen is the cumulative-hazard twin of the existing
`kaplan_meier_shipping` curve (plans/analytics2.py) — the estimator of
choice when hazards are compared or smoothed. The log-rank test is THE
hypothesis test for "do these two groups ship at different speeds?".
Wilson lower-bound ranking is the standard fix for sorting by a raw
success rate (the Reddit-comment-sort construction). Page-Hinkley is a
sequential mean-drift detector for monitoring pipelines.

Reference: the reference repo trains/validates on time-ordered splits
(main.py myAngleCV) but has no survival/monitoring surface — these
extend the engine the way its users monitor data pipelines feeding it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import (
    at_risk,
    delay_events,
    delay_obs,
)
from iceberg_classifier_spark.plans.analytics2 import _md5_prefix_sql
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

# Order→ship delay, right-censored at 60 days.
_DELAY_SQL = """
  SELECT least(greatest(datediff('day', o_orderdate, l_shipdate), 0), 60)
           AS t,
         CASE WHEN greatest(datediff('day', o_orderdate, l_shipdate), 0)
                   < 60 THEN 1 ELSE 0 END AS ev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@query(
    "nelson_aalen_hazard",
    oracle=f"""
    WITH obs AS ({_DELAY_SQL}),
    byt AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d, c,
             CAST(sum(d + c) OVER ()
               - coalesce(sum(d + c) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM byt
    )
    SELECT t, n_risk, d AS d_events,
           round(sum(d * 1.0 / n_risk) OVER (ORDER BY t), 6) AS h_cum,
           round(sum(d * 1.0 / (n_risk * CAST(n_risk AS DOUBLE)))
                 OVER (ORDER BY t), 6) AS h_var,
           round(exp(-sum(d * 1.0 / n_risk) OVER (ORDER BY t)), 6)
             AS s_fleming_harrington
    FROM risk ORDER BY t
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator of the order→ship delay
    (right-censored at 60 days): Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance
    Σ dᵢ/nᵢ², plus the Fleming-Harrington survival exp(−Ĥ) — the
    hazard-scale twin of `kaplan_meier_shipping` (analytics2.py), which
    is what gets smoothed/compared when the question is "how does the
    instantaneous shipping risk evolve", not "what fraction survives".

    Determinism: all cumulative sums run ORDER BY t over the ≤61-row
    day-level aggregate — a fixed fold order on both engines.

    Scale: the only fact-sized work is one groupBy(delay-day) with
    map-side combine into ≤61 groups; risk sets and both curves are
    window arithmetic on the tiny summary (the aggregate-first shape).
    """
    risk = delay_events(spark, sf_dir).select(
        "t", "d", at_risk(F.col("d") + F.col("c")).alias("n_risk")
    )
    wt = Window.orderBy("t")
    h_term = F.col("d") * 1.0 / F.col("n_risk")
    v_term = F.col("d") * 1.0 / (F.col("n_risk") * F.col("n_risk").cast("double"))
    return risk.select(
        "t",
        "n_risk",
        F.col("d").alias("d_events"),
        F.round(F.sum(h_term).over(wt), 6).alias("h_cum"),
        F.round(F.sum(v_term).over(wt), 6).alias("h_var"),
        F.round(F.exp(-F.sum(h_term).over(wt)), 6).alias(
            "s_fleming_harrington"
        ),
    ).orderBy("t")


@query(
    "logrank_ship_delay",
    oracle="""
    WITH obs AS (
      SELECT least(greatest(datediff('day', o_orderdate, l_shipdate), 0), 60)
               AS t,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), byt AS (
      SELECT t,
             CAST(count(*) AS BIGINT) AS d,
             CAST(sum(g) AS BIGINT) AS d1
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d, d1,
             sum(d) OVER ()
               - coalesce(sum(d) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n,
             sum(d1) OVER ()
               - coalesce(sum(d1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1
      FROM byt
    ), terms AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             sum(d * (n1 * 1.0 / n)) AS e1,
             sum(CASE WHEN n > 1 THEN
                   d * (n1 * 1.0 / n) * (1 - n1 * 1.0 / n)
                     * (n - d) * 1.0 / (n - 1)
                 ELSE 0 END) AS v
      FROM risk
    )
    SELECT o1 AS observed_urgent,
           round(e1, 4) AS expected_urgent,
           round(v, 4) AS variance,
           round((o1 - e1) * (o1 - e1) / v, 6) AS chi2,
           CASE WHEN (o1 - e1) * (o1 - e1) / v > 3.841459
                THEN 1 ELSE 0 END AS reject_05
    FROM terms
    """,
)
def logrank_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test: do URGENT orders ship on a different
    time-to-ship distribution than the rest? Per distinct delay day the
    urgent group contributes observed events d₁ₜ against the
    hypergeometric expectation dₜ·n₁ₜ/nₜ from the shared risk set; the
    statistic (O₁−E₁)²/V is χ²(1) with the standard variance term
    dₜ·(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1). `reject_05` compares against
    the χ²₁ 95% critical value 3.841459.

    Determinism: risk sets are exact integer reverse-cumulative sums
    over the ≤61-row day aggregate; E₁/V are fixed ORDER BY t sums of
    identical double expressions on both engines.

    Scale: one map-side-combined groupBy(delay-day) over the join (the
    join itself is a broadcast of orders' (key, priority) at dimension
    scale or a co-partitioned shuffle at fact scale); everything after
    is ≤61-row window arithmetic.
    """
    obs = delay_obs(
        spark,
        sf_dir,
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g"),
    )
    byt = obs.groupBy("t").agg(
        F.count(F.lit(1)).alias("d"), F.sum("g").alias("d1")
    )
    risk = byt.select(
        "t", "d", "d1", at_risk("d").alias("n"), at_risk("d1").alias("n1")
    )
    frac = F.col("n1") * 1.0 / F.col("n")
    terms = risk.agg(
        F.sum("d1").alias("o1"),
        F.sum(F.col("d") * frac).alias("e1"),
        F.sum(
            F.when(
                F.col("n") > 1,
                F.col("d")
                * frac
                * (1 - frac)
                * (F.col("n") - F.col("d"))
                * 1.0
                / (F.col("n") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("v"),
    )
    chi2 = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col(
        "v"
    )
    return terms.select(
        F.col("o1").alias("observed_urgent"),
        F.round("e1", 4).alias("expected_urgent"),
        F.round("v", 4).alias("variance"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("reject_05"),
    )


_WILSON_TOPK = 15
_Z = 1.959964  # two-sided 95%


@query(
    "wilson_ci_ranking",
    oracle=f"""
    WITH per_supp AS (
      SELECT l_suppkey AS supp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                           <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1
    ), scored AS (
      SELECT supp, n, k,
             (k * 1.0 / n + {_Z} * {_Z} / (2 * n)
              - {_Z} * sqrt(k * 1.0 / n * (1 - k * 1.0 / n) / n
                            + {_Z} * {_Z} / (4.0 * n * n)))
               / (1 + {_Z} * {_Z} / n) AS lb
      FROM per_supp
    ), top AS (
      SELECT * FROM scored ORDER BY lb DESC, supp LIMIT {_WILSON_TOPK}
    )
    SELECT CAST(row_number() OVER (ORDER BY lb DESC, supp) AS INTEGER)
             AS rank,
           supp, n, k,
           CAST(k * 1000000 // n AS BIGINT) AS raw_ppm,
           round(lb, 6) AS wilson_lb
    FROM top ORDER BY rank
    """,
)
def wilson_ci_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time leaderboard ranked by the Wilson score lower
    bound (95%): lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1+z²/n)
    over per-supplier on-time rates (shipped ≤30 days after order) —
    the confidence-penalized ranking that keeps a 3-for-3 supplier from
    outranking a 95-for-100 one, which the raw rate (shown as raw_ppm)
    does. The frequentist sibling of `eb_shrunken_rates`
    (analytics11.py).

    Determinism: (k, n) are exact integers; lb is one identical double
    expression per row on both engines (no multi-row float fold),
    rounded at the edge.

    Scale: one map-side-combined per-supplier aggregate over the
    fact join; scoring is a map-side expression; top-k is TakeOrdered
    (orderBy().limit()), never a global rank over suppliers.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_suppkey").alias("supp"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(
                    F.datediff(
                        F.col("l_shipdate").cast("date"),
                        F.col("o_orderdate").cast("date"),
                    )
                    <= 30,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    p = F.col("k") * 1.0 / F.col("n")
    z = F.lit(_Z)
    lb = (
        p
        + z * z / (2 * F.col("n"))
        - z
        * F.sqrt(
            p * (1 - p) / F.col("n")
            + z * z / (4.0 * F.col("n") * F.col("n"))
        )
    ) / (1 + z * z / F.col("n"))
    top = (
        per_supp.withColumn("lb", lb)
        .orderBy(F.desc("lb"), "supp")
        .limit(_WILSON_TOPK)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("lb"), "supp"))
        .cast("int")
        .alias("rank"),
        "supp",
        "n",
        "k",
        F.expr("CAST(k * 1000000 div n AS BIGINT)").alias("raw_ppm"),
        F.round("lb", 6).alias("wilson_lb"),
    ).orderBy("rank")


_PH_DELTA = 0.0  # drift allowance (counts/day)
_PH_LAMBDA = 50.0  # alarm threshold


@query(
    "page_hinkley_drift",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), run AS (
      SELECT day, x,
             sum(x) OVER (ORDER BY day) AS sx,
             row_number() OVER (ORDER BY day) AS i
      FROM daily
    ), m AS (
      SELECT day, x, i,
             sum(x - sx * 1.0 / i - {_PH_DELTA}) OVER (ORDER BY day) AS mt
      FROM run
    ), g AS (
      SELECT day, x, i, mt,
             coalesce(min(mt) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS mmin
      FROM m
    )
    SELECT day, x AS daily_count, i AS day_idx,
           round(mt, 4) AS ph_stat,
           round(mt - mmin, 4) AS ph_gap,
           CASE WHEN mt - mmin > {_PH_LAMBDA} THEN 1 ELSE 0 END AS alarm
    FROM g ORDER BY day
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector over the daily event-count
    series: mₜ = Σᵢ≤ₜ (xᵢ − x̄ᵢ − δ) with x̄ᵢ the running mean, alarm when
    mₜ − min_{i<t} mᵢ exceeds λ — the classic one-pass monitor for an
    upward mean shift in a metric stream (δ=0, λ=50 here). Emits the
    full trace so the alarm day and its gap are both visible.

    Determinism: the series is day-keyed (≤366 rows/year); every
    cumulative sum and prefix-min runs ORDER BY day — a fixed fold
    order on both engines; doubles rounded at the edge.

    Scale: the fact table collapses to per-day counts with map-side
    combine; the detector is window arithmetic on the day-level frame
    (partition by year/metric for unbounded horizons).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wd = Window.orderBy("day")
    run = daily.select(
        "day",
        "x",
        F.sum("x").over(wd).alias("sx"),
        F.row_number().over(wd).cast("bigint").alias("i"),
    )
    m = run.withColumn(
        "mt",
        F.sum(
            F.col("x") - F.col("sx") * 1.0 / F.col("i") - F.lit(_PH_DELTA)
        ).over(wd),
    )
    g = m.withColumn(
        "mmin",
        F.coalesce(
            F.min("mt").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0.0),
        ),
    )
    return g.select(
        "day",
        F.col("x").alias("daily_count"),
        F.col("i").alias("day_idx"),
        F.round("mt", 4).alias("ph_stat"),
        F.round(F.col("mt") - F.col("mmin"), 4).alias("ph_gap"),
        F.when(F.col("mt") - F.col("mmin") > _PH_LAMBDA, 1)
        .otherwise(0)
        .alias("alarm"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Stratified Poisson sampling + Horvitz-Thompson total
# ---------------------------------------------------------------------------

# Inclusion thresholds per price band, out of 10000: 2% of small orders,
# 20% of mid orders, take-all of large orders (the classic audit design —
# sample effort where the money is).
_HT_BANDS = [(0, 200), (1, 2000), (2, 10000)]
_HT_BAND_SQL = """CASE WHEN o_totalprice < 50000 THEN 0
                       WHEN o_totalprice < 150000 THEN 1 ELSE 2 END"""
_HT_T_SQL = "CASE band WHEN 0 THEN 200 WHEN 1 THEN 2000 ELSE 10000 END"


@query(
    "horvitz_thompson_total",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             {_HT_BAND_SQL} AS band,
             {_md5_prefix_sql("CAST(o_orderkey AS VARCHAR)")} % 10000 AS h
      FROM orders
    ), tagged AS (
      SELECT k, cents, band, {_HT_T_SQL} AS t,
             CASE WHEN h < {_HT_T_SQL} THEN 1 ELSE 0 END AS sampled
      FROM base
    ), bands AS (
      SELECT band, CAST(max(t) AS BIGINT) AS threshold,
             CAST(count(*) AS BIGINT) AS n_pop,
             CAST(sum(sampled) AS BIGINT) AS n_sampled,
             CAST(sum(cents) AS BIGINT) AS pop_cents,
             CAST(sum(CASE WHEN sampled = 1 THEN cents ELSE 0 END)
               AS BIGINT) AS sampled_cents
      FROM tagged GROUP BY band
    )
    SELECT band, threshold, n_pop, n_sampled, pop_cents, sampled_cents,
           CAST((20000 * sampled_cents + threshold) // (2 * threshold)
                AS DOUBLE) / 100 AS ht_dollars,
           round(pop_cents / 100.0, 2) AS true_dollars
    FROM bands
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS band, CAST(0 AS BIGINT) AS threshold,
           CAST(sum(n_pop) AS BIGINT) AS n_pop,
           CAST(sum(n_sampled) AS BIGINT) AS n_sampled,
           CAST(sum(pop_cents) AS BIGINT) AS pop_cents,
           CAST(sum(sampled_cents) AS BIGINT) AS sampled_cents,
           CAST(sum((20000 * sampled_cents + threshold)
                    // (2 * threshold)) AS DOUBLE) / 100 AS ht_dollars,
           round(sum(pop_cents) / 100.0, 2) AS true_dollars
    FROM bands
    ORDER BY band
    """,
)
def horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Poisson sampling with a Horvitz-Thompson total: orders
    are banded by price (small/mid/large), sampled via a deterministic
    md5 coin at band-specific rates (2% / 20% / take-all — audit
    effort concentrated where the money is), and the population
    revenue is estimated as Σ_band sampled_cents · (10000/t_band) —
    each sampled row weighted by its inverse inclusion probability.
    Per-band rows expose the design (threshold, counts, exact band
    totals, band HT vs truth); the -1 row is the full HT estimate
    against the true total it would replace at scale.

    Determinism: inclusion is the portable md5-prefix coin; band
    totals are exact int64 cents; band estimates round in exact integer
    arithmetic and the pooled estimate is their integer sum — no float
    work anywhere in the estimator.

    Scale: banding, the coin, and the inclusion flag are pure map-side
    expressions; one map-side-combined groupBy(band) carries integer
    partials. The estimator never materializes the sample — at 100 TB
    you'd write the sampled rows out with the same predicate and this
    query is the audit sidecar that certifies the weights.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr(_HT_BAND_SQL).alias("band"),
        (
            F.expr(
                "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT)"
            )
            % 10000
        ).alias("h"),
    )
    tagged = base.select(
        "k",
        "cents",
        "band",
        F.expr(_HT_T_SQL).alias("t"),
        F.expr(f"CASE WHEN h < {_HT_T_SQL} THEN 1 ELSE 0 END").alias(
            "sampled"
        ),
    )
    bands = tagged.groupBy("band").agg(
        F.max("t").cast("bigint").alias("threshold"),
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("sampled").cast("bigint").alias("n_sampled"),
        F.sum("cents").cast("bigint").alias("pop_cents"),
        F.sum(F.when(F.col("sampled") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sampled_cents"),
    )
    per_band = bands.select(
        "band",
        "threshold",
        "n_pop",
        "n_sampled",
        "pop_cents",
        "sampled_cents",
        # integer HALF_UP (motif convention): round2(sc*100/t) ==
        # ((20000*sc + t) div (2t)) / 100 — no double decimal boundary
        (
            F.expr(
                "(20000 * sampled_cents + threshold) div (2 * threshold)"
            ).cast("double")
            / 100
        ).alias("ht_dollars"),
        F.round(F.col("pop_cents") / 100.0, 2).alias("true_dollars"),
    )
    summary = bands.agg(
        F.lit(-1).cast("bigint").alias("band"),
        F.lit(0).cast("bigint").alias("threshold"),
        F.sum("n_pop").cast("bigint").alias("n_pop"),
        F.sum("n_sampled").cast("bigint").alias("n_sampled"),
        F.sum("pop_cents").cast("bigint").alias("pop_cents"),
        F.sum("sampled_cents").cast("bigint").alias("sampled_cents"),
        # pooled estimate = exact integer sum of the per-band rounded
        # estimates (order-independent, engine-exact — replaces the old
        # band-ordered double fold)
        (
            F.sum(
                F.expr(
                    "(20000 * sampled_cents + threshold)"
                    " div (2 * threshold)"
                )
            ).cast("double")
            / 100
        ).alias("ht_dollars"),
        F.round(F.sum("pop_cents") / 100.0, 2).alias("true_dollars"),
    )
    return per_band.unionAll(summary).orderBy("band")
