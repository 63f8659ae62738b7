"""Analytics wave 14: blocked rank testing, extreme-value return
levels, restricted-mean survival, and stratified 2×2 association.

Friedman's test is the repeated-measures ANOVA-by-ranks (blocks × k
treatments); Gumbel return levels are how capacity planning turns "the
biggest day we saw" into "the biggest day we should expect in N
periods"; RMST (restricted mean survival time) is the clinically-
preferred effect size when hazards aren't proportional; Cochran-
Mantel-Haenszel is the stratified 2×2 test that kills Simpson's-
paradox artifacts the pooled chi-square falls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import (
    at_risk,
    delay_events,
    km_survival,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "friedman_test",
    oracle="""
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS blk, event_type AS trt,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT blk, trt,
             CAST(rank() OVER (PARTITION BY blk ORDER BY x) AS BIGINT)
               AS lo,
             CAST(count(*) OVER (PARTITION BY blk)
                  - rank() OVER (PARTITION BY blk ORDER BY x DESC) + 1
               AS BIGINT) AS hi
      FROM cells
    ), rsum AS (
      SELECT trt, CAST(sum(lo + hi) AS BIGINT) AS r2_j,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM ranked GROUP BY trt
    ), dims AS (
      SELECT CAST(max(n_blocks) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((r2_j / 2.0) * (r2_j / 2.0) ORDER BY trt)),
               (a, v) -> a + v) AS srr
      FROM rsum
    )
    SELECT n AS n_blocks, k AS k_treatments,
           round(12.0 / (n * k * (k + 1)) * srr - 3.0 * n * (k + 1), 6)
             AS friedman_q,
           CASE WHEN 12.0 / (n * k * (k + 1)) * srr - 3.0 * n * (k + 1)
                     > 11.0705 THEN 1 ELSE 0 END AS reject_05
    FROM dims
    """,
)
def friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (repeated-measures ANOVA by ranks): within each
    day-block, rank the k event types by their daily count (midranks
    via the exact integer (lo+hi) doubled-rank trick — rank() + reverse
    rank() — so ties cost no float); Q = 12/(nk(k+1))·Σ R_j² − 3n(k+1)
    against χ²_{k−1} at 95% (k=6 → 11.0705). Detects "do the event
    types keep the same intensity ordering day after day" — the blocked
    design that removes day-level volume swings `kruskal_wallis_priority`
    would absorb into noise.

    Determinism: doubled midranks are exact integers from partitioned
    rank windows; the k-term Σ R_j² folds in treatment order.

    Scale: one map-side-combined groupBy((day, type)); rank windows
    partition by day over k rows each (never global); the statistic
    runs on the k-row rank-sum frame.
    """
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("ts").cast("date").alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(F.count(F.lit(1)).alias("x"))
    wb = Window.partitionBy("blk")
    ranked = cells.select(
        "blk",
        "trt",
        F.rank().over(wb.orderBy("x")).cast("bigint").alias("lo"),
        (
            F.count(F.lit(1)).over(wb)
            - F.rank().over(wb.orderBy(F.desc("x")))
            + 1
        )
        .cast("bigint")
        .alias("hi"),
    )
    rsum = ranked.groupBy("trt").agg(
        F.sum(F.col("lo") + F.col("hi")).cast("bigint").alias("r2_j"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    dims = rsum.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(trt,
                (r2_j / 2.0) * (r2_j / 2.0)))), s -> s.col2),
              CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("srr"),
    )
    q = (
        12.0
        / (F.col("n") * F.col("k") * (F.col("k") + 1))
        * F.col("srr")
        - 3.0 * F.col("n") * (F.col("k") + 1)
    )
    return dims.select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("k_treatments"),
        F.round(q, 6).alias("friedman_q"),
        F.when(q > 11.0705, 1).otherwise(0).alias("reject_05"),
    )


_GUM_EULER = 0.5772156649015329
_GUM_PI = 3.141592653589793


@query(
    "gumbel_return_levels",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(max(value) * 100) AS BIGINT) AS mx
      FROM events GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(mx) AS BIGINT) AS s1,
             CAST(sum(mx * mx) AS BIGINT) AS s2
      FROM daily
    ), fit AS (
      SELECT n,
             s1 * 1.0 / n / 100.0 AS mean_max,
             sqrt((s2 - s1 * 1.0 * s1 / n) * 1.0 / (n - 1)) / 100.0 AS sd,
             sqrt((s2 - s1 * 1.0 * s1 / n) * 1.0 / (n - 1)) / 100.0
               * sqrt(6.0) / {_GUM_PI} AS beta
      FROM mom
    )
    SELECT p.period AS return_period,
           n AS n_days,
           round(mean_max, 4) AS mean_daily_max,
           round(mean_max - {_GUM_EULER} * beta, 4) AS gumbel_mu,
           round(beta, 4) AS gumbel_beta,
           round((mean_max - {_GUM_EULER} * beta)
                 - beta * ln(-ln(1.0 - 1.0 / p.period)), 4)
             AS return_level
    FROM fit, (SELECT unnest([10, 30, 100, 365]) AS period) p
    ORDER BY return_period
    """,
)
def gumbel_return_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning: fit a Gumbel distribution to the
    daily maxima of event value by method of moments (β = s·√6/π,
    μ = x̄ − γ·β with Euler's γ) and report the T-period return levels
    μ − β·ln(−ln(1−1/T)) for T ∈ {{10, 30, 100, 365}} — "the daily peak
    you should provision for once per quarter/year", the block-maxima
    EVT recipe (Gumbel = the max-domain for light-tailed daily sums).

    Determinism: daily maxima quantize to integer cents; the Gumbel
    fit uses exact integer (n, Σx, Σx²); return levels are identical
    double expressions against a constant period dimension.

    Scale: one map-side-combined groupBy(day) max; moments are one
    integer-partial aggregate; the period table is a 4-row constant.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.expr("CAST(round(max(value) * 100) AS BIGINT)").alias("mx")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("bigint").alias("s2"),
    )
    sd = (
        F.sqrt(
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
            * 1.0
            / (F.col("n") - 1)
        )
        / 100.0
    )
    fit = mom.select(
        "n",
        (F.col("s1") * 1.0 / F.col("n") / 100.0).alias("mean_max"),
        (sd * F.lit(6.0) ** 0.5 / _GUM_PI).alias("beta"),
    )
    periods = spark.createDataFrame(
        [(10,), (30,), (100,), (365,)], "period int"
    )
    mu = F.col("mean_max") - _GUM_EULER * F.col("beta")
    return (
        fit.crossJoin(F.broadcast(periods))
        .select(
            F.col("period").alias("return_period"),
            F.col("n").alias("n_days"),
            F.round("mean_max", 4).alias("mean_daily_max"),
            F.round(mu, 4).alias("gumbel_mu"),
            F.round("beta", 4).alias("gumbel_beta"),
            F.round(
                mu
                - F.col("beta")
                * F.log(-F.log(1.0 - 1.0 / F.col("period"))),
                4,
            ).alias("return_level"),
        )
        .orderBy("return_period")
    )


@query(
    "rmst_shipping",
    oracle="""
    WITH dur AS (
      SELECT greatest(0, date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))) AS raw
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), obs AS (
      SELECT least(raw, 60) AS t,
             CASE WHEN raw < 60 THEN 1 ELSE 0 END AS ev
      FROM dur
    ), byt AS (
      SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST(sum(d + c) OVER ()
               - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM byt
    ), surv AS (
      SELECT t,
             CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY t) = 1 THEN 0.0
                  ELSE exp(sum(CASE WHEN d = n_risk THEN 0.0
                               ELSE ln(1 - d * 1.0 / n_risk) END)
                           OVER (ORDER BY t)) END AS s_t,
             lead(t) OVER (ORDER BY t) AS t_next
      FROM risk
    )
    SELECT CAST(30 AS BIGINT) AS tau_30,
           round(sum(CASE WHEN t < 30
                     THEN s_t * (least(coalesce(t_next, 30), 30) - t)
                     ELSE 0 END)
                 + least(min(t), 30), 4) AS rmst_30,
           CAST(60 AS BIGINT) AS tau_60,
           round(sum(CASE WHEN t < 60
                     THEN s_t * (least(coalesce(t_next, 60), 60) - t)
                     ELSE 0 END)
                 + least(min(t), 60), 4) AS rmst_60
    FROM surv
    """,
)
def rmst_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time of the order→ship delay: the area
    under the Kaplan-Meier curve up to τ (step integral Σ Ŝ(tᵢ)·(tᵢ₊₁−tᵢ)
    plus the initial S=1 segment), reported at τ=30 and τ=60 days —
    "expected days-not-yet-shipped within the first τ days", the
    effect-size of choice when hazards cross and a hazard ratio would
    mislead. Companion to `kaplan_meier_shipping` (the curve) and
    `nelson_aalen_hazard` (its hazard-scale twin).

    Determinism: the KM curve reuses the exact ordered log-fold
    construction; the step integral is a fixed ORDER BY t sum over the
    ≤61-row curve with exact integer step widths.

    Scale: identical to KM — one map-side-combined groupBy(delay-day),
    then ≤61-row window arithmetic.
    """
    risk = delay_events(spark, sf_dir).select(
        "t", "d", at_risk(F.col("d") + F.col("c")).alias("n_risk")
    )
    surv = risk.select(
        "t",
        km_survival().alias("s_t"),
        F.lead("t").over(Window.orderBy("t")).alias("t_next"),
    )

    def rmst(tau: int) -> F.Column:
        seg = F.when(
            F.col("t") < tau,
            F.col("s_t")
            * (
                F.least(F.coalesce(F.col("t_next"), F.lit(tau)), F.lit(tau))
                - F.col("t")
            ),
        ).otherwise(F.lit(0.0))
        return F.round(
            F.sum(seg) + F.least(F.min("t"), F.lit(tau)), 4
        )

    return surv.agg(
        F.lit(30).cast("bigint").alias("tau_30"),
        rmst(30).alias("rmst_30"),
        F.lit(60).cast("bigint").alias("tau_60"),
        rmst(60).alias("rmst_60"),
    )


@query(
    "cmh_stratified_test",
    oracle="""
    WITH obs AS (
      SELECT c.c_mktsegment AS stratum,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), tabs AS (
      SELECT stratum,
             CAST(sum(tr * y) AS BIGINT) AS a,
             CAST(sum(tr * (1 - y)) AS BIGINT) AS b,
             CAST(sum((1 - tr) * y) AS BIGINT) AS c,
             CAST(sum((1 - tr) * (1 - y)) AS BIGINT) AS d
      FROM obs GROUP BY stratum
    ), terms AS (
      SELECT CAST(sum(a) AS BIGINT) AS sa,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((a + b) * 1.0 * (a + c) / (a + b + c + d)
                    ORDER BY stratum)), (x, v) -> x + v) AS e,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                    / ((a + b + c + d) * 1.0 * (a + b + c + d)
                       * (a + b + c + d - 1))
                    ORDER BY stratum)), (x, v) -> x + v) AS v,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(a * 1.0 * d / (a + b + c + d) ORDER BY stratum)),
               (x, v) -> x + v) AS or_num,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(b * 1.0 * c / (a + b + c + d) ORDER BY stratum)),
               (x, v) -> x + v) AS or_den,
             CAST(count(*) AS BIGINT) AS n_strata
      FROM tabs
    )
    SELECT n_strata, sa AS observed_a,
           round(e, 4) AS expected_a,
           round(v, 4) AS variance,
           round((abs(sa - e) - 0.5) * (abs(sa - e) - 0.5) / v, 6)
             AS cmh_chi2,
           round(or_num / or_den, 6) AS mh_odds_ratio,
           CASE WHEN (abs(sa - e) - 0.5) * (abs(sa - e) - 0.5) / v
                     > 3.841459 THEN 1 ELSE 0 END AS reject_05
    FROM terms
    """,
)
def cmh_stratified_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of urgent-priority × finished-status
    association, stratified by market segment: per-stratum 2×2 tables
    contribute observed a, hypergeometric E[a] = (a+b)(a+c)/n and
    variance (a+b)(c+d)(a+c)(b+d)/(n²(n−1)); the continuity-corrected
    χ²₁ = (|Σa − ΣE| − ½)²/ΣV plus the Mantel-Haenszel pooled odds
    ratio Σ(ad/n)/Σ(bc/n) — the stratified association test that
    doesn't fall for Simpson's paradox (the engine's
    `simpsons_paradox_detector` finds the reversal; this op tests the
    adjusted association properly).

    Determinism: each stratum's (a,b,c,d) are exact int64; the
    per-stratum E/V/OR terms fold in stratum order.

    Scale: one map-side-combined groupBy(stratum) over the broadcast-
    dimension join; the test is a ≤|segments|-row fold.
    """
    o = load(spark, sf_dir, "orders")
    cu = load(spark, sf_dir, "customer")
    obs = o.join(F.broadcast(cu), o.o_custkey == cu.c_custkey).select(
        F.col("c_mktsegment").alias("stratum"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("tr"),
        (F.col("o_orderstatus") == "F").cast("bigint").alias("y"),
    )
    tabs = obs.groupBy("stratum").agg(
        F.sum(F.col("tr") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("tr") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("tr")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("tr")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("d"),
    )

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(stratum,
                {expr}))), s -> s.col2), CAST(0.0 AS DOUBLE),
              (x, v) -> x + v)
            """
        )

    terms = tabs.agg(
        F.sum("a").cast("bigint").alias("sa"),
        fold("(a + b) * 1.0 * (a + c) / (a + b + c + d)").alias("e"),
        fold(
            "(a + b) * 1.0 * (c + d) * (a + c) * (b + d)"
            " / ((a + b + c + d) * 1.0 * (a + b + c + d)"
            " * (a + b + c + d - 1))"
        ).alias("v"),
        fold("a * 1.0 * d / (a + b + c + d)").alias("or_num"),
        fold("b * 1.0 * c / (a + b + c + d)").alias("or_den"),
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
    )
    chi2 = (
        (F.abs(F.col("sa") - F.col("e")) - 0.5)
        * (F.abs(F.col("sa") - F.col("e")) - 0.5)
        / F.col("v")
    )
    return terms.select(
        "n_strata",
        F.col("sa").alias("observed_a"),
        F.round("e", 4).alias("expected_a"),
        F.round("v", 4).alias("variance"),
        F.round(chi2, 6).alias("cmh_chi2"),
        F.round(F.col("or_num") / F.col("or_den"), 6).alias(
            "mh_odds_ratio"
        ),
        F.when(chi2 > 3.841459, 1).otherwise(0).alias("reject_05"),
    )
