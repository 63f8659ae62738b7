"""Analytics wave 30: Greenwood confidence bands, Newey-West HAC
standard errors, and histogram bin-width rules.

Greenwood's formula is the variance that belongs on every
Kaplan-Meier curve (a survival estimate without a band invites
over-reading). Newey-West is the autocorrelation-robust standard
error — on a daily metric with serial dependence the naive s/√n SE
can be off by multiples, which is exactly the mistake it corrects.
The bin-width rules (Sturges / Scott / Freedman-Diaconis) are the
EDA defaults, computed here from exact moments and histogram-exact
quartiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import (
    DELAY_SQL,
    at_risk,
    delay_events,
    delay_obs,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_Z95 = 1.959964


@query(
    "km_greenwood_ci",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t,
             CASE WHEN greatest(datediff('day', o_orderdate, l_shipdate),
                                0) < 60 THEN 1 ELSE 0 END AS ev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
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
    ), curve AS (
      SELECT t, n_risk, d,
             exp(sum(CASE WHEN d = n_risk THEN NULL
                     ELSE ln(1 - d * 1.0 / n_risk) END)
                 OVER (ORDER BY t)) AS s_t,
             sum(CASE WHEN n_risk - d = 0 THEN NULL
                 ELSE d * 1.0 / (n_risk * 1.0 * (n_risk - d)) END)
               OVER (ORDER BY t) AS gw
      FROM risk
    )
    SELECT t, n_risk, d AS d_events,
           round(s_t, 6) AS s_t,
           round(s_t * sqrt(gw), 6) AS greenwood_se,
           round(greatest(s_t - {_Z95} * s_t * sqrt(gw), 0.0), 6)
             AS ci_lo,
           round(least(s_t + {_Z95} * s_t * sqrt(gw), 1.0), 6) AS ci_hi
    FROM curve
    WHERE s_t IS NOT NULL AND gw IS NOT NULL
    ORDER BY t
    """,
)
def km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve with Greenwood 95% confidence bands:
    Var̂[Ŝ(t)] = Ŝ(t)²·Σ_{{u≤t}} d_u/(n_u(n_u−d_u)) — the band that
    belongs on `kaplan_meier_shipping`'s point estimate before anyone
    compares two curves by eye (rows where the curve hits 0 or the
    risk set is exhausted are dropped — the variance is undefined
    there, which the NULL-propagating cumulative sums make explicit).

    Determinism: risk sets and event counts are exact integers; the
    log-survival and Greenwood sums run ORDER BY t over the ≤61-row
    day table.

    Scale: identical to KM — one map-side-combined groupBy(delay-day),
    then bounded window arithmetic.
    """
    risk = delay_events(spark, sf_dir).select(
        "t", "d", at_risk(F.col("d") + F.col("c")).alias("n_risk")
    )
    wt = Window.orderBy("t")
    s_t = F.exp(
        F.sum(
            F.when(F.col("d") == F.col("n_risk"), None).otherwise(
                F.log(1 - F.col("d") * 1.0 / F.col("n_risk"))
            )
        ).over(wt)
    )
    gw = F.sum(
        F.when(F.col("n_risk") - F.col("d") == 0, None).otherwise(
            F.col("d")
            * 1.0
            / (F.col("n_risk") * 1.0 * (F.col("n_risk") - F.col("d")))
        )
    ).over(wt)
    curve = risk.select(
        "t",
        "n_risk",
        F.col("d").alias("d_events"),
        s_t.alias("s_t"),
        gw.alias("gw"),
    ).filter(F.col("s_t").isNotNull() & F.col("gw").isNotNull())
    se = F.col("s_t") * F.sqrt(F.col("gw"))
    return curve.select(
        "t",
        "n_risk",
        "d_events",
        F.round("s_t", 6).alias("s_t"),
        F.round(se, 6).alias("greenwood_se"),
        F.round(
            F.greatest(F.col("s_t") - _Z95 * se, F.lit(0.0)), 6
        ).alias("ci_lo"),
        F.round(F.least(F.col("s_t") + _Z95 * se, F.lit(1.0)), 6).alias(
            "ci_hi"
        ),
    ).orderBy("t")


_NW_LAGS = 5


@query(
    "newey_west_se",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), seq AS (
      SELECT list(x ORDER BY day) AS xs, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s1
      FROM daily
    ), dev AS (
      SELECT n, s1,
             list_transform(xs, v -> CAST(v AS DOUBLE) - s1 * 1.0 / n)
               AS d
      FROM seq
    ), gam AS (
      SELECT n, s1, d, g.k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, CAST(n - g.k + 1 AS INTEGER)),
                 i -> d[CAST(i AS INTEGER)]
                      * d[CAST(i + g.k AS INTEGER)])),
               (a, v) -> a + v) / n AS gamma_k
      FROM dev, (SELECT unnest(range(0, {_NW_LAGS + 1})) AS k) g
    ), hac AS (
      SELECT max(n) AS n, max(s1) AS s1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CASE WHEN k = 0 THEN gamma_k
                    ELSE 2 * (1 - k * 1.0 / ({_NW_LAGS} + 1)) * gamma_k
                    END ORDER BY k)), (a, v) -> a + v) AS lrv
      FROM gam
    )
    SELECT n AS n_days,
           round(s1 * 1.0 / n, 4) AS daily_mean,
           round(sqrt((SELECT gamma_k FROM gam WHERE k = 0) / n), 4)
             AS naive_se,
           round(sqrt(lrv / n), 4) AS newey_west_se,
           round(sqrt(lrv / n)
                 / sqrt((SELECT gamma_k FROM gam WHERE k = 0) / n), 4)
             AS se_inflation
    FROM hac
    """,
)
def newey_west_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC) standard error of the daily-mean event count:
    long-run variance γ₀ + 2Σ_{{k≤5}} (1 − k/(L+1))·γ_k with Bartlett
    weights, against the naive √(γ₀/n) — the autocorrelation-robust SE
    whose inflation factor says how badly serial dependence (which
    `ljung_box_test` detects) breaks iid-based inference on trend
    metrics.

    Determinism: deviations come from exact (Σx, n); each
    autocovariance folds positions in index order; the Bartlett
    combination folds lags in order.

    Scale: per-day aggregate map-side; all HAC arithmetic on the
    bounded day array.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    seq = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, x))), s -> s.x)"
        ).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
    )
    dev = seq.select(
        "n",
        "s1",
        F.expr(
            "transform(xs, v -> CAST(v AS DOUBLE) - s1 * 1.0 / n)"
        ).alias("d"),
    )
    lags = spark.range(0, _NW_LAGS + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    gam = dev.crossJoin(F.broadcast(lags)).select(
        "n",
        "s1",
        "k",
        (
            F.expr(
                """
                aggregate(transform(sequence(0, CAST(size(d) - k - 1
                    AS INT)), i -> element_at(d, i + 1)
                      * element_at(d, CAST(i + k + 1 AS INT))),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            )
            / F.col("n")
        ).alias("gamma_k"),
    )
    hac = gam.groupBy().agg(
        F.max("n").alias("n"),
        F.max("s1").alias("s1"),
        F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(k,
                CASE WHEN k = 0 THEN gamma_k
                ELSE 2 * (1 - k * 1.0 / ({_NW_LAGS} + 1)) * gamma_k END
                AS vv))), s -> s.vv), CAST(0.0 AS DOUBLE),
              (a, v) -> a + v)
            """
        ).alias("lrv"),
        F.max(F.when(F.col("k") == 0, F.col("gamma_k"))).alias("g0"),
    )
    naive = F.sqrt(F.col("g0") / F.col("n"))
    nw = F.sqrt(F.col("lrv") / F.col("n"))
    return hac.select(
        F.col("n").alias("n_days"),
        F.round(F.col("s1") * 1.0 / F.col("n"), 4).alias("daily_mean"),
        F.round(naive, 4).alias("naive_se"),
        F.round(nw, 4).alias("newey_west_se"),
        F.round(nw / naive, 4).alias("se_inflation"),
    )


@query(
    "histogram_binning_rules",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY t
    ), cum AS (
      SELECT t, c,
             CAST(sum(c) OVER (ORDER BY t) AS BIGINT) AS cc,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM hist
    ), quarts AS (
      SELECT max(n) AS n,
             CAST(min(CASE WHEN 4 * cc >= n THEN t END) AS BIGINT)
               AS q1,
             CAST(min(CASE WHEN 4 * cc >= 3 * n THEN t END) AS BIGINT)
               AS q3
      FROM cum
    ), mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * t) AS BIGINT) AS s1,
             CAST(sum(c * t * t) AS BIGINT) AS s2,
             CAST(max(t) - min(t) AS BIGINT) AS rng
      FROM hist
    )
    SELECT m.n, m.rng AS value_range,
           q.q3 - q.q1 AS iqr,
           CAST(ceil(ln(m.n) / ln(2.0) + 1) AS BIGINT) AS sturges_bins,
           round(3.49 * sqrt((m.s2 - m.s1 * 1.0 * m.s1 / m.n) / m.n)
                 * power(CAST(m.n AS DOUBLE), -1.0 / 3), 4)
             AS scott_width,
           round(2.0 * (q.q3 - q.q1)
                 * power(CAST(m.n AS DOUBLE), -1.0 / 3), 4) AS fd_width,
           CAST(CASE WHEN 2.0 * (q.q3 - q.q1)
                          * power(CAST(m.n AS DOUBLE), -1.0 / 3) <= 0
                THEN m.rng
                ELSE ceil(m.rng / (2.0 * (q.q3 - q.q1)
                          * power(CAST(m.n AS DOUBLE), -1.0 / 3))) END
             AS BIGINT) AS fd_bins
    FROM mom m CROSS JOIN quarts q
    """,
)
def histogram_binning_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bin-width rules for the ship-delay distribution:
    Sturges ⌈log₂n⌉+1 bins, Scott's width 3.49·σ̂·n^(−1/3), and
    Freedman-Diaconis 2·IQR·n^(−1/3) (quartiles exact from the
    bounded value histogram) with the implied FD bin count — the
    defaults every EDA tool silently picks between, exposed so the
    choice (and its n-dependence) is explicit before a dashboard
    ships a misleading histogram.

    Determinism: moments, range, and quartiles are exact integers;
    the rule widths are closed-form doubles.

    Scale: one map-side-combined groupBy(value); rules from the
    bounded summary.
    """
    obs = delay_obs(spark, sf_dir)
    hist = obs.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wt = Window.orderBy("t")
    cum = hist.select(
        "t",
        F.sum("c").over(wt).alias("cc"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    quarts = cum.agg(
        F.min(
            F.when(4 * F.col("cc") >= F.col("n"), F.col("t"))
        )
        .cast("bigint")
        .alias("q1"),
        F.min(
            F.when(4 * F.col("cc") >= 3 * F.col("n"), F.col("t"))
        )
        .cast("bigint")
        .alias("q3"),
    )
    mom = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("t")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("t") * F.col("t"))
        .cast("bigint")
        .alias("s2"),
        (F.max("t") - F.min("t")).cast("bigint").alias("rng"),
    )
    j = mom.crossJoin(F.broadcast(quarts))
    fd_w = (
        2.0
        * (F.col("q3") - F.col("q1"))
        * F.pow(F.col("n").cast("double"), -1.0 / 3)
    )
    return j.select(
        "n",
        F.col("rng").alias("value_range"),
        (F.col("q3") - F.col("q1")).alias("iqr"),
        F.ceil(F.log(F.col("n").cast("double")) / F.log(F.lit(2.0)) + 1)
        .cast("bigint")
        .alias("sturges_bins"),
        F.round(
            3.49
            * F.sqrt(
                (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
                / F.col("n")
            )
            * F.pow(F.col("n").cast("double"), -1.0 / 3),
            4,
        ).alias("scott_width"),
        F.round(fd_w, 4).alias("fd_width"),
        F.when(fd_w <= 0, F.col("rng"))
        .otherwise(F.ceil(F.col("rng") / fd_w))
        .cast("bigint")
        .alias("fd_bins"),
    )
