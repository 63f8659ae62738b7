"""Analytics wave 22: kernel density estimation, Jarque-Bera
normality, and Cochran's Q.

KDE from a value histogram is the O(levels²) exact form of the
density plot every EDA notebook draws — with Silverman's bandwidth
from exact moments, no sampling anywhere. Jarque-Bera is the
moment-based normality test (skewness + excess kurtosis). Cochran's Q
is the k-treatment extension of McNemar for matched binary outcomes —
here "did each user touch each event type", completing the engine's
repeated-measures family (`friedman_test` for ranks, Q for binaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, delay_obs
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_SQRT_2PI = 2.5066282746310002


@query(
    "kde_density_curve",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY t
    ), mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * t) AS BIGINT) AS s1,
             CAST(sum(c * t * t) AS BIGINT) AS s2
      FROM hist
    ), bw AS (
      SELECT n,
             1.06 * sqrt((s2 - s1 * 1.0 * s1 / n) / (n - 1))
               * power(CAST(n AS DOUBLE), -0.2) AS h
      FROM mom
    ), grid AS (SELECT unnest(range(0, 61)) AS g),
    dens AS (
      SELECT gr.g, b.h, b.n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(hh.c * exp(-(gr.g - hh.t) * (gr.g - hh.t)
                              / (2 * b.h * b.h)) ORDER BY hh.t)),
               (a, v) -> a + v) / (b.n * b.h * {_SQRT_2PI}) AS f
      FROM grid gr CROSS JOIN bw b CROSS JOIN hist hh
      GROUP BY gr.g, b.h, b.n
    )
    SELECT g AS grid_t, round(h, 6) AS bandwidth,
           round(f, 8) AS density
    FROM dens ORDER BY grid_t
    """,
)
def kde_density_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density estimate of the ship-delay distribution
    on the integer grid 0..60, with Silverman's rule-of-thumb
    bandwidth h = 1.06·σ̂·n^{{-1/5}} from exact integer moments: because
    the variable is value-bounded, the KDE is an exact histogram
    convolution f(g) = Σ_v c_v·K((g−v)/h)/(nh) — the density plot
    every EDA notebook draws, computed without sampling and with a
    deterministic answer (compare `events_histogram`'s raw bars).

    Determinism: histogram counts and moments are exact integers; per
    grid point the 61-term kernel sum folds in value order.

    Scale: one map-side-combined groupBy(value) over the fact join;
    the convolution is levels × grid bounded arithmetic (for
    continuous data, quantize to ~1e4 micro-bins first — same shape).
    """
    obs = delay_obs(spark, sf_dir)
    hist = obs.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mom = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("t")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("t") * F.col("t"))
        .cast("bigint")
        .alias("s2"),
    )
    bw = mom.select(
        "n",
        (
            1.06
            * F.sqrt(
                (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            )
            * F.pow(F.col("n").cast("double"), -0.2)
        ).alias("h"),
    )
    grid = spark.range(0, 61).select(F.col("id").cast("bigint").alias("g"))
    dens = (
        grid.crossJoin(F.broadcast(bw))
        .crossJoin(F.broadcast(hist))
        .groupBy("g", "h", "n")
        .agg(
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(t,
                    c * exp(-(g - t) * (g - t) / (2 * h * h)) AS vv))),
                  s -> s.vv), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            ).alias("ksum")
        )
    )
    return dens.select(
        F.col("g").alias("grid_t"),
        F.round("h", 6).alias("bandwidth"),
        F.round(
            F.col("ksum") / (F.col("n") * F.col("h") * _SQRT_2PI), 8
        ).alias("density"),
    ).orderBy("grid_t")


@query(
    "jarque_bera_test",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY t
    ), mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * t) AS BIGINT) AS s1,
             CAST(sum(c * t * t) AS BIGINT) AS s2,
             CAST(sum(c * t * t * t) AS BIGINT) AS s3,
             CAST(sum(c * t * t * t * t) AS BIGINT) AS s4
      FROM hist
    ), cen AS (
      -- every product is forced into DOUBLE via a CAST on its first
      -- big factor: DuckDB types bare float literals as DECIMAL, and
      -- 3.0*s2*s1 overflowed DECIMAL(38) at the sf10 decade (s1 ~
      -- 1.8e9, s2 ~ 1.8e29 as a DECIMAL product). The cast placement
      -- mirrors Spark's implicit double promotion operand-for-operand
      -- so both engines run the identical IEEE sequence.
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS m,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n AS m2,
             (CAST(s3 AS DOUBLE) - 3.0 * CAST(s2 AS DOUBLE) * s1 / n
              + 2.0 * CAST(s1 AS DOUBLE) * s1 * s1
                / (CAST(n AS DOUBLE) * n)) / n AS m3,
             (CAST(s4 AS DOUBLE) - 4.0 * CAST(s3 AS DOUBLE) * s1 / n
              + 6.0 * CAST(s2 AS DOUBLE) * s1 * s1
                / (CAST(n AS DOUBLE) * n)
              - 3.0 * CAST(s1 AS DOUBLE) * s1 * s1 * s1
                / (CAST(n AS DOUBLE) * n * n)) / n AS m4
      FROM mom
    )
    SELECT n,
           round(m, 4) AS mean,
           round(m3 / power(m2, 1.5), 6) AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
           round(n / 6.0 * (m3 / power(m2, 1.5) * (m3 / power(m2, 1.5))
                 + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0),
                 4) AS jb_stat,
           CASE WHEN n / 6.0 * (m3 / power(m2, 1.5)
                     * (m3 / power(m2, 1.5))
                     + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                       / 4.0) > 5.991465 THEN 1 ELSE 0 END AS reject_05
    FROM cen
    """,
)
def jarque_bera_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of the ship-delay distribution:
    JB = n/6·(S² + K²/4) from skewness S = m₃/m₂^1.5 and excess
    kurtosis K = m₄/m₂² − 3, all four central moments derived from
    exact integer raw-moment sums (Σt..Σt⁴ over the bounded
    histogram), against χ²₂ at 95% (5.9915) — the moment-based
    normality gate before any Gaussian-assuming model
    (`gumbel_return_levels`' light-tail assumption, z-tests, control
    limits).

    Determinism: raw moments are exact int64 (t ≤ 60 ⇒ t⁴ ≤ 1.3e7 —
    no overflow at any n); centered moments and JB are closed-form
    doubles.

    Scale: one map-side-combined groupBy(value); moments from the
    ≤61-row histogram.
    """
    obs = delay_obs(spark, sf_dir)
    hist = obs.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mom = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("t")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("t") * F.col("t"))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.col("c") * F.col("t") * F.col("t") * F.col("t"))
        .cast("bigint")
        .alias("s3"),
        F.sum(
            F.col("c") * F.col("t") * F.col("t") * F.col("t") * F.col("t")
        )
        .cast("bigint")
        .alias("s4"),
    )
    n = F.col("n")
    m = F.col("s1") * 1.0 / n
    m2 = (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / n) / n
    m3 = (
        F.col("s3")
        - 3.0 * F.col("s2") * F.col("s1") / n
        + 2.0 * F.col("s1") * F.col("s1") * F.col("s1") / (n * 1.0 * n)
    ) / n
    m4 = (
        F.col("s4")
        - 4.0 * F.col("s3") * F.col("s1") / n
        + 6.0 * F.col("s2") * F.col("s1") * F.col("s1") / (n * 1.0 * n)
        - 3.0
        * F.col("s1")
        * F.col("s1")
        * F.col("s1")
        * F.col("s1")
        / (n * 1.0 * n * n)
    ) / n
    skew = m3 / F.pow(m2, 1.5)
    kurt = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return mom.select(
        "n",
        F.round(m, 4).alias("mean"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(jb > 5.991465, 1).otherwise(0).alias("reject_05"),
    )


@query(
    "cochran_q_test",
    oracle="""
    WITH flags AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS x1,
             max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS x2,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS x3,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS x4,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x5
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS c1,
             CAST(sum(x2) AS BIGINT) AS c2,
             CAST(sum(x3) AS BIGINT) AS c3,
             CAST(sum(x4) AS BIGINT) AS c4,
             CAST(sum(x5) AS BIGINT) AS c5,
             CAST(sum(x1 + x2 + x3 + x4 + x5) AS BIGINT) AS sr,
             CAST(sum((x1 + x2 + x3 + x4 + x5)
                      * (x1 + x2 + x3 + x4 + x5)) AS BIGINT) AS sr2
      FROM flags
    )
    SELECT n AS n_blocks,
           c1 AS n_click, c2 AS n_error, c3 AS n_purchase,
           c4 AS n_signup, c5 AS n_view,
           round(5.0 * 4.0
                 * ((c1 - sr / 5.0) * (c1 - sr / 5.0)
                    + (c2 - sr / 5.0) * (c2 - sr / 5.0)
                    + (c3 - sr / 5.0) * (c3 - sr / 5.0)
                    + (c4 - sr / 5.0) * (c4 - sr / 5.0)
                    + (c5 - sr / 5.0) * (c5 - sr / 5.0))
                 / (5.0 * sr - sr2), 6) AS cochran_q,
           CASE WHEN 5.0 * 4.0
                     * ((c1 - sr / 5.0) * (c1 - sr / 5.0)
                        + (c2 - sr / 5.0) * (c2 - sr / 5.0)
                        + (c3 - sr / 5.0) * (c3 - sr / 5.0)
                        + (c4 - sr / 5.0) * (c4 - sr / 5.0)
                        + (c5 - sr / 5.0) * (c5 - sr / 5.0))
                     / (5.0 * sr - sr2) > 9.487729 THEN 1 ELSE 0 END
             AS reject_05
    FROM sums
    """,
)
def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test: do the five event types reach the same
    fraction of user-days? Each (user, day) is a matched
    block of five binary outcomes (touched the type that day or not); Q = k(k−1)·Σ_j(C_j − R̄)² /
    (k·ΣR_i − ΣR_i²) is χ²₄ under exchangeability — the k-treatment
    extension of `mcnemar_paired_test` and the binary sibling of
    `friedman_test`, closing the repeated-measures family. The
    matched design removes block-level activity volume, which an
    unpaired k-proportion χ² would conflate with type reach.

    Determinism: all column and row sums are exact integers; Q is one
    closed-form double.

    Scale: one map-side-combined per-user pivot (5 max flags), one
    integer re-aggregate — two passes of counts, no per-user state.
    """
    e = load(spark, sf_dir, "events")
    flags = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"x{i + 1}")
            for i, t in enumerate(
                ["click", "error", "purchase", "signup", "view"]
            )
        ]
    )
    r = sum(F.col(f"x{i}") for i in range(1, 6))
    sums = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(f"x{i}").cast("bigint").alias(f"c{i}")
            for i in range(1, 6)
        ],
        F.sum(r).cast("bigint").alias("sr"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    rbar = F.col("sr") / 5.0
    ss = sum(
        (F.col(f"c{i}") - rbar) * (F.col(f"c{i}") - rbar)
        for i in range(1, 6)
    )
    q = 5.0 * 4.0 * ss / (5.0 * F.col("sr") - F.col("sr2"))
    return sums.select(
        F.col("n").alias("n_blocks"),
        F.col("c1").alias("n_click"),
        F.col("c2").alias("n_error"),
        F.col("c3").alias("n_purchase"),
        F.col("c4").alias("n_signup"),
        F.col("c5").alias("n_view"),
        F.round(q, 6).alias("cochran_q"),
        F.when(q > 9.487729, 1).otherwise(0).alias("reject_05"),
    )
