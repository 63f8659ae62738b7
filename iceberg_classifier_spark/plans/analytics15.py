"""Analytics wave 15: one-way ANOVA, Brown-Forsythe variance equality,
and acceptance-sampling OC curves.

ANOVA completes the k-group test family (means: this op; ranks:
`kruskal_wallis_priority`; two-group: `welch_ttest_priority`).
Brown-Forsythe (median-centered Levene) is the robust "are the
variances equal" gate that decides whether pooled-variance tests are
even valid. The operating-characteristic curve of an (n, c) sampling
plan is the quality-control staple for lot acceptance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

# F(4, ∞) 95% critical value = χ²₄(0.95)/4
_F_CRIT = 2.371945


@query(
    "anova_oneway_priority",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderpriority AS g, {DELAY_SQL} AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), grp AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM obs GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s1) AS BIGINT) AS s1t,
             CAST(sum(s2) AS BIGINT) AS s2t,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(s1 * 1.0 * s1 / n ORDER BY g)), (a, v) -> a + v)
               AS sum_sq_means
      FROM grp
    )
    SELECT nt AS n, k AS k_groups,
           round(sum_sq_means - s1t * 1.0 * s1t / nt, 4) AS ss_between,
           round(s2t - sum_sq_means, 4) AS ss_within,
           round((sum_sq_means - s1t * 1.0 * s1t / nt) / (k - 1)
                 / ((s2t - sum_sq_means) / (nt - k)), 6) AS f_stat,
           round((sum_sq_means - s1t * 1.0 * s1t / nt)
                 / (s2t - s1t * 1.0 * s1t / nt), 6) AS eta_squared,
           CASE WHEN (sum_sq_means - s1t * 1.0 * s1t / nt) / (k - 1)
                     / ((s2t - sum_sq_means) / (nt - k)) > {_F_CRIT}
                THEN 1 ELSE 0 END AS reject_05
    FROM tot
    """,
)
def anova_oneway_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of ship delay across the five order priorities:
    F = (SSB/(k−1))/(SSW/(N−k)) with SSB = Σ S_g²/n_g − S²/N and
    SSW = ΣY² − Σ S_g²/n_g — all from exact per-group integer
    (n, Σy, Σy²) — plus η² effect size, against F(4, ∞) at 95%
    (= χ²₄/4, exact at these N). Completes the k-group family: means
    here, ranks in `kruskal_wallis_priority`, a 2-group Welch t in
    `welch_ttest_priority`.

    Determinism: group sufficient statistics are exact int64; the
    5-term Σ S_g²/n_g folds in group order; F/η² are closed-form
    doubles.

    Scale: one map-side-combined groupBy(priority) over the fact join;
    the test is 5-row arithmetic.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("g"),
        ship_delay().alias("y"),
    )
    grp = obs.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1").cast("bigint").alias("s1t"),
        F.sum("s2").cast("bigint").alias("s2t"),
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(g,
                s1 * 1.0 * s1 / n AS vv))), s -> s.vv),
              CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("sum_sq_means"),
    )
    ssb = F.col("sum_sq_means") - F.col("s1t") * 1.0 * F.col("s1t") / F.col(
        "nt"
    )
    ssw = F.col("s2t") - F.col("sum_sq_means")
    sst = F.col("s2t") - F.col("s1t") * 1.0 * F.col("s1t") / F.col("nt")
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nt") - F.col("k")))
    return tot.select(
        F.col("nt").alias("n"),
        F.col("k").alias("k_groups"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_squared"),
        F.when(fstat > _F_CRIT, 1).otherwise(0).alias("reject_05"),
    )


@query(
    "brown_forsythe_test",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderpriority AS g, {DELAY_SQL} AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY g, y
    ), cum AS (
      SELECT g, y, c,
             CAST(sum(c) OVER (PARTITION BY g ORDER BY y) AS BIGINT)
               AS cc,
             CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM hist
    ), med AS (
      SELECT g, CAST(min(y) AS BIGINT) AS m
      FROM cum WHERE 2 * cc >= n + 1 GROUP BY g
    ), z AS (
      SELECT h.g, abs(h.y - m.m) AS z, h.c
      FROM hist h JOIN med m ON h.g = m.g
    ), grp AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * z) AS BIGINT) AS s1,
             CAST(sum(c * z * z) AS BIGINT) AS s2
      FROM z GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s1) AS BIGINT) AS s1t,
             CAST(sum(s2) AS BIGINT) AS s2t,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(s1 * 1.0 * s1 / n ORDER BY g)), (a, v) -> a + v)
               AS ssm
      FROM grp
    )
    SELECT nt AS n, k AS k_groups,
           round((ssm - s1t * 1.0 * s1t / nt) / (k - 1)
                 / ((s2t - ssm) / (nt - k)), 6) AS bf_stat,
           CASE WHEN (ssm - s1t * 1.0 * s1t / nt) / (k - 1)
                     / ((s2t - ssm) / (nt - k)) > {_F_CRIT}
                THEN 1 ELSE 0 END AS reject_05
    FROM tot
    """,
)
def brown_forsythe_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-centered Levene): are the delay
    VARIANCES equal across priorities? Per group, z = |y − median_g|
    (medians exact from the bounded value histogram — the lower median
    where 2·cum ≥ n+1), then the one-way ANOVA F on z — robust to the
    non-normality that invalidates Bartlett's test. The gate before
    any pooled-variance inference (`anova_oneway_priority` assumes
    what this op checks).

    Determinism: medians and all z are exact integers (|int − int|);
    the group sufficient statistics are exact int64; the F folds the
    5 groups in order.

    Scale: medians come from the ≤61-value per-group histogram (no
    global rank); z-statistics reuse the SAME histogram weighted by
    counts — the fact table is touched once, by the histogram groupBy.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("g"),
        ship_delay().alias("y"),
    )
    hist = obs.groupBy("g", "y").agg(F.count(F.lit(1)).alias("c"))
    wg = Window.partitionBy("g").orderBy("y")
    cum = hist.select(
        "g",
        "y",
        "c",
        F.sum("c").over(wg).alias("cc"),
        F.sum("c").over(Window.partitionBy("g")).alias("n"),
    )
    med = (
        cum.filter(2 * F.col("cc") >= F.col("n") + 1)
        .groupBy("g")
        .agg(F.min("y").cast("bigint").alias("m"))
    )
    z = hist.join(med, "g").select(
        "g", F.abs(F.col("y") - F.col("m")).alias("z"), "c"
    )
    grp = z.groupBy("g").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("z")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("z") * F.col("z"))
        .cast("bigint")
        .alias("s2"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1").cast("bigint").alias("s1t"),
        F.sum("s2").cast("bigint").alias("s2t"),
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(g,
                s1 * 1.0 * s1 / n AS vv))), s -> s.vv),
              CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("ssm"),
    )
    bf = (
        (F.col("ssm") - F.col("s1t") * 1.0 * F.col("s1t") / F.col("nt"))
        / (F.col("k") - 1)
    ) / ((F.col("s2t") - F.col("ssm")) / (F.col("nt") - F.col("k")))
    return tot.select(
        F.col("nt").alias("n"),
        F.col("k").alias("k_groups"),
        F.round(bf, 6).alias("bf_stat"),
        F.when(bf > _F_CRIT, 1).otherwise(0).alias("reject_05"),
    )


_AQL_N = 50
_AQL_C = 2
_BINOM = [1, 50, 1225]  # C(50, 0..2)
_GRID = [(0, 50), (1, 75), (2, 100), (3, 150), (4, 200), (5, 300)]


@query(
    "acceptance_sampling_oc",
    oracle=f"""
    WITH rate AS (
      SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS defects,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
    ), grid AS (
      SELECT g.idx, g.pct,
             r.defects * 1.0 / r.n * g.pct / 100.0 AS p,
             r.defects, r.n
      FROM rate r, (SELECT * FROM (VALUES {", ".join(f"({i}, {m})" for i, m in _GRID)})
                    AS t(idx, pct)) g
    )
    SELECT idx AS grid_point,
           CAST(pct AS BIGINT) AS pct_of_observed,
           CAST((2 * defects * pct * 1000000 + 100 * n)
                // (200 * n) AS DOUBLE) / 1000000 AS defect_rate,
           round({" + ".join(f"{c} * power(p, {i}) * power(1 - p, {_AQL_N - i})" for i, c in enumerate(_BINOM))},
                 6) AS p_accept,
           CAST(round(p * {_AQL_N}) AS BIGINT) AS expected_defects_in_sample
    FROM grid ORDER BY idx
    """,
)
def acceptance_sampling_oc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-characteristic curve of the (n=50, c=2) lot-acceptance
    sampling plan against the observed return-flag defect rate:
    P(accept | p) = Σ_{{i≤2}} C(50,i)·pⁱ(1−p)⁵⁰⁻ⁱ evaluated on a grid
    of 50%–300% of the observed rate — the quality-control curve that
    exposes a plan's producer risk (rejecting good lots, left edge)
    and consumer risk (accepting bad lots, right edge) before anyone
    commits to it.

    Determinism: the observed rate is an exact count ratio; binomial
    coefficients are precomputed exact integers; each grid point is
    one closed-form double expression.

    Scale: one map-side-combined count aggregate; the curve is a
    6-row constant-grid computation.
    """
    li = load(spark, sf_dir, "lineitem")
    rate = li.agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("defects"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grid = spark.createDataFrame(list(_GRID), "idx int, pct int")
    g = rate.crossJoin(F.broadcast(grid)).select(
        "idx",
        "pct",
        "defects",
        "n",
        (
            F.col("defects") * 1.0 / F.col("n") * F.col("pct") / 100.0
        ).alias("p"),
    )
    pacc = None
    for i, c in enumerate(_BINOM):
        term = c * F.pow(F.col("p"), i) * F.pow(1 - F.col("p"), _AQL_N - i)
        pacc = term if pacc is None else pacc + term
    return g.select(
        F.col("idx").alias("grid_point"),
        F.col("pct").cast("bigint").alias("pct_of_observed"),
        # defect_rate is the exact rational defects·pct/(100n) — emitted
        # as integer HALF_UP because round(double, 6) landed exactly on a
        # .5 boundary at sf0.1 and the engines' rounding paths split
        # (round-6 sf0.1 parity sweep)
        (
            F.expr(
                "CAST((2 * defects * pct * 1000000 + 100 * n)"
                " div (200 * n) AS DOUBLE)"
            )
            / 1000000
        ).alias("defect_rate"),
        F.round(pacc, 6).alias("p_accept"),
        F.round(F.col("p") * _AQL_N)
        .cast("bigint")
        .alias("expected_defects_in_sample"),
    ).orderBy("grid_point")
