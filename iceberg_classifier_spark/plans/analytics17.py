"""Analytics wave 17: mediation analysis and Bass diffusion fitting.

Baron-Kenny / product-of-coefficients mediation decomposes a total
effect into the part flowing THROUGH a mediator and the direct
remainder — with the exact algebraic identity total = direct +
indirect for linear OLS, which this op emits as a self-check. The
Bass model is the canonical new-product adoption curve; its discrete
form is a plain quadratic regression of new adopters on cumulative
adopters, so p (innovation), q (imitation), and m (market size) come
out of closed-form OLS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "mediation_product_coeffs",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS x,
             {DELAY_SQL} AS m,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(m) AS BIGINT) AS sm,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * m) AS BIGINT) AS sxm,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(m * y) AS BIGINT) AS smy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(m * m) AS BIGINT) AS smm
      FROM obs
    ), c AS (
      SELECT n,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx,
             CAST(n AS DOUBLE) * smm - CAST(sm AS DOUBLE) * sm AS cmm,
             CAST(n AS DOUBLE) * sxm - CAST(sx AS DOUBLE) * sm AS cxm,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy,
             CAST(n AS DOUBLE) * smy - CAST(sm AS DOUBLE) * sy AS cmy
      FROM s
    )
    SELECT n,
           round(cxm / cxx, 6) AS a_x_to_m,
           round((cmy * cxx - cxy * cxm) / (cxx * cmm - cxm * cxm), 6)
             AS b_m_to_y,
           round((cxy * cmm - cmy * cxm) / (cxx * cmm - cxm * cxm), 6)
             AS c_direct,
           round(cxy / cxx, 6) AS c_total,
           round((cxm / cxx)
                 * ((cmy * cxx - cxy * cxm) / (cxx * cmm - cxm * cxm)), 6)
             AS indirect_ab,
           round(cxy / cxx
                 - (cxy * cmm - cmy * cxm) / (cxx * cmm - cxm * cxm)
                 - (cxm / cxx)
                   * ((cmy * cxx - cxy * cxm) / (cxx * cmm - cxm * cxm)),
                 6) AS identity_gap
    FROM c
    """,
)
def mediation_product_coeffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-of-coefficients mediation: does urgent priority (X)
    affect the return rate (Y) THROUGH faster shipping (M)?
    a = slope of M on X; (b, c′) from the two-regressor OLS of Y on
    (X, M); indirect effect = a·b, direct = c′, total = simple slope
    of Y on X — with the linear-OLS identity total = c′ + a·b emitted
    as `identity_gap` (an exact-algebra self-check that both engines
    computed the same decomposition). The Baron-Kenny workhorse for
    "is the metric moving because of the mechanism we think".

    Determinism: all nine sufficient statistics are exact int64 from
    one pass; every coefficient is a closed-form double over them
    (products go through doubles deliberately — n·Σxm overflows int64
    at 10⁹ rows; doubles are engine-identical here).

    Scale: ONE map-side-combined aggregate over the fact join; zero
    further data passes — three regressions from nine numbers.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("x"),
        ship_delay().cast("bigint").alias("m"),
        (F.col("l_returnflag") == "R").cast("bigint").alias("y"),
    )
    s = obs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("m").cast("bigint").alias("sm"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("m")).cast("bigint").alias("sxm"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("m") * F.col("y")).cast("bigint").alias("smy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("smm"),
    )
    cxx = F.col("n") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx")
    cmm = F.col("n") * 1.0 * F.col("smm") - F.col("sm") * 1.0 * F.col("sm")
    cxm = F.col("n") * 1.0 * F.col("sxm") - F.col("sx") * 1.0 * F.col("sm")
    cxy = F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")
    cmy = F.col("n") * 1.0 * F.col("smy") - F.col("sm") * 1.0 * F.col("sy")
    den = cxx * cmm - cxm * cxm
    a = cxm / cxx
    b = (cmy * cxx - cxy * cxm) / den
    c_direct = (cxy * cmm - cmy * cxm) / den
    c_total = cxy / cxx
    return s.select(
        "n",
        F.round(a, 6).alias("a_x_to_m"),
        F.round(b, 6).alias("b_m_to_y"),
        F.round(c_direct, 6).alias("c_direct"),
        F.round(c_total, 6).alias("c_total"),
        F.round(a * b, 6).alias("indirect_ab"),
        F.round(c_total - c_direct - a * b, 6).alias("identity_gap"),
    )


@query(
    "bass_diffusion_fit",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS s_t
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ), cum AS (
      SELECT day, s_t,
             CAST(sum(s_t) OVER (ORDER BY day) - s_t AS BIGINT) AS a_prev
      FROM daily
    ), pts AS (
      SELECT day, CAST(s_t AS DOUBLE) AS yv,
             CAST(a_prev AS DOUBLE) AS x1, CAST(a_prev AS DOUBLE)
               * CAST(a_prev AS DOUBLE) AS x2
      FROM cum WHERE a_prev > 0
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x1 ORDER BY day)), (a, v) -> a + v) AS sx1,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x2 ORDER BY day)), (a, v) -> a + v) AS sx2,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(yv ORDER BY day)), (a, v) -> a + v) AS sy,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x1 * x1 ORDER BY day)), (a, v) -> a + v) AS s11,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x1 * x2 ORDER BY day)), (a, v) -> a + v) AS s12,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x2 * x2 ORDER BY day)), (a, v) -> a + v) AS s22,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x1 * yv ORDER BY day)), (a, v) -> a + v) AS s1y,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(x2 * yv ORDER BY day)), (a, v) -> a + v) AS s2y
      FROM pts
    ), c AS (
      SELECT n,
             n * s11 - sx1 * sx1 AS c11, n * s12 - sx1 * sx2 AS c12,
             n * s22 - sx2 * sx2 AS c22, n * s1y - sx1 * sy AS c1y,
             n * s2y - sx2 * sy AS c2y, sx1, sx2, sy
      FROM s
    ), coefs AS (
      SELECT n,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2,
             (sy - (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) * sx1
                 - (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) * sx2)
               / n AS b0
      FROM c
    )
    SELECT n AS n_days,
           round(b0, 6) AS coef_a,
           round(b1, 6) AS coef_b,
           round(b2, 8) AS coef_c,
           CAST(b1 * b1 - 4 * b2 * b0 >= 0 AS BOOLEAN) AS roots_real,
           round((-b1 - sqrt(greatest(b1 * b1 - 4 * b2 * b0, 0)))
                 / (2 * b2), 2) AS market_size_m,
           round(b0 / ((-b1 - sqrt(greatest(b1 * b1 - 4 * b2 * b0, 0)))
                 / (2 * b2)), 6) AS p_innovation,
           round(-b2 * ((-b1 - sqrt(greatest(b1 * b1 - 4 * b2 * b0, 0)))
                 / (2 * b2)), 6) AS q_imitation
    FROM coefs
    """,
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit on daily signups: the discrete Bass
    form S_t = a + b·A_{t−1} + c·A²_{t−1} (new adopters vs cumulative
    adopters) is a two-regressor OLS; the structural parameters come
    from its roots — market size m = (−b −√(b²−4ac))/2c, innovation
    p = a/m, imitation q = −c·m — the Bass-69 estimation recipe that
    turns 30 days of adoption counts into a saturation forecast.

    Determinism: daily counts and cumulative adopters are exact
    integers; the nine OLS sums fold in day order; coefficients and
    roots are closed-form doubles.

    Scale: one map-side-combined groupBy(day) + an ordered prefix sum
    over the bounded day dimension; the fit is ≤366-point arithmetic.
    """
    e = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    daily = (
        e.filter(F.col("event_type") == "signup")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("s_t"))
    )
    wd = Window.orderBy("day")
    cum = daily.select(
        "day",
        "s_t",
        (F.sum("s_t").over(wd) - F.col("s_t")).cast("bigint").alias("a_prev"),
    )
    pts = cum.filter(F.col("a_prev") > 0).select(
        "day",
        F.col("s_t").cast("double").alias("yv"),
        F.col("a_prev").cast("double").alias("x1"),
        (F.col("a_prev").cast("double") * F.col("a_prev").cast("double")).alias(
            "x2"
        ),
    )

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(day,
                ({expr}) AS vv))), s -> s.vv), CAST(0.0 AS DOUBLE),
              (a, v) -> a + v)
            """
        )

    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        fold("x1").alias("sx1"),
        fold("x2").alias("sx2"),
        fold("yv").alias("sy"),
        fold("x1 * x1").alias("s11"),
        fold("x1 * x2").alias("s12"),
        fold("x2 * x2").alias("s22"),
        fold("x1 * yv").alias("s1y"),
        fold("x2 * yv").alias("s2y"),
    )
    c11 = F.col("n") * F.col("s11") - F.col("sx1") * F.col("sx1")
    c12 = F.col("n") * F.col("s12") - F.col("sx1") * F.col("sx2")
    c22 = F.col("n") * F.col("s22") - F.col("sx2") * F.col("sx2")
    c1y = F.col("n") * F.col("s1y") - F.col("sx1") * F.col("sy")
    c2y = F.col("n") * F.col("s2y") - F.col("sx2") * F.col("sy")
    den = c11 * c22 - c12 * c12
    b1 = (c1y * c22 - c2y * c12) / den
    b2 = (c2y * c11 - c1y * c12) / den
    b0 = (F.col("sy") - b1 * F.col("sx1") - b2 * F.col("sx2")) / F.col("n")
    # the synthetic series is not Bass-shaped at every SF: at sf0.1 the
    # fitted c flips sign and the discriminant goes negative (found by the
    # round-6 sf0.1 parity sweep — DuckDB raises on sqrt(negative), Spark
    # silently yields NaN). Clamp the discriminant identically in both
    # engines and surface the condition as an explicit roots_real flag —
    # the clamp leaves every real-rooted SF's values bit-unchanged.
    disc = b1 * b1 - 4 * b2 * b0
    m = (-b1 - F.sqrt(F.greatest(disc, F.lit(0.0)))) / (2 * b2)
    return s.select(
        F.col("n").alias("n_days"),
        F.round(b0, 6).alias("coef_a"),
        F.round(b1, 6).alias("coef_b"),
        F.round(b2, 8).alias("coef_c"),
        (disc >= 0).alias("roots_real"),
        F.round(m, 2).alias("market_size_m"),
        F.round(b0 / m, 6).alias("p_innovation"),
        F.round(-b2 * m, 6).alias("q_imitation"),
    )
