"""Econometrics wave: causal-identification estimators as one-pass
closed-form aggregates.

- `regression_discontinuity` — local linear RD at a $200k order-value
  cutoff: per-side OLS from integer-exact sufficient sums inside a
  $50k bandwidth; effect = jump of the fitted lines at the cutoff.
- `iv_wald_estimate` — instrumental-variable (Wald / 2SLS with one
  binary instrument) estimate: part size class instruments discount
  exposure, dollar revenue is the outcome.
- `chow_break_test` — Chow F-test for a structural break in the
  daily-revenue trend at 1998-01-01 (pooled vs. two-segment OLS).
- `granger_causality_daily` — lag-1 Granger causality: does daily
  order count help predict next-day revenue beyond revenue's own
  lag? Nested-model F-test with the 2-regressor normal equations
  solved in closed form.

Together with `difference_in_differences` / `ipw_ate_cells` /
`cuped_variance_reduction` / `quantile_treatment_effects` this
completes the standard causal toolkit. Reference surface: the
reference's train/validation split comparisons (main.py:120-180) are
the same "difference between fitted groups" primitive.

Determinism: every estimator reduces the fact table to BIGINT-exact
sufficient sums (outcomes quantized to whole dollars, running
variables to integer dollars/days); the closed-form double arithmetic
on those sums is expression-identical on both engines; outputs are
rounded 6dp. Products of sums are computed in DOUBLE (never
BIGINT*BIGINT) so nothing overflows through ~sf100.

Scale: each operator is ONE scan with conditional aggregation (map-
side combine) — no shuffle beyond the final tiny aggregate; the
daily frames are bounded by the fixed 1995-2001 calendar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

# slope/intercept from exact integer sums; multiply in DOUBLE to stay
# overflow-safe (identical expression text on both engines)
_SLOPE = ("((CAST({n} AS DOUBLE) * {sxy} - CAST({sx} AS DOUBLE) * {sy})"
          " / (CAST({n} AS DOUBLE) * {sxx} - CAST({sx} AS DOUBLE) * {sx}))")


@query(
    "regression_discontinuity",
    oracle=f"""
    WITH band AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) - 200000 AS x,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE round(o_totalprice) BETWEEN 150000 AND 250000
    ), sides AS (
      SELECT CASE WHEN x < 0 THEN 'left' ELSE 'right' END AS side,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM band GROUP BY 1
    ), fits AS (
      SELECT side, n,
             {_SLOPE.format(n="n", sx="sx", sxx="sxx", sy="sy",
                            sxy="sxy")} AS slope,
             (sy - {_SLOPE.format(n="n", sx="sx", sxx="sxx", sy="sy",
                                  sxy="sxy")} * sx)
               / CAST(n AS DOUBLE) AS icept
      FROM sides
    )
    SELECT l.n AS n_left, r.n AS n_right,
           round(l.icept, 6) AS intercept_left,
           round(r.icept, 6) AS intercept_right,
           round(l.slope * 1000, 6) AS slope_left_per_1k,
           round(r.slope * 1000, 6) AS slope_right_per_1k,
           round(r.icept - l.icept, 6) AS rd_effect
    FROM (SELECT * FROM fits WHERE side = 'left') l
    CROSS JOIN (SELECT * FROM fits WHERE side = 'right') r
    """,
)
def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate at the $200k order
    total cutoff: within a +/-$50k bandwidth, fit OLS of the
    finished-status indicator on the (dollar-integer) running
    variable separately on each side; the causal-jump estimate is
    the difference of the two intercepts AT the cutoff (uniform
    kernel local-linear RD). Emits per-side fits and the effect.

    Determinism: the running variable is integer dollars and the
    outcome binary, so all five sufficient sums per side are exact
    int64; sums-of-products are combined in DOUBLE (overflow-safe
    past sf100) with expression-identical arithmetic on both
    engines.

    Scale: the bandwidth filter pushes to the parquet scan; one
    conditional aggregate per side — a single map-side-combine pass,
    no shuffle of raw rows.
    """
    o = load(spark, sf_dir, "orders")
    band = o.where(
        F.round(F.col("o_totalprice")).between(150000, 250000)
    ).select(
        (F.round(F.col("o_totalprice")).cast("bigint") - 200000).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    sides = band.groupBy(
        F.when(F.col("x") < 0, "left").otherwise("right").alias("side")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.expr("sum(x * x)").cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.expr("sum(x * y)").cast("bigint").alias("sxy"),
    )
    slope = _SLOPE.format(n="n", sx="sx", sxx="sxx", sy="sy", sxy="sxy")
    fits = sides.select(
        "side",
        "n",
        F.expr(slope).alias("slope"),
        F.expr(f"(sy - {slope} * sx) / CAST(n AS DOUBLE)").alias("icept"),
    )
    l = fits.where(F.col("side") == "left").alias("l")
    r = fits.where(F.col("side") == "right").alias("r")
    return l.crossJoin(F.broadcast(r)).select(
        F.col("l.n").alias("n_left"),
        F.col("r.n").alias("n_right"),
        F.round(F.col("l.icept"), 6).alias("intercept_left"),
        F.round(F.col("r.icept"), 6).alias("intercept_right"),
        F.round(F.col("l.slope") * 1000, 6).alias("slope_left_per_1k"),
        F.round(F.col("r.slope") * 1000, 6).alias("slope_right_per_1k"),
        F.round(F.col("r.icept") - F.col("l.icept"), 6).alias("rd_effect"),
    )


@query(
    "iv_wald_estimate",
    oracle="""
    WITH joined AS (
      SELECT CASE WHEN p.p_size <= 25 THEN 1 ELSE 0 END AS z,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS d,
             CAST(round(l.l_extendedprice) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), arms AS (
      SELECT z, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(y) AS BIGINT) AS sy
      FROM joined GROUP BY z
    )
    SELECT a1.n AS n_encouraged, a0.n AS n_control,
           round(CAST(a1.sd AS DOUBLE) / a1.n
                 - CAST(a0.sd AS DOUBLE) / a0.n, 6) AS first_stage,
           round(CAST(a1.sy AS DOUBLE) / a1.n
                 - CAST(a0.sy AS DOUBLE) / a0.n, 6) AS reduced_form,
           round((CAST(a1.sy AS DOUBLE) / a1.n
                  - CAST(a0.sy AS DOUBLE) / a0.n)
                 / (CAST(a1.sd AS DOUBLE) / a1.n
                    - CAST(a0.sd AS DOUBLE) / a0.n), 6) AS late_wald
    FROM (SELECT * FROM arms WHERE z = 1) a1
    CROSS JOIN (SELECT * FROM arms WHERE z = 0) a0
    """,
)
def iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable estimate by the Wald ratio (numerically
    identical to 2SLS with a single binary instrument): part size
    class (<=25) instruments discount exposure (>=5%), with line
    dollar revenue the outcome. LATE = reduced-form effect /
    first-stage effect. Emits arm sizes, first stage, reduced form,
    and the Wald LATE.

    Determinism: both indicators and the dollar-quantized outcome
    make every arm statistic an exact int64 sum; the three
    mean-difference divisions are the only float ops.

    Scale: one dimension join (part broadcasts; AQE picks the
    strategy) then a 2-group conditional aggregate — map-side
    combine, no raw-row shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    arms = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.when(F.col("p_size") <= 25, 1).otherwise(0).alias("z"),
            F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("d"),
            F.round(F.col("l_extendedprice")).cast("bigint").alias("y"),
        )
        .groupBy("z")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("d").cast("bigint").alias("sd"),
            F.sum("y").cast("bigint").alias("sy"),
        )
    )
    a1 = arms.where(F.col("z") == 1).alias("a1")
    a0 = arms.where(F.col("z") == 0).alias("a0")
    fs = (
        F.col("a1.sd").cast("double") / F.col("a1.n")
        - F.col("a0.sd").cast("double") / F.col("a0.n")
    )
    rf = (
        F.col("a1.sy").cast("double") / F.col("a1.n")
        - F.col("a0.sy").cast("double") / F.col("a0.n")
    )
    return a1.crossJoin(F.broadcast(a0)).select(
        F.col("a1.n").alias("n_encouraged"),
        F.col("a0.n").alias("n_control"),
        F.round(fs, 6).alias("first_stage"),
        F.round(rf, 6).alias("reduced_form"),
        F.round(rf / fs, 6).alias("late_wald"),
    )


# centered second moments (double) from exact integer sums
_CM = ("({sab} - CAST({sa} AS DOUBLE) * {sb} / CAST({n} AS DOUBLE))")


def _seg_moments(pred: str) -> str:
    return f"""
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(d) AS BIGINT) AS sx,
             CAST(sum(d * d) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(d * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM daily WHERE {pred}"""


_SSR = (
    "(({syy} - CAST({sy} AS DOUBLE) * {sy} / CAST({n} AS DOUBLE))"
    " - ({sxy} - CAST({sx} AS DOUBLE) * {sy} / CAST({n} AS DOUBLE))"
    " * ({sxy} - CAST({sx} AS DOUBLE) * {sy} / CAST({n} AS DOUBLE))"
    " / ({sxx} - CAST({sx} AS DOUBLE) * {sx} / CAST({n} AS DOUBLE)))"
)


def _ssr(p: str) -> str:
    return _SSR.format(
        n=f"{p}.n", sx=f"{p}.sx", sxx=f"{p}.sxx", sy=f"{p}.sy",
        sxy=f"{p}.sxy", syy=f"{p}.syy",
    )


@query(
    "chow_break_test",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), s1 AS ({_seg_moments("d < 1096")}
    ), s2 AS ({_seg_moments("d >= 1096")}
    ), sp AS ({_seg_moments("TRUE")})
    SELECT s1.n AS n_pre, s2.n AS n_post,
           round({_ssr("sp")} / sp.n, 6) AS ssr_pooled_per_day,
           round(({_ssr("s1")} + {_ssr("s2")})
                 / sp.n, 6) AS ssr_split_per_day,
           round((({_ssr("sp")} - {_ssr("s1")} - {_ssr("s2")}) / 2)
                 / (({_ssr("s1")} + {_ssr("s2")})
                    / (sp.n - 4)), 6) AS chow_f
    FROM s1 CROSS JOIN s2 CROSS JOIN sp
    """,
)
def chow_break_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue time
    trend at 1998-01-01 (day 1096): pooled simple OLS vs. separate
    pre/post fits, F = ((SSR_p - SSR_1 - SSR_2)/k) /
    ((SSR_1 + SSR_2)/(n - 2k)) with k=2 parameters per segment. SSRs
    come from the closed-form centered-moment identity
    SSR = Syy - Sxy^2/Sxx, all moments exact int64 (revenue
    quantized to $1k per day). Emits segment sizes, per-day SSRs,
    and the F statistic.

    Scale: one fact pass to the bounded observed-day frame (fixed
    calendar => <=2.4k rows at any corpus size), then three
    conditional aggregates over it.
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(order_day().alias("d"))
        .agg(
            F.expr(
                "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
                " AS DOUBLE) / 1000.0) AS BIGINT)"
            ).alias("y")
        )
        .cache()
    )

    def seg(pred) -> DataFrame:
        return daily.where(pred).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("d").cast("bigint").alias("sx"),
            F.expr("sum(d * d)").cast("bigint").alias("sxx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.expr("sum(d * y)").cast("bigint").alias("sxy"),
            F.expr("sum(y * y)").cast("bigint").alias("syy"),
        )

    s1 = seg(F.col("d") < 1096).alias("s1")
    s2 = seg(F.col("d") >= 1096).alias("s2")
    sp = seg(F.lit(True)).alias("sp")
    ssr_p, ssr_1, ssr_2 = _ssr("sp"), _ssr("s1"), _ssr("s2")
    return (
        s1.crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(sp))
        .select(
            F.col("s1.n").alias("n_pre"),
            F.col("s2.n").alias("n_post"),
            F.round(F.expr(f"{ssr_p} / sp.n"), 6).alias("ssr_pooled_per_day"),
            F.round(F.expr(f"({ssr_1} + {ssr_2}) / sp.n"), 6).alias(
                "ssr_split_per_day"
            ),
            F.round(
                F.expr(
                    f"(({ssr_p} - {ssr_1} - {ssr_2}) / 2)"
                    f" / (({ssr_1} + {ssr_2}) / (sp.n - 4))"
                ),
                6,
            ).alias("chow_f"),
        )
    )


@query(
    "granger_causality_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT c.rev AS t, p.rev AS a, p.cnt AS b
      FROM daily c JOIN daily p ON p.d = c.d - 1
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(a * a) AS BIGINT) AS saa,
             CAST(sum(a * b) AS BIGINT) AS sab,
             CAST(sum(b * b) AS BIGINT) AS sbb,
             CAST(sum(a * t) AS BIGINT) AS sat,
             CAST(sum(b * t) AS BIGINT) AS sbt,
             CAST(sum(t * t) AS BIGINT) AS stt
      FROM lagged
    ), c AS (
      SELECT n,
             saa - CAST(sa AS DOUBLE) * sa / n AS caa,
             sab - CAST(sa AS DOUBLE) * sb / n AS cab,
             sbb - CAST(sb AS DOUBLE) * sb / n AS cbb,
             sat - CAST(sa AS DOUBLE) * st / n AS cat_,
             sbt - CAST(sb AS DOUBLE) * st / n AS cbt,
             stt - CAST(st AS DOUBLE) * st / n AS ctt
      FROM m
    ), fit AS (
      SELECT n, ctt,
             ctt - cat_ * cat_ / caa AS ssr_restricted,
             ctt - ((cbb * cat_ - cab * cbt) / (caa * cbb - cab * cab))
                     * cat_
                 - ((caa * cbt - cab * cat_) / (caa * cbb - cab * cab))
                     * cbt AS ssr_full
      FROM c
    )
    SELECT n AS n_days,
           round(1 - ssr_full / ctt, 6) AS r2_full,
           round(1 - ssr_restricted / ctt, 6) AS r2_restricted,
           round((ssr_restricted - ssr_full)
                 / (ssr_full / (n - 3)), 6) AS granger_f
    FROM fit
    """,
)
def granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality on the daily frame: does yesterday's
    ORDER COUNT improve today's REVENUE prediction beyond
    yesterday's revenue alone? Restricted model rev_t ~ rev_{t-1};
    full model adds cnt_{t-1}; the 2-regressor normal equations are
    solved in closed form from centered moments, and the nested-
    model F statistic tests the added regressor. Emits both R^2s and
    the F.

    Determinism: the daily frame carries exact int64 (count,
    $1k-quantized revenue); the lag is an equi-join on day index (no
    window, gap days drop identically on both engines); the ten
    sufficient sums are exact int64 and all downstream arithmetic is
    expression-identical doubles.

    Scale: one fact pass to the bounded day frame; the lag self-join
    and moment aggregate run on <=2.4k rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("rev"),
    )
    c = daily.alias("c")
    p = daily.alias("p")
    lagged = c.join(
        F.broadcast(p), F.col("p.d") == F.col("c.d") - 1
    ).select(
        F.col("c.rev").alias("t"),
        F.col("p.rev").alias("a"),
        F.col("p.cnt").alias("b"),
    )
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum("t").cast("bigint").alias("st"),
        F.expr("sum(a * a)").cast("bigint").alias("saa"),
        F.expr("sum(a * b)").cast("bigint").alias("sab"),
        F.expr("sum(b * b)").cast("bigint").alias("sbb"),
        F.expr("sum(a * t)").cast("bigint").alias("sat"),
        F.expr("sum(b * t)").cast("bigint").alias("sbt"),
        F.expr("sum(t * t)").cast("bigint").alias("stt"),
    )
    cm = m.select(
        "n",
        F.expr("saa - CAST(sa AS DOUBLE) * sa / n").alias("caa"),
        F.expr("sab - CAST(sa AS DOUBLE) * sb / n").alias("cab"),
        F.expr("sbb - CAST(sb AS DOUBLE) * sb / n").alias("cbb"),
        F.expr("sat - CAST(sa AS DOUBLE) * st / n").alias("cat_"),
        F.expr("sbt - CAST(sb AS DOUBLE) * st / n").alias("cbt"),
        F.expr("stt - CAST(st AS DOUBLE) * st / n").alias("ctt"),
    )
    fit = cm.select(
        "n",
        "ctt",
        F.expr("ctt - cat_ * cat_ / caa").alias("ssr_restricted"),
        F.expr(
            "ctt - ((cbb * cat_ - cab * cbt) / (caa * cbb - cab * cab))"
            " * cat_"
            " - ((caa * cbt - cab * cat_) / (caa * cbb - cab * cab))"
            " * cbt"
        ).alias("ssr_full"),
    )
    return fit.select(
        F.col("n").alias("n_days"),
        F.round(F.lit(1) - F.col("ssr_full") / F.col("ctt"), 6).alias(
            "r2_full"
        ),
        F.round(
            F.lit(1) - F.col("ssr_restricted") / F.col("ctt"), 6
        ).alias("r2_restricted"),
        F.round(
            (F.col("ssr_restricted") - F.col("ssr_full"))
            / (F.col("ssr_full") / (F.col("n") - 3)),
            6,
        ).alias("granger_f"),
    )
