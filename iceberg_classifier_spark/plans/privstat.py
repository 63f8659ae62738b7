"""Privacy/stat wave 49: local-DP randomized response, Page's ordered
trend test, and Shapiro-Francia normality.

- `randomized_response_estimate` — Warner randomized response over
  the order-status bit: every row flips with p=0.25 decided by the
  repo's portable md5 hash (so the release is reproducible and both
  engines derive identical perturbed data), then the unbiased
  inversion (obs - p)/(1 - 2p) recovers the population rate. The
  LOCAL-DP counterpart of `dp_noisy_counts` (central Laplace).
- `page_trend_test` — Page's L test for a MONOTONE trend across the
  5 ordered priorities using order-year blocks: within-block ranks
  of mean order value, L = sum j*R_j, exact moments, z decision.
- `shapiro_francia_normality` — correlation-based normality of daily
  revenue: W' = corr^2 of order statistics vs Blom normal scores
  computed with Acklam's inverse-normal approximation (one shared
  expression template instantiated for both engines), Royston's z
  normalization for the decision.

Determinism: flips/ranks are exact integers off portable hashes and
bounded frames; Acklam / Royston closed forms are identical IEEE
expressions both sides; outputs rounded 6dp.

Scale: randomized response is ONE stateless map pass (per-row hash +
conditional agg — embarrassingly parallel); Page reduces to a 35-row
(block, treatment) frame; Shapiro-Francia ranks only the bounded
calendar frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.plans.pipeline_ops import _duck_hex_fold
from iceberg_classifier_spark.sources.tables import load

_RR_P = 0.25  # flip probability


@query(
    "randomized_response_estimate",
    oracle=f"""
    WITH perturbed AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS truth,
             CASE WHEN (CAST({_duck_hex_fold("CAST(o_orderkey AS VARCHAR)", 13)}
                        AS DOUBLE) + 0.5) / 4503599627370496 < {_RR_P}
                  THEN 1 - CASE WHEN o_orderstatus = 'F'
                           THEN 1 ELSE 0 END
                  ELSE CASE WHEN o_orderstatus = 'F'
                       THEN 1 ELSE 0 END END AS reported
      FROM orders
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(truth) AS BIGINT) AS n_true,
             CAST(sum(reported) AS BIGINT) AS n_reported
      FROM perturbed
    )
    SELECT n, n_true, n_reported,
           round(n_true * 1.0 / n, 6) AS true_rate,
           round(n_reported * 1.0 / n, 6) AS observed_rate,
           round((n_reported * 1.0 / n - {_RR_P})
                 / (1.0 - 2 * {_RR_P}), 6) AS estimated_rate,
           round(abs((n_reported * 1.0 / n - {_RR_P})
                     / (1.0 - 2 * {_RR_P})
                     - n_true * 1.0 / n), 6) AS abs_error,
           {_RR_P} AS p_flip
    FROM agg
    """,
)
def randomized_response_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warner randomized response (local differential privacy) over
    the order-fill bit: each row reports its true status flipped
    with probability p=0.25, the flip decided by the portable md5
    hash of the order key — a reproducible release both engines
    derive identically, so the whole mechanism is value-checked.
    The unbiased inversion pi_hat = (obs - p)/(1 - 2p) recovers the
    population rate; the audit row carries the true rate and the
    estimator's absolute error. eps = ln((1-p)/p) ~ 1.10 per
    response. The local-DP counterpart of `dp_noisy_counts`
    (central Laplace) — here no aggregator ever sees a true bit.

    Determinism: flips are exact hash comparisons; all counts are
    int64; the inversion is one closed form rounded 6dp.

    Scale: ONE stateless map pass over the fact table into a 3-count
    aggregate — embarrassingly parallel, no shuffle beyond the final
    combine; the per-row md5 is the same cost profile as
    `dedup_exact`'s fingerprints.
    """
    o = load(spark, sf_dir, "orders")
    truth = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / 4503599627370496
    reported = F.when(u < _RR_P, 1 - truth).otherwise(truth)
    agg = o.select(
        truth.alias("truth"), reported.alias("reported")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("truth").cast("bigint").alias("n_true"),
        F.sum("reported").cast("bigint").alias("n_reported"),
    )
    est = (F.col("n_reported") * 1.0 / F.col("n") - _RR_P) / (
        1.0 - 2 * _RR_P
    )
    return agg.select(
        "n",
        "n_true",
        "n_reported",
        F.round(F.col("n_true") * 1.0 / F.col("n"), 6).alias("true_rate"),
        F.round(F.col("n_reported") * 1.0 / F.col("n"), 6).alias(
            "observed_rate"
        ),
        F.round(est, 6).alias("estimated_rate"),
        F.round(
            F.abs(est - F.col("n_true") * 1.0 / F.col("n")), 6
        ).alias("abs_error"),
        F.lit(_RR_P).alias("p_flip"),
    )


@query(
    "page_trend_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS blk,
             o_orderpriority AS trt,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT blk, trt,
             CAST(row_number() OVER (PARTITION BY blk
               ORDER BY s1 * 1.0 / n, trt) AS BIGINT) AS r
      FROM cell
    ), rsum AS (
      SELECT trt,
             CAST(dense_rank() OVER (ORDER BY trt) AS BIGINT) AS j,
             CAST(sum(r) AS BIGINT) AS rank_sum
      FROM ranked GROUP BY trt
    ), lstat AS (
      SELECT CAST(sum(j * rank_sum) AS BIGINT) AS l,
             CAST(count(*) AS BIGINT) AS k,
             (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM cell)
               AS b
      FROM rsum
    )
    SELECT l AS page_l, k AS n_treatments, b AS n_blocks,
           round(b * k * (k + 1) * (k + 1) / 4.0, 6) AS expected_l,
           round((l - b * k * (k + 1) * (k + 1) / 4.0)
                 / sqrt(b * 1.0 * k * k * (k + 1)
                        * (k * k - 1) / 144.0), 6) AS z_stat,
           CAST((l - b * k * (k + 1) * (k + 1) / 4.0)
                / sqrt(b * 1.0 * k * k * (k + 1) * (k * k - 1) / 144.0)
                > 1.644854 AS BOOLEAN) AS increasing_5pct
    FROM lstat
    """,
)
def page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for a monotone trend of mean order value across
    the 5 alphabetically-ordered priorities, blocked by order year:
    rank treatments within each block, L = sum over treatments of
    j * rank_sum_j, compared against the exact null moments
    E[L] = bk(k+1)^2/4 and Var[L] = bk^2(k+1)(k^2-1)/144 for a
    one-sided z decision. The ordered-alternative refinement of
    `friedman_test` (any-difference) — Page's L is more powerful
    when the alternative is a trend in treatment order.

    Determinism: block means are exact integer ratios; ranks break
    ties on treatment name; L and the moments are exact integers
    until the final division.

    Scale: ONE fact pass with map-side combine to the 35-row
    (year, priority) frame; ranking and the moment algebra run on
    that bounded frame only.
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias("blk"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("s1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = cell.select(
        "blk",
        "trt",
        F.row_number()
        .over(
            Window.partitionBy("blk").orderBy(
                F.col("s1") * 1.0 / F.col("n"), "trt"
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    rsum = (
        ranked.groupBy("trt")
        .agg(F.sum("r").cast("bigint").alias("rank_sum"))
        .select(
            "trt",
            F.dense_rank().over(Window.orderBy("trt")).cast("bigint").alias("j"),
            "rank_sum",
        )
    )
    nb = cell.agg(
        F.countDistinct("blk").cast("bigint").alias("b")
    )
    lstat = rsum.agg(
        F.sum(F.col("j") * F.col("rank_sum")).cast("bigint").alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    ).crossJoin(F.broadcast(nb))
    el = F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1) / 4.0
    vl = (
        F.col("b")
        * 1.0
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
        / 144.0
    )
    z = (F.col("l") - el) / F.sqrt(vl)
    return lstat.select(
        F.col("l").alias("page_l"),
        F.col("k").alias("n_treatments"),
        F.col("b").alias("n_blocks"),
        F.round(el, 6).alias("expected_l"),
        F.round(z, 6).alias("z_stat"),
        (z > 1.644854).alias("increasing_5pct"),
    )


def _acklam_inv_norm(p: str) -> str:
    """Acklam's inverse-normal-CDF rational approximation (|rel err|
    < 1.15e-9) as one expression template — instantiated with the
    same text for Spark SQL and DuckDB so both engines evaluate the
    identical IEEE arithmetic.
    """
    a = (
        "-39.69683028665376", "220.9460984245205", "-275.9285104469687",
        "138.3577518672690", "-30.66479806614716", "2.506628277459239",
    )
    b = (
        "-54.47609879822406", "161.5858368580409", "-155.6989798598866",
        "66.80131188771972", "-13.28068155288572",
    )
    c = (
        "-0.007784894002430293", "-0.3223964580411365",
        "-2.400758277161838", "-2.549732539343734",
        "4.374664141464968", "2.938163982698783",
    )
    d = (
        "0.007784695709041462", "0.3224671290700398",
        "2.445134137142996", "3.754408661907416",
    )
    ql = f"sqrt(-2 * ln({p}))"
    qh = f"sqrt(-2 * ln(1 - ({p})))"
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"

    def horner(coefs, var):
        e = coefs[0]
        for cf in coefs[1:]:
            e = f"({e} * {var} + {cf})"
        return e

    low = f"({horner(c, ql)}) / ({horner(d, ql)} * {ql} + 1)"
    high = f"-(({horner(c, qh)}) / ({horner(d, qh)} * {qh} + 1))"
    cen = f"({horner(a, rc)}) * {qc} / ({horner(b, rc)} * {rc} + 1)"
    return (
        f"CASE WHEN ({p}) < 0.02425 THEN {low}"
        f" WHEN ({p}) > 0.97575 THEN {high}"
        f" ELSE {cen} END"
    )


_BLOM = "((i - 0.375) / (n + 0.25))"


@query(
    "shapiro_francia_normality",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT CAST(y AS DOUBLE) AS y,
             CAST(row_number() OVER (ORDER BY y, d) AS DOUBLE) AS i,
             CAST(count(*) OVER () AS DOUBLE) AS n
      FROM daily
    ), scored AS (
      SELECT y, n, {_acklam_inv_norm(_BLOM)} AS m
      FROM ranked
    ), mom AS (
      SELECT max(n) AS n,
             count(*) AS cnt,
             sum(y) AS sy, sum(m) AS sm,
             sum(y * y) AS syy, sum(m * m) AS smm,
             sum(y * m) AS sym
      FROM scored
    ), fin AS (
      SELECT n,
             pow(sym - sy * sm / cnt, 2)
               / ((syy - sy * sy / cnt) * (smm - sm * sm / cnt))
               AS w_prime
      FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(w_prime, 6) AS w_prime,
           round((ln(1 - w_prime)
                  - (-1.2725 + 1.0521 * (ln(ln(n)) - ln(n))))
                 / (1.0308 - 0.26758 * (ln(ln(n)) + 2 / ln(n))), 6)
             AS z_stat,
           CAST((ln(1 - w_prime)
                 - (-1.2725 + 1.0521 * (ln(ln(n)) - ln(n))))
                / (1.0308 - 0.26758 * (ln(ln(n)) + 2 / ln(n)))
                > 1.644854 AS BOOLEAN) AS reject_5pct
    FROM fin
    """,
)
def shapiro_francia_normality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shapiro-Francia normality test of daily revenue: W' is the
    squared correlation between the sample order statistics and the
    Blom normal scores Phi^-1((i - 3/8)/(n + 1/4)), with the scores
    computed by Acklam's rational inverse-normal approximation (the
    `_acklam_inv_norm` template instantiates the IDENTICAL
    expression text in both engines), and Royston's ln(1-W')
    normalization gives the one-sided z decision. The
    correlation-EDF complement of `anderson_darling_normality`
    (integrated EDF distance) and `jarque_bera_test` (moments).

    Determinism: daily sums are exact int64; the rank window breaks
    ties on (y, d); Acklam/Royston are identical closed forms both
    sides; the five correlation moments sum ~2.4k smooth doubles,
    rounded 6dp.

    Scale: ONE fact pass to the bounded calendar frame; ranking,
    scores, and the correlation run on <=2.4k rows (documented
    bounded window).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        F.col("y").cast("double").alias("y"),
        F.row_number().over(Window.orderBy("y", "d")).cast("double").alias("i"),
        F.count(F.lit(1)).over(wall).cast("double").alias("n"),
    )
    scored = ranked.select(
        "y", "n", F.expr(_acklam_inv_norm(_BLOM)).alias("m")
    )
    mom = scored.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("y").alias("sy"),
        F.sum("m").alias("sm"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("y") * F.col("m")).alias("sym"),
    )
    w_prime = F.pow(
        F.col("sym") - F.col("sy") * F.col("sm") / F.col("cnt"), 2
    ) / (
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("cnt"))
        * (F.col("smm") - F.col("sm") * F.col("sm") / F.col("cnt"))
    )
    mu = -1.2725 + 1.0521 * (F.log(F.log("n")) - F.log("n"))
    sg = 1.0308 - 0.26758 * (F.log(F.log("n")) + 2 / F.log("n"))
    z = (F.log(1 - w_prime) - mu) / sg
    return mom.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(w_prime, 6).alias("w_prime"),
        F.round(z, 6).alias("z_stat"),
        (z > 1.644854).alias("reject_5pct"),
    )
