"""Rating/index/multiplicity wave 59: Elo replay, Fisher price
indices, and Holm step-down testing.

- `elo_rating_replay` — online Elo ratings for the 5 order
  priorities replayed over the daily "contest" stream (each day the
  highest-revenue priority beats the lowest), K=16, logistic
  expectation — the online counterpart of
  `bradley_terry_strengths`' batch MLE, with upset tracking.
- `price_index_fisher` — Laspeyres, Paasche, and Fisher ideal price
  indices between the 1995 and 1997 part baskets from exact cents
  quantities/values — index-number theory (official-statistics
  core) over the lineitem fact.
- `holm_stepdown_welch` — Holm's step-down FWER correction over all
  10 pairwise Welch z-tests of mean order value by priority
  (normal p-values via the shared Bowling CDF), with the plain
  Bonferroni decisions alongside — the FWER complement of
  `benjamini_hochberg_fdr`.

Determinism: daily winners, basket moments, and z statistics come
from exact int64 sums; the Elo fold is the identical expression
template both engines execute over the day-pinned stream; Holm's
step-down is a rank window over 10 rows.

Scale: each operator is ONE fact pass to a bounded frame (day
stream / part-year basket / 5 groups); the Elo fold is inherently
sequential and runs on the bounded calendar frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_ELO_K = 16.0


def _elo_step(a_fmt: str, w: str, l: str) -> str:
    """Shared Elo fold body. Accumulator (7): [rating_1..5,
    n_matches, n_upsets]. Winner w and loser l are 1..5; expected
    winner score E = 1/(1+10^((R_l - R_w)/400)); both ratings move
    by K(1 - E); an upset = the winner was lower-rated going in.
    """
    def a(i: int) -> str:
        return a_fmt.format(i=i)

    rw = (
        "(CASE " + " ".join(f"WHEN {w} = {i} THEN {a(i)}" for i in range(1, 6))
        + " ELSE 0.0 END)"
    )
    rl = (
        "(CASE " + " ".join(f"WHEN {l} = {i} THEN {a(i)}" for i in range(1, 6))
        + " ELSE 0.0 END)"
    )
    e = f"(1.0 / (1.0 + pow(10.0, ({rl} - {rw}) / 400.0)))"
    delta = f"({_ELO_K} * (1.0 - {e}))"
    slots = []
    for i in range(1, 6):
        slots.append(
            f"{a(i)} + CASE WHEN {w} = {i} THEN {delta}"
            f" WHEN {l} = {i} THEN -{delta} ELSE 0.0 END"
        )
    slots.append(f"{a(6)} + 1.0")
    slots.append(
        f"{a(7)} + CASE WHEN {rw} < {rl} THEN 1.0 ELSE 0.0 END"
    )
    return ", ".join(slots)


_ELO_DUCK = _elo_step("a[{i}]", "b[2]", "b[3]")
_ELO_SPARK = _elo_step("element_at(a, {i})", "element_at(x, 2)",
                       "element_at(x, 3)")


@query(
    "elo_rating_replay",
    oracle=f"""
    WITH cell AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(dense_rank() OVER (ORDER BY o_orderpriority)
               AS BIGINT) AS g,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, o_orderpriority
    ), contests AS (
      SELECT d,
             CAST(max_by(g, rev * 8 + (5 - g)) AS DOUBLE) AS w,
             CAST(min_by(g, rev * 8 + g) AS DOUBLE) AS l
      FROM cell GROUP BY d
      HAVING count(*) >= 2 AND max(rev) > min(rev)
    ), folded AS (
      SELECT list_reduce(
               list_prepend(
                 [1000.0, 1000.0, 1000.0, 1000.0, 1000.0, 0.0, 0.0],
                 list([CAST(d AS DOUBLE), w, l] ORDER BY d)),
               (a, b) -> [{_ELO_DUCK}]) AS acc
      FROM contests
    )
    SELECT g AS priority_rank,
           round(acc[g], 6) AS elo_rating,
           CAST(acc[6] AS BIGINT) AS n_matches,
           CAST(acc[7] AS BIGINT) AS n_upsets,
           round(acc[7] / acc[6], 6) AS upset_rate
    FROM folded CROSS JOIN (
      SELECT unnest(generate_series(1, 5)) AS g)
    ORDER BY priority_rank
    """,
)
def elo_rating_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Elo ratings for the 5 order priorities replayed over
    the daily contest stream: each day the highest-revenue priority
    defeats the lowest (ties skipped), expected score
    E = 1/(1+10^((R_l-R_w)/400)), both ratings move K(1-E) with
    K={_ELO_K}, all from 1000. Emits final ratings, match count,
    and the upset rate (winner was lower-rated). The sequential
    online counterpart of `bradley_terry_strengths` (batch MLE on
    aggregate win counts) — Elo adapts to drift, BT assumes
    stationarity.

    Determinism: daily winners are exact-integer max/min with
    deterministic tie keys; the fold is the identical expression
    template both engines execute over the day-pinned stream.

    Scale: ONE fact pass to the bounded (day, priority) frame; the
    rating fold is inherently sequential and walks <=2.4k bounded
    contest rows (documented bounded collect).
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        order_day().alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev"),
    ).select(
        "d",
        F.dense_rank().over(Window.orderBy("pri")).cast("bigint").alias("g"),
        "rev",
    )
    contests = (
        cell.groupBy("d")
        .agg(
            F.expr("CAST(max_by(g, rev * 8 + (5 - g)) AS DOUBLE)").alias("w"),
            F.expr("CAST(min_by(g, rev * 8 + g) AS DOUBLE)").alias("l"),
            F.count(F.lit(1)).alias("ng"),
            F.max("rev").alias("mx"),
            F.min("rev").alias("mn"),
        )
        .where((F.col("ng") >= 2) & (F.col("mx") > F.col("mn")))
    )
    folded = contests.agg(
        F.expr(
            "aggregate("
            " array_sort(collect_list(array(CAST(d AS DOUBLE), w, l))),"
            " array(1000D, 1000D, 1000D, 1000D, 1000D, 0D, 0D),"
            f" (a, x) -> array({_ELO_SPARK}))"
        ).alias("acc")
    )
    gs = spark.range(1, 6).select(F.col("id").alias("g"))
    return (
        folded.crossJoin(F.broadcast(gs))
        .select(
            F.col("g").alias("priority_rank"),
            F.round(
                F.expr("element_at(acc, CAST(g AS INT))"), 6
            ).alias("elo_rating"),
            F.expr("CAST(element_at(acc, 6) AS BIGINT)").alias("n_matches"),
            F.expr("CAST(element_at(acc, 7) AS BIGINT)").alias("n_upsets"),
            F.round(
                F.expr("element_at(acc, 7) / element_at(acc, 6)"), 6
            ).alias("upset_rate"),
        )
        .orderBy("priority_rank")
    )


@query(
    "price_index_fisher",
    oracle="""
    WITH py AS (
      SELECT l_partkey AS pk,
             CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS yr,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS value_c,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS qty
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1997)
      GROUP BY 1, 2
    ), basket AS (
      SELECT b0.pk,
             b0.value_c * 1.0 / b0.qty AS p0,
             CAST(b0.qty AS DOUBLE) AS q0,
             b1.value_c * 1.0 / b1.qty AS p1,
             CAST(b1.qty AS DOUBLE) AS q1
      FROM (SELECT * FROM py WHERE yr = 1995) b0
      JOIN (SELECT * FROM py WHERE yr = 1997) b1 ON b1.pk = b0.pk
    ), idx AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             sum(p1 * q0) / sum(p0 * q0) AS laspeyres,
             sum(p1 * q1) / sum(p0 * q1) AS paasche
      FROM basket
    )
    SELECT n_parts,
           round(laspeyres, 6) AS laspeyres,
           round(paasche, 6) AS paasche,
           round(sqrt(laspeyres * paasche), 6) AS fisher_ideal,
           round((laspeyres - paasche) * 1.0, 6) AS lp_gap
    FROM idx
    """,
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-number theory over the part basket shipped in BOTH 1995
    and 1997: unit prices p = value/quantity per part-year (exact
    cents over exact units), Laspeyres (base-period weights,
    overstates inflation), Paasche (current weights, understates),
    and the Fisher ideal geometric mean that satisfies the
    time-reversal test. The official-statistics core (CPI-style
    deflators) next to `price_elasticity_loglog` (demand response)
    and `twap_vs_mean_daily` (within-period averaging).

    Determinism: values/quantities are exact int64 sums; unit
    prices and index ratios are closed-form doubles rounded 6dp.

    Scale: ONE filtered fact pass (the two-year predicate reaches
    the scan) map-side combining to the part-year basket; the
    matched-basket join and index sums run on that bounded frame.
    """
    li = load(spark, sf_dir, "lineitem")
    py = (
        li.where(
            F.year(F.col("l_shipdate").cast("date")).isin(1995, 1997)
        )
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year(F.col("l_shipdate").cast("date"))
            .cast("bigint")
            .alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("value_c"),
            F.sum(F.round(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("qty"),
        )
    )
    b0 = py.where(F.col("yr") == 1995).select(
        "pk",
        (F.col("value_c") * 1.0 / F.col("qty")).alias("p0"),
        F.col("qty").cast("double").alias("q0"),
    )
    b1 = py.where(F.col("yr") == 1997).select(
        "pk",
        (F.col("value_c") * 1.0 / F.col("qty")).alias("p1"),
        F.col("qty").cast("double").alias("q1"),
    )
    basket = b0.join(b1, "pk")
    idx = basket.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (
            F.sum(F.col("p1") * F.col("q0"))
            / F.sum(F.col("p0") * F.col("q0"))
        ).alias("laspeyres"),
        (
            F.sum(F.col("p1") * F.col("q1"))
            / F.sum(F.col("p0") * F.col("q1"))
        ).alias("paasche"),
    )
    return idx.select(
        "n_parts",
        F.round("laspeyres", 6).alias("laspeyres"),
        F.round("paasche", 6).alias("paasche"),
        F.round(
            F.sqrt(F.col("laspeyres") * F.col("paasche")), 6
        ).alias("fisher_ideal"),
        F.round((F.col("laspeyres") - F.col("paasche")) * 1.0, 6).alias(
            "lp_gap"
        ),
    )


def _bowling_cdf(z: str) -> str:
    return (
        f"(1.0 / (1.0 + exp(-1.5976 * ({z})"
        f" * (1.0 + 0.04417 * ({z}) * ({z})))))"
    )


@query(
    "holm_stepdown_welch",
    oracle=f"""
    WITH grp AS (
      SELECT o_orderpriority AS g,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS s2
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT a.g AS g1, b.g AS g2,
             abs(a.s1 * 1.0 / a.n - b.s1 * 1.0 / b.n)
             / sqrt(((a.s2 - a.s1 * 1.0 / a.n * a.s1) / (a.n - 1))
                      / a.n
                    + ((b.s2 - b.s1 * 1.0 / b.n * b.s1) / (b.n - 1))
                      / b.n) AS z
      FROM grp a JOIN grp b ON a.g < b.g
    ), pvals AS (
      SELECT g1, g2, z,
             2.0 * (1.0 - {_bowling_cdf("z")}) AS p,
             row_number() OVER (
               ORDER BY 2.0 * (1.0 - {_bowling_cdf("z")}), g1, g2)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pairs
    ), holm AS (
      SELECT g1, g2, z, p, rk, m,
             max(least(1.0, (m - rk + 1) * p)) OVER (
               ORDER BY rk ROWS UNBOUNDED PRECEDING) AS p_holm
      FROM pvals
    )
    SELECT g1 AS group_1, g2 AS group_2,
           round(z, 6) AS z_stat,
           round(p, 6) AS p_raw,
           round(p_holm, 6) AS p_holm,
           round(least(1.0, m * p), 6) AS p_bonferroni,
           CAST(p_holm < 0.05 AS BOOLEAN) AS reject_holm_5pct,
           CAST(least(1.0, m * p) < 0.05 AS BOOLEAN)
             AS reject_bonferroni_5pct
    FROM holm ORDER BY group_1, group_2
    """,
)
def holm_stepdown_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm's step-down FWER correction over all 10 pairwise Welch
    z-tests of mean order value by priority: raw two-sided p-values
    from the shared Bowling normal CDF (the z's df is ~6k, normal is
    exact for practical purposes), ordered ascending, adjusted
    p_(i) = max_(j<=i) min(1, (m-j+1) p_(j)) — uniformly more
    powerful than the plain Bonferroni column reported alongside.
    The FWER complement of `benjamini_hochberg_fdr` (rate control)
    and `tukey_hsd_priority` (studentized range).

    Determinism: group moments are exact int64; z/p and both
    adjustments are closed forms; the step-down is a running max
    over the 10-row ordered pair frame.

    Scale: ONE fact pass to 5 group-moment rows; the pair frame and
    its windows hold 10 rows.
    """
    o = load(spark, sf_dir, "orders")
    v = F.round(F.col("o_totalprice")).cast("bigint")
    grp = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("s1"),
        F.sum(v * v).cast("bigint").alias("s2"),
    )
    a, b = grp.alias("a"), grp.alias("b")

    def var_over_n(side: str):
        return (
            (
                F.col(f"{side}.s2")
                - F.col(f"{side}.s1") * 1.0 / F.col(f"{side}.n") * F.col(f"{side}.s1")
            )
            / (F.col(f"{side}.n") - 1)
        ) / F.col(f"{side}.n")

    z = F.abs(
        F.col("a.s1") * 1.0 / F.col("a.n")
        - F.col("b.s1") * 1.0 / F.col("b.n")
    ) / F.sqrt(var_over_n("a") + var_over_n("b"))
    pairs = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g")).select(
        F.col("a.g").alias("g1"), F.col("b.g").alias("g2"), z.alias("z")
    )
    p = 2.0 * (1.0 - F.expr(_bowling_cdf("z")))
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pvals = pairs.select(
        "g1",
        "g2",
        "z",
        p.alias("p"),
        F.row_number().over(Window.orderBy(p, "g1", "g2")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("m"),
    )
    holm = pvals.select(
        "g1",
        "g2",
        "z",
        "p",
        "m",
        F.max(
            F.least(F.lit(1.0), (F.col("m") - F.col("rk") + 1) * F.col("p"))
        )
        .over(
            Window.orderBy("rk").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("p_holm"),
    )
    return holm.select(
        F.col("g1").alias("group_1"),
        F.col("g2").alias("group_2"),
        F.round("z", 6).alias("z_stat"),
        F.round("p", 6).alias("p_raw"),
        F.round("p_holm", 6).alias("p_holm"),
        F.round(F.least(F.lit(1.0), F.col("m") * F.col("p")), 6).alias(
            "p_bonferroni"
        ),
        (F.col("p_holm") < 0.05).alias("reject_holm_5pct"),
        (
            F.least(F.lit(1.0), F.col("m") * F.col("p")) < 0.05
        ).alias("reject_bonferroni_5pct"),
    ).orderBy("group_1", "group_2")
