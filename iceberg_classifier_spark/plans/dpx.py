"""Inference/OR wave 62: HMM forward likelihood and Wagner-Whitin
lot sizing.

- `hmm_forward_likelihood` — the scaled forward algorithm for a
  2-state HMM (bull/bear) over the daily revenue up/down sequence
  with fixed transition/emission parameters: exact log-likelihood,
  final filtered state probabilities, and the likelihood-ratio
  against the i.i.d. Bernoulli null — the INFERENCE complement of
  `viterbi_regime_decode` (MAP path) and
  `markov_event_transitions` (observed-state chains).
- `wagner_whitin_lotsize` — the classic dynamic-programming lot-size
  plan over 12 monthly demands (setup cost vs holding cost), folded
  with the exact O(T^2) Wagner-Whitin recursion
  c[t] = min_s c[s-1] + K + holding(s, t), compared against the
  order-every-period and single-order baselines.

Determinism: observations/demands are exact int64; both folds are
identical expression templates over pinned orders; holding costs
use exact prefix sums embedded per element.

Scale: both reduce the fact table to bounded frames (calendar days /
12 months) in ONE pass; the forward fold is inherently sequential
over the bounded day frame, the DP folds 12 elements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

# HMM parameters: A[state][state'], B[state][obs] for obs in {down, up}
_HMM = {
    "a11": 0.8, "a12": 0.2, "a21": 0.3, "a22": 0.7,
    "b1_up": 0.7, "b1_dn": 0.3, "b2_up": 0.4, "b2_dn": 0.6,
}


def _hmm_step(a_fmt: str, obs: str) -> str:
    """Shared scaled-forward fold body. Accumulator: [alpha1, alpha2,
    loglik, n]. At n=0 the priors (0.5, 0.5) weight the emissions
    directly; afterwards the transition matrix propagates first.
    """
    def a(i: int) -> str:
        return a_fmt.format(i=i)

    h = _HMM
    b1 = f"(CASE WHEN {obs} = 1 THEN {h['b1_up']} ELSE {h['b1_dn']} END)"
    b2 = f"(CASE WHEN {obs} = 1 THEN {h['b2_up']} ELSE {h['b2_dn']} END)"
    r1 = (
        f"(CASE WHEN {a(4)} = 0 THEN {a(1)}"
        f" ELSE {a(1)} * {h['a11']} + {a(2)} * {h['a21']} END) * {b1}"
    )
    r2 = (
        f"(CASE WHEN {a(4)} = 0 THEN {a(2)}"
        f" ELSE {a(1)} * {h['a12']} + {a(2)} * {h['a22']} END) * {b2}"
    )
    s = f"(({r1}) + ({r2}))"
    return (
        f"({r1}) / {s}, ({r2}) / {s},"
        f" {a(3)} + ln({s}), {a(4)} + 1.0"
    )


_HMM_DUCK = _hmm_step("a[{i}]", "b[2]")
_HMM_SPARK = _hmm_step("element_at(a, {i})", "element_at(x, 2)")


@query(
    "hmm_forward_likelihood",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), obs AS (
      SELECT d, CASE WHEN y - lag(y) OVER (ORDER BY d) > 0
                THEN 1.0 ELSE 0.0 END AS o
      FROM daily QUALIFY lag(y) OVER (ORDER BY d) IS NOT NULL
    ), folded AS (
      SELECT list_reduce(
               list_prepend([0.5, 0.5, 0.0, 0.0],
                 list([CAST(d AS DOUBLE), o] ORDER BY d)),
               (a, b) -> [{_HMM_DUCK}]) AS acc,
             CAST(sum(o) AS BIGINT) AS n_up,
             CAST(count(*) AS BIGINT) AS n
      FROM obs
    )
    SELECT n AS n_obs,
           round(acc[3], 6) AS hmm_loglik,
           round(acc[3] / n, 6) AS loglik_per_obs,
           round(acc[1], 6) AS p_bull_final,
           round(acc[2], 6) AS p_bear_final,
           round(n_up * ln(n_up * 1.0 / n)
                 + (n - n_up) * ln(1.0 - n_up * 1.0 / n), 6)
             AS null_loglik,
           round(acc[3] - (n_up * ln(n_up * 1.0 / n)
                 + (n - n_up) * ln(1.0 - n_up * 1.0 / n)), 6)
             AS llr_vs_iid
    FROM folded
    """,
)
def hmm_forward_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled forward algorithm for a 2-state bull/bear HMM over the
    daily revenue up/down sequence (A = [[.8,.2],[.3,.7]],
    P(up|bull) = .7, P(up|bear) = .4, uniform prior): per-step
    normalization keeps the recursion stable while the log scales
    sum to the exact log-likelihood; emits the final filtered state
    distribution and the likelihood ratio against the i.i.d.
    Bernoulli null (positive = persistent regimes explain the data
    better than independence). The marginal-inference complement of
    `viterbi_regime_decode` (single best path) — forward sums over
    ALL paths.

    Determinism: observations are exact integer comparisons; both
    engines fold the identical day-pinned recursion; the null
    likelihood is a closed form of exact counts.

    Scale: ONE fact pass to the calendar frame; the forward fold is
    inherently sequential and walks <=2.4k bounded rows (documented
    bounded collect).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = Window.orderBy("d")
    obs = daily.select(
        "d",
        F.when(F.col("y") - F.lag("y").over(w) > 0, 1.0)
        .otherwise(0.0)
        .alias("o"),
        F.lag("y").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    folded = obs.agg(
        F.expr(
            "aggregate("
            " array_sort(collect_list(array(CAST(d AS DOUBLE), o))),"
            " array(0.5D, 0.5D, 0D, 0D),"
            f" (a, x) -> array({_HMM_SPARK}))"
        ).alias("acc"),
        F.sum("o").cast("bigint").alias("n_up"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    p = F.col("n_up") * 1.0 / F.col("n")
    null_ll = F.col("n_up") * F.log(p) + (F.col("n") - F.col("n_up")) * F.log(
        1.0 - p
    )
    return folded.select(
        F.col("n").alias("n_obs"),
        F.round(F.element_at("acc", 3), 6).alias("hmm_loglik"),
        F.round(F.element_at("acc", 3) / F.col("n"), 6).alias(
            "loglik_per_obs"
        ),
        F.round(F.element_at("acc", 1), 6).alias("p_bull_final"),
        F.round(F.element_at("acc", 2), 6).alias("p_bear_final"),
        F.round(null_ll, 6).alias("null_loglik"),
        F.round(F.element_at("acc", 3) - null_ll, 6).alias("llr_vs_iid"),
    )


_WW_K = 50000.0  # setup cost, $k units
_WW_H = 0.1  # holding cost per $k-unit per month
_WW_T = 12


def _ww_body(a_fmt: str, b_fmt: str) -> str:
    """Build the Wagner-Whitin step: since the element carries the
    FULL prefix arrays, P1_t / P2_t index by the element's own t via
    a CASE, and each candidate s reads fixed slots."""
    def a(i: int) -> str:
        return a_fmt.format(i=i)

    def b(i: int) -> str:
        return b_fmt.format(i=i)

    t = b(1)
    # P1_j lives at element slot 2+j (j=0..12); P2_j at slot 15+j
    p1_t = (
        f"(CASE CAST({t} AS INT) "
        + " ".join(f"WHEN {j} THEN {b(2 + j)}" for j in range(0, 13))
        + " END)"
    )
    p2_t = (
        f"(CASE CAST({t} AS INT) "
        + " ".join(f"WHEN {j} THEN {b(15 + j)}" for j in range(0, 13))
        + " END)"
    )
    cands = []
    for s in range(1, _WW_T + 1):
        hold = (
            f"{_WW_H} * (({p2_t} - {b(15 + s - 1)})"
            f" - {s} * ({p1_t} - {b(2 + s - 1)}))"
        )
        cand = (
            f"CASE WHEN {s} <= {t}"
            f" THEN {a(s)} + {_WW_K} + {hold}"
            f" ELSE 1e18 END"
        )
        cands.append(f"({cand})")
    c_t = "least(" + ", ".join(cands) + ")"
    slots = []
    for j in range(0, _WW_T + 1):
        if j == 0:
            slots.append(a(1))
        else:
            slots.append(
                f"CASE WHEN {t} = {j} THEN ({c_t}) ELSE {a(j + 1)} END"
            )
    return ", ".join(slots)


_WW_DUCK = _ww_body("a[{i}]", "b[{i}]")
_WW_SPARK = _ww_body("element_at(a, {i})", "element_at(x, {i})")


@query(
    "wagner_whitin_lotsize",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS dem
      FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
      GROUP BY 1
    ), pre AS (
      SELECT m, dem,
             CAST(sum(dem) OVER (ORDER BY m) AS DOUBLE) AS p1,
             CAST(sum(m * dem) OVER (ORDER BY m) AS DOUBLE) AS p2
      FROM monthly
    ), prefixes AS (
      SELECT list_prepend(0.0, list(p1 ORDER BY m)) AS p1s,
             list_prepend(0.0, list(p2 ORDER BY m)) AS p2s
      FROM pre
    ), elements AS (
      SELECT m.m,
             list_concat(list_concat([CAST(m.m AS DOUBLE)], p.p1s),
                         p.p2s) AS el
      FROM monthly m CROSS JOIN prefixes p
    ), folded AS (
      SELECT list_reduce(
               list_prepend(
                 [{", ".join(["0.0"] * (_WW_T + 1))}],
                 list(el ORDER BY m)),
               (a, b) -> [{_WW_DUCK}]) AS acc
      FROM elements
    ), base AS (
      SELECT max(p1) AS tot_p1, max(p2) AS tot_p2 FROM pre
    )
    SELECT CAST({_WW_T} AS BIGINT) AS n_months,
           round(acc[13], 6) AS ww_min_cost,
           round({_WW_K} + {_WW_H} * (b.tot_p2 - b.tot_p1), 6)
             AS single_order_cost,
           round({_WW_T} * {_WW_K}, 6) AS every_period_cost,
           round(1.0 - acc[13]
                 / least({_WW_K} + {_WW_H} * (b.tot_p2 - b.tot_p1),
                         {_WW_T} * {_WW_K}), 6)
             AS savings_vs_best_baseline
    FROM folded CROSS JOIN base b
    """,
)
def wagner_whitin_lotsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wagner-Whitin optimal lot sizing over the 12 monthly demands
    of 1995 ($1k units): the exact O(T^2) dynamic program
    c_t = min over s of c_(s-1) + K + h * holding(s..t) folded as a
    query (each element carries the demand prefix arrays so holding
    costs are closed-form slot reads), against the two textbook
    baselines — one big order (max holding) and order-every-period
    (max setups). The DP member of the inventory family next to
    `newsvendor_quantile_policy` (single period, stochastic) and
    `ss_inventory_policy_replay` (reorder point simulation).

    Determinism: demands and prefix sums are exact int64; the DP
    fold is the identical 12-candidate least(...) template both
    engines execute in month order.

    Scale: ONE filtered fact pass (year predicate at the scan) to 12
    monthly rows; the fold is 12 steps of fixed-size algebra.
    """
    o = load(spark, sf_dir, "orders")
    monthly = (
        o.where(F.year(F.col("o_orderdate").cast("date")) == 1995)
        .groupBy(
            F.month(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("m")
        )
        .agg(
            F.expr(
                "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
                " AS DOUBLE) / 1000.0) AS BIGINT)"
            ).alias("dem")
        )
    )
    w = Window.orderBy("m")
    pre = monthly.select(
        "m",
        "dem",
        F.sum("dem").over(w).cast("double").alias("p1"),
        F.sum(F.col("m") * F.col("dem")).over(w).cast("double").alias("p2"),
    )
    prefixes = pre.agg(
        F.expr(
            "concat(array(0D), transform(array_sort(collect_list("
            " struct(m AS m, p1 AS v))), q -> q.v))"
        ).alias("p1s"),
        F.expr(
            "concat(array(0D), transform(array_sort(collect_list("
            " struct(m AS m, p2 AS v))), q -> q.v))"
        ).alias("p2s"),
    )
    elements = monthly.crossJoin(F.broadcast(prefixes)).select(
        "m",
        F.expr("concat(array(CAST(m AS DOUBLE)), p1s, p2s)").alias("el"),
    )
    init = "array(" + ", ".join(["0D"] * (_WW_T + 1)) + ")"
    folded = elements.agg(
        F.expr(
            "aggregate("
            " transform(array_sort(collect_list(struct(m AS m, el AS el))),"
            "  q -> q.el),"
            f" {init},"
            f" (a, x) -> array({_WW_SPARK}))"
        ).alias("acc")
    )
    base = pre.agg(
        F.max("p1").alias("tot_p1"), F.max("p2").alias("tot_p2")
    )
    single = _WW_K + _WW_H * (F.col("tot_p2") - F.col("tot_p1"))
    every = float(_WW_T) * _WW_K
    return folded.crossJoin(F.broadcast(base)).select(
        F.lit(_WW_T).cast("bigint").alias("n_months"),
        F.round(F.element_at("acc", 13), 6).alias("ww_min_cost"),
        F.round(single, 6).alias("single_order_cost"),
        F.round(F.lit(every), 6).alias("every_period_cost"),
        F.round(
            1.0
            - F.element_at("acc", 13) / F.least(single, F.lit(every)),
            6,
        ).alias("savings_vs_best_baseline"),
    )
