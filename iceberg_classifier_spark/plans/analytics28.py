"""Analytics wave 28: distribution-fit selection, Hill tail index, and
a 2-component Gaussian-mixture EM.

Fit selection by maximum likelihood over a value histogram answers
"which parametric family do I provision with" with exact count
algebra. The Hill estimator is THE heavy-tail exponent measurement
(finite variance or not decides every percentile model). The GMM-EM
runs 10 exact expectation-maximization iterations entirely in engine
folds — the canonical latent-mixture fit, here with a bit-identical
cross-engine trajectory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, delay_obs, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_LN_2PI = 1.8378770664093453


@query(
    "distribution_fit_selection",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} + 1 AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY t
    ), mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * t) AS BIGINT) AS s1,
             CAST(sum(c * t * t) AS BIGINT) AS s2,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(c * ln(CAST(t AS DOUBLE)) ORDER BY t)),
               (a, v) -> a + v) AS sl,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(c * ln(CAST(t AS DOUBLE)) * ln(CAST(t AS DOUBLE))
                    ORDER BY t)), (a, v) -> a + v) AS sll
      FROM hist
    ), params AS (
      SELECT n,
             s1 * 1.0 / n AS mu,
             (s2 - s1 * 1.0 * s1 / n) * 1.0 / n AS v,
             sl / n AS lmu,
             (sll - sl * sl / n) / n AS lv,
             n * 1.0 / s1 AS lam
      FROM mom
    ), lls AS (
      SELECT p.n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(h.c * (-0.5 * ({_LN_2PI} + ln(p.v))
                    - (h.t - p.mu) * (h.t - p.mu) / (2 * p.v))
                    ORDER BY h.t)), (a, x) -> a + x) AS ll_normal,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(h.c * (-ln(CAST(h.t AS DOUBLE))
                    - 0.5 * ({_LN_2PI} + ln(p.lv))
                    - (ln(CAST(h.t AS DOUBLE)) - p.lmu)
                      * (ln(CAST(h.t AS DOUBLE)) - p.lmu) / (2 * p.lv))
                    ORDER BY h.t)), (a, x) -> a + x) AS ll_lognormal,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(h.c * (ln(p.lam) - p.lam * h.t) ORDER BY h.t)),
               (a, x) -> a + x) AS ll_exponential
      FROM hist h CROSS JOIN params p
      GROUP BY p.n
    )
    SELECT n,
           round(ll_normal, 2) AS ll_normal,
           round(ll_lognormal, 2) AS ll_lognormal,
           round(ll_exponential, 2) AS ll_exponential,
           round(-2 * ll_normal + 2 * 2, 2) AS aic_normal,
           round(-2 * ll_lognormal + 2 * 2, 2) AS aic_lognormal,
           round(-2 * ll_exponential + 2 * 1, 2) AS aic_exponential,
           CASE WHEN ll_lognormal >= ll_normal
                 AND ll_lognormal + 1 >= ll_exponential + 0.5
                THEN 'lognormal'
                WHEN ll_normal >= ll_lognormal
                 AND ll_normal + 1 >= ll_exponential + 0.5
                THEN 'normal' ELSE 'exponential' END AS best_by_aic
    FROM lls
    """,
)
def distribution_fit_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric-family selection for the (shifted) ship delay: fit
    Normal, Lognormal, and Exponential by moments, evaluate each
    family's exact log-likelihood over the value histogram
    (Σ c_v·ln f(v) — counts exact, one fold per family), and compare
    by AIC (−2LL + 2k, k = parameter count) — "which curve do I
    provision percentiles from", answered with likelihoods instead of
    eyeballing (`kde_density_curve` draws the shape; this op names
    it; `jarque_bera_test` rejects normality — AIC says what beats
    it).

    Determinism: histogram counts and moment fits are exact; each LL
    folds the ≤61 values in order.

    Scale: one map-side-combined groupBy(value); three folds on the
    bounded histogram.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (ship_delay() + 1).alias("t")
    )
    hist = obs.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(t,
                ({expr}) AS vv))), s -> s.vv), CAST(0.0 AS DOUBLE),
              (a, x) -> a + x)
            """
        )

    mom = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("t")).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("t") * F.col("t"))
        .cast("bigint")
        .alias("s2"),
        fold("c * ln(CAST(t AS DOUBLE))").alias("sl"),
        fold("c * ln(CAST(t AS DOUBLE)) * ln(CAST(t AS DOUBLE))").alias(
            "sll"
        ),
    )
    params = mom.select(
        "n",
        (F.col("s1") * 1.0 / F.col("n")).alias("mu"),
        (
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
            * 1.0
            / F.col("n")
        ).alias("v"),
        (F.col("sl") / F.col("n")).alias("lmu"),
        (
            (F.col("sll") - F.col("sl") * F.col("sl") / F.col("n"))
            / F.col("n")
        ).alias("lv"),
        (F.col("n") * 1.0 / F.col("s1")).alias("lam"),
    )
    lls = (
        hist.crossJoin(F.broadcast(params))
        .groupBy("n")
        .agg(
            fold(
                f"c * (-0.5 * ({_LN_2PI} + ln(v))"
                " - (t - mu) * (t - mu) / (2 * v))"
            ).alias("ll_normal"),
            fold(
                f"c * (-ln(CAST(t AS DOUBLE)) - 0.5 * ({_LN_2PI} + ln(lv))"
                " - (ln(CAST(t AS DOUBLE)) - lmu)"
                " * (ln(CAST(t AS DOUBLE)) - lmu) / (2 * lv))"
            ).alias("ll_lognormal"),
            fold("c * (ln(lam) - lam * t)").alias("ll_exponential"),
        )
    )
    best = (
        F.when(
            (F.col("ll_lognormal") >= F.col("ll_normal"))
            & (
                F.col("ll_lognormal") + 1
                >= F.col("ll_exponential") + 0.5
            ),
            "lognormal",
        )
        .when(
            (F.col("ll_normal") >= F.col("ll_lognormal"))
            & (F.col("ll_normal") + 1 >= F.col("ll_exponential") + 0.5),
            "normal",
        )
        .otherwise("exponential")
    )
    return lls.select(
        "n",
        F.round("ll_normal", 2).alias("ll_normal"),
        F.round("ll_lognormal", 2).alias("ll_lognormal"),
        F.round("ll_exponential", 2).alias("ll_exponential"),
        F.round(-2 * F.col("ll_normal") + 4, 2).alias("aic_normal"),
        F.round(-2 * F.col("ll_lognormal") + 4, 2).alias("aic_lognormal"),
        F.round(-2 * F.col("ll_exponential") + 2, 2).alias(
            "aic_exponential"
        ),
        best.alias("best_by_aic"),
    )


_HILL_K = 100


@query(
    "hill_tail_index",
    oracle=f"""
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), topk AS (
      SELECT cents, row_number() OVER (ORDER BY cents DESC) AS r
      FROM (SELECT cents FROM x ORDER BY cents DESC LIMIT {_HILL_K + 1})
    ), xk AS (
      SELECT CAST(max(CASE WHEN r = {_HILL_K + 1} THEN cents END)
             AS BIGINT) AS thresh
      FROM topk
    ), hill AS (
      SELECT k.thresh,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(ln(t.cents * 1.0 / k.thresh) ORDER BY t.r)),
               (a, v) -> a + v) AS slsum
      FROM topk t CROSS JOIN xk k
      WHERE t.r <= {_HILL_K}
      GROUP BY k.thresh
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k_order_stats,
           round(thresh / 100.0, 2) AS tail_threshold,
           round({_HILL_K} / slsum, 6) AS hill_alpha,
           round(slsum / {_HILL_K}, 6) AS mean_log_excess,
           CASE WHEN {_HILL_K} / slsum > 2 THEN 1 ELSE 0 END
             AS finite_variance
    FROM hill
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index: over the top
    k=100 order statistics, α̂ = k / Σ ln(x_(i)/x_(k+1)) — the
    heavy-tail exponent that decides whether variance even exists
    (α > 2) and therefore whether mean-based percentile models are
    usable at all (`gumbel_return_levels` assumes light tails; Hill
    is the check).

    Determinism: the top-(k+1) order statistics come from one
    TakeOrdered; the log-excess sum folds in rank order over exact
    integer cents.

    Scale: TakeOrdered(k+1) is the only corpus interaction — a
    bounded local-top-k merge, never a global sort.
    """
    o = load(spark, sf_dir, "orders")
    x = o.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    topk1 = x.orderBy(F.desc("cents")).limit(_HILL_K + 1)
    from pyspark.sql import Window

    ranked = topk1.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("cents")))
    )
    thresh = (
        ranked.filter(F.col("r") == _HILL_K + 1)
        .select(F.col("cents").alias("thresh"))
    )
    hill = (
        ranked.filter(F.col("r") <= _HILL_K)
        .crossJoin(F.broadcast(thresh))
        .agg(
            F.max("thresh").alias("thresh"),
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(r,
                    ln(cents * 1.0 / thresh) AS vv))), s -> s.vv),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            ).alias("slsum"),
        )
    )
    return hill.select(
        F.lit(_HILL_K).cast("bigint").alias("k_order_stats"),
        F.round(F.col("thresh") / 100.0, 2).alias("tail_threshold"),
        F.round(_HILL_K / F.col("slsum"), 6).alias("hill_alpha"),
        F.round(F.col("slsum") / _HILL_K, 6).alias("mean_log_excess"),
        F.when(_HILL_K / F.col("slsum") > 2, 1)
        .otherwise(0)
        .alias("finite_variance"),
    )


_EM_ITERS = 10


def _gmm_oracle(iters: int) -> str:
    # One materialized CTE pair per EM iteration: resp_k computes the
    # component-1 responsibilities against par_{k-1}; par_k re-estimates
    # (pi1, mu1, v1, mu2, v2) from count-weighted sums. No lambdas — each
    # intermediate is a plain column, so the recurrence stays readable
    # and DuckDB never re-inlines it (the BPE-chain lesson).
    parts = [f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY t
    ), mom AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             sum(c * t) * 1.0 / sum(c) AS m,
             sqrt((sum(c * t * t) - sum(c * t) * 1.0 * sum(c * t)
                   / sum(c)) * 1.0 / sum(c)) AS s
      FROM hist
    ), par0 AS MATERIALIZED (
      SELECT n, 0.5 AS p1, m - s / 2 AS mu1, s * s AS v1,
             m + s / 2 AS mu2, s * s AS v2
      FROM mom
    )"""]
    for k in range(1, iters + 1):
        parts.append(f""", resp{k} AS MATERIALIZED (
      SELECT h.t, h.c, p.n,
             round(p.p1 * exp(-(h.t - p.mu1) * (h.t - p.mu1) / (2 * p.v1))
               / sqrt(p.v1)
             / (p.p1 * exp(-(h.t - p.mu1) * (h.t - p.mu1) / (2 * p.v1))
                  / sqrt(p.v1)
                + (1 - p.p1) * exp(-(h.t - p.mu2) * (h.t - p.mu2)
                    / (2 * p.v2)) / sqrt(p.v2)), 9) AS g
      FROM hist h CROSS JOIN par{k - 1} p
    ), par{k} AS MATERIALIZED (
      SELECT n, w1 / n AS p1, st1 / greatest(w1, 1e-9) AS mu1,
             greatest(sq1 / greatest(w1, 1e-9)
                      - st1 / greatest(w1, 1e-9)
                        * (st1 / greatest(w1, 1e-9)), 0.25) AS v1,
             st2 / greatest(w2, 1e-9) AS mu2,
             greatest(sq2 / greatest(w2, 1e-9)
                      - st2 / greatest(w2, 1e-9)
                        * (st2 / greatest(w2, 1e-9)), 0.25) AS v2
      FROM (
        SELECT max(n) AS n,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * g ORDER BY t)), (a, v) -> a + v) AS w1,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * g * t ORDER BY t)), (a, v) -> a + v) AS st1,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * g * t * t ORDER BY t)), (a, v) -> a + v) AS sq1,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * (1 - g) * t ORDER BY t)), (a, v) -> a + v) AS st2,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * (1 - g) * t * t ORDER BY t)), (a, v) -> a + v)
                 AS sq2,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(c * (1 - g) ORDER BY t)), (a, v) -> a + v) AS w2
        FROM resp{k}
      )
    )""")
    parts.append(f"""
    SELECT n, round(p1, 6) AS pi1,
           round(mu1, 4) AS mu1, round(sqrt(v1), 4) AS sigma1,
           round(mu2, 4) AS mu2, round(sqrt(v2), 4) AS sigma2,
           CAST({iters} AS BIGINT) AS em_iterations
    FROM par{iters}
    """)
    return "".join(parts)


@query("gaussian_mixture_em", oracle=_gmm_oracle(_EM_ITERS))
def gaussian_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian-mixture fit of the ship delay by 10 exact
    EM iterations over the value histogram: E-step responsibilities
    g(v) = pi1·N(v|mu1,v1) / mixture(v), M-step re-estimates (pi, mu, v)
    from count-weighted sums (variances floored at 0.25 so a component
    can never collapse onto a single integer value) — the canonical
    latent-variable fit, run entirely in the engine with a
    bit-identical trajectory on both sides (the mixture splits the
    fast-ship mode from the long-tail mode that one Gaussian
    averages away; `distribution_fit_selection` picks a family, this
    op explains the misfit).

    Determinism: the histogram is exact; each iteration's E and M
    steps are identical double expressions over it; Spark replays the
    SAME recurrence with per-iteration parameters carried as exact
    repr-round-tripped literals (a 1-row bounded collect per
    iteration — the BPE-training pattern).

    Scale: the fact table is touched once by the histogram groupBy;
    all 10 iterations run on the ≤61-row histogram (for continuous
    data: micro-bin first, same shape).
    """
    obs = delay_obs(spark, sf_dir)
    hist = obs.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).cache()
    mom = hist.agg(
        F.sum("c").cast("bigint").alias("n"),
        (F.sum(F.col("c") * F.col("t")) * 1.0 / F.sum("c")).alias("m"),
        F.sqrt(
            (
                F.sum(F.col("c") * F.col("t") * F.col("t"))
                - F.sum(F.col("c") * F.col("t"))
                * 1.0
                * F.sum(F.col("c") * F.col("t"))
                / F.sum("c")
            )
            * 1.0
            / F.sum("c")
        ).alias("s"),
    ).collect()[0]
    n, m, sd = int(mom["n"]), float(mom["m"]), float(mom["s"])
    p1, mu1, v1, mu2, v2 = 0.5, m - sd / 2, sd * sd, m + sd / 2, sd * sd
    for _ in range(_EM_ITERS):
        # responsibilities quantized to 9dp each iteration: exp() is not
        # correctly-rounded and the JVM's and DuckDB's libm differ by an
        # ulp on some arguments; 10 feedback iterations compound that to
        # a visible 6dp split at sf0.1 (round-6 parity sweep). Rounding
        # the E-step to 9dp (far above ulp noise, far below fit
        # resolution) resets the drift so the whole trajectory stays
        # bit-identical across engines.
        # literals must be CAST(... AS DOUBLE): Spark parses a bare
        # 17-digit float literal as DECIMAL(17,15) and evaluates the whole
        # kernel in decimal arithmetic, drifting ~1e-8 from the IEEE
        # double path DuckDB/Python take (the actual root cause of the
        # sf0.1 pi1 split; the decimal→double cast is exact since repr
        # round-trips)
        P1, MU1, V1, MU2, V2 = (
            f"CAST({x!r} AS DOUBLE)" for x in (p1, mu1, v1, mu2, v2)
        )
        g = (
            f"round(({P1} * exp(-(t - {MU1}) * (t - {MU1})"
            f" / (2 * {V1})) / sqrt({V1}))"
            f" / ({P1} * exp(-(t - {MU1}) * (t - {MU1})"
            f" / (2 * {V1})) / sqrt({V1})"
            f" + (1 - {P1}) * exp(-(t - {MU2}) * (t - {MU2})"
            f" / (2 * {V2})) / sqrt({V2})), 9)"
        )
        # fixed-order folds, not sum(): the responsibilities are doubles,
        # and plain sum() adds them in partition order — at sf0.1 the two
        # engines' orders diverge in the last ulp and 10 EM iterations
        # amplify that to a 6dp boundary split (round-6 sf0.1 parity
        # sweep). Folding in t order makes the trajectory bit-identical.
        def fold(e: str) -> F.Column:
            return F.expr(
                f"""
                aggregate(transform(array_sort(collect_list(struct(t,
                    CAST(({e}) AS DOUBLE) AS vv))), s -> s.vv),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            )

        row = hist.agg(
            fold(f"c * ({g})").alias("w1"),
            fold(f"c * ({g}) * t").alias("st1"),
            fold(f"c * ({g}) * t * t").alias("sq1"),
            fold(f"c * (1 - ({g})) * t").alias("st2"),
            fold(f"c * (1 - ({g})) * t * t").alias("sq2"),
            fold(f"c * (1 - ({g}))").alias("w2"),
        ).collect()[0]
        w1 = max(float(row["w1"]), 1e-9)
        w2 = max(float(row["w2"]), 1e-9)
        m1 = float(row["st1"]) / w1
        q1 = float(row["sq1"]) / w1
        m2 = float(row["st2"]) / w2
        q2 = float(row["sq2"]) / w2
        p1 = float(row["w1"]) / n
        mu1, v1 = m1, max(q1 - m1 * m1, 0.25)
        mu2, v2 = m2, max(q2 - m2 * m2, 0.25)
    hist.unpersist()
    import math

    return spark.createDataFrame(
        [
            (
                n,
                round(p1, 6),
                round(mu1, 4),
                round(math.sqrt(v1), 4),
                round(mu2, 4),
                round(math.sqrt(v2), 4),
                _EM_ITERS,
            )
        ],
        "n long, pi1 double, mu1 double, sigma1 double, mu2 double,"
        " sigma2 double, em_iterations long",
    )
