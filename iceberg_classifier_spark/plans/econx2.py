"""Econometrics/linear-algebra wave 52: cointegration, in-engine
power iteration, Erlang-B blocking, and copula tail dependence.

- `engle_granger_cointegration` — two-step Engle-Granger test
  between daily order count and daily revenue: closed-form OLS in
  levels, then a Dickey-Fuller regression on the residuals (no
  intercept), t-statistic against the 5% Engle-Granger critical
  value.
- `power_iteration_top_eigen` — the dominant eigenpair of the 8x8
  embedding covariance by 10 power iterations run AS A QUERY (10
  chained bounded matvec stages from a deterministic start) — the
  value-checked counterpart of the rows-only `mllib_pca`.
- `erlang_b_blocking` — Erlang-B loss probability for 1..8 servers
  from the measured event arrival rate and deterministic service
  law, via the numerically-stable recurrence folded in order.
- `tail_dependence_daily` — empirical copula tail-dependence of
  (daily count, daily revenue) at the 90% and 95% thresholds, both
  tails, from exact rank counts.

Determinism: moments/ranks/counts are exact int64; matvec sums span
8 terms and the recurrences are identical closed forms; outputs
rounded 6dp (power iteration's sign pins on the first loading).

Scale: cointegration/tails reduce to the bounded calendar frame;
power iteration's matrix is d^2 = 64 rows built by the one-pass
outer-product aggregation; Erlang-B folds 8 fixed terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_EG_CRIT_5 = -3.34  # Engle-Granger 5% critical value, 2 variables


@query(
    "engle_granger_cointegration",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ols AS (
      SELECT count(*) AS n,
             (sum(CAST(x AS DOUBLE) * y) - sum(x) * 1.0 * sum(y)
                / count(*))
             / (sum(CAST(x AS DOUBLE) * x) - sum(x) * 1.0 * sum(x)
                / count(*)) AS beta,
             sum(y) * 1.0 / count(*) AS ybar,
             sum(x) * 1.0 / count(*) AS xbar
      FROM daily
    ), resid AS (
      SELECT d, y - (o.ybar + o.beta * (x - o.xbar)) AS e
      FROM daily CROSS JOIN ols o
    ), pairs AS (
      SELECT e - lag(e) OVER (ORDER BY d) AS de,
             lag(e) OVER (ORDER BY d) AS el
      FROM resid QUALIFY de IS NOT NULL
    ), adf AS (
      SELECT count(*) AS m,
             sum(de * el) / sum(el * el) AS gamma,
             sum(el * el) AS see
      FROM pairs
    ), sig AS (
      SELECT m, gamma, see,
             (SELECT sum(pow(de - a.gamma * el, 2)) FROM pairs)
               / (m - 1) AS s2
      FROM adf a
    )
    SELECT CAST(m + 1 AS BIGINT) AS n_days,
           round((SELECT beta FROM ols), 6) AS ols_beta,
           round(gamma, 6) AS adf_gamma,
           round(gamma / sqrt(s2 / see), 6) AS adf_t,
           CAST(gamma / sqrt(s2 / see) < {_EG_CRIT_5} AS BOOLEAN)
             AS cointegrated_5pct
    FROM sig
    """,
)
def engle_granger_cointegration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-step Engle-Granger cointegration test between daily order
    count and daily revenue ($1k units): (1) closed-form OLS of y on
    x in levels, (2) Dickey-Fuller regression de_t = gamma*e_(t-1)
    on the residuals (no intercept — residuals are mean-zero by
    construction), t = gamma/se(gamma) against the Engle-Granger 5%
    critical value {_EG_CRIT_5} (MacKinnon, 2 variables). Stationary
    residuals = the two series share a long-run equilibrium — the
    long-run complement of `granger_causality_daily` (short-run
    lead-lag) and `variance_ratio_test` (random-walk check).

    Determinism: daily sums exact int64; OLS/ADF are closed forms
    over the bounded day frame; lag windows tie-break on d.

    Scale: ONE fact pass to the calendar frame; both regressions are
    single aggregations over <=2.4k rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("y"),
    )
    ols = daily.agg(
        F.count(F.lit(1)).alias("n"),
        (
            (
                F.sum(F.col("x").cast("double") * F.col("y"))
                - F.sum("x") * 1.0 * F.sum("y") / F.count(F.lit(1))
            )
            / (
                F.sum(F.col("x").cast("double") * F.col("x"))
                - F.sum("x") * 1.0 * F.sum("x") / F.count(F.lit(1))
            )
        ).alias("beta"),
        (F.sum("y") * 1.0 / F.count(F.lit(1))).alias("ybar"),
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("xbar"),
    )
    resid = daily.crossJoin(F.broadcast(ols)).select(
        "d",
        (
            F.col("y")
            - (F.col("ybar") + F.col("beta") * (F.col("x") - F.col("xbar")))
        ).alias("e"),
    )
    w = Window.orderBy("d")
    pairs = resid.select(
        (F.col("e") - F.lag("e").over(w)).alias("de"),
        F.lag("e").over(w).alias("el"),
    ).where(F.col("de").isNotNull())
    adf = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        (
            F.sum(F.col("de") * F.col("el")) / F.sum(F.col("el") * F.col("el"))
        ).alias("gamma"),
        F.sum(F.col("el") * F.col("el")).alias("see"),
    )
    sig = (
        pairs.crossJoin(F.broadcast(adf))
        .agg(
            F.max("m").alias("m"),
            F.max("gamma").alias("gamma"),
            F.max("see").alias("see"),
            (
                F.sum(
                    F.pow(F.col("de") - F.col("gamma") * F.col("el"), 2)
                )
                / (F.max("m") - 1)
            ).alias("s2"),
        )
    )
    t = F.col("gamma") / F.sqrt(F.col("s2") / F.col("see"))
    return sig.crossJoin(
        F.broadcast(ols.select(F.round("beta", 6).alias("ols_beta")))
    ).select(
        (F.col("m") + 1).cast("bigint").alias("n_days"),
        "ols_beta",
        F.round("gamma", 6).alias("adf_gamma"),
        F.round(t, 6).alias("adf_t"),
        (t < _EG_CRIT_5).alias("cointegrated_5pct"),
    )


_PI_DIMS = 8
_PI_ITERS = 10


def _pi_oracle() -> str:
    """Chained-CTE power iteration: cov (64 rows, both triangles) from
    the exact quantized moments, v0 deterministic, 10 matvec +
    normalize rounds, sign pinned on loading 1."""
    head = f"""
    WITH flat AS (
      SELECT vec_id,
             unnest(list_transform(generate_series(1, {_PI_DIMS}),
                    i -> struct_pack(i := i,
                                     x := CAST(round(CAST(embedding[i] AS DOUBLE) * 10000)
                                               AS BIGINT)))) AS p
      FROM embeddings
    ), xs AS (
      SELECT vec_id, p.i AS i, p.x AS x FROM flat
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
    cov AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j,
             (sum(CAST(a.x AS DOUBLE) * b.x) / nn.n
              - (sum(a.x) * 1.0 / nn.n) * (sum(b.x) * 1.0 / nn.n))
               / 100000000.0 AS c
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id
      CROSS JOIN nn GROUP BY a.i, b.i, nn.n
    ), v0 AS MATERIALIZED (
      SELECT i AS j, 1.0 / sqrt({_PI_DIMS}) AS v
      FROM (SELECT DISTINCT i FROM xs)
    )"""
    steps = []
    for k in range(1, _PI_ITERS + 1):
        steps.append(f"""
    , w{k} AS MATERIALIZED (
      SELECT cov.i AS j, sum(cov.c * v.v) AS w
      FROM cov JOIN v{k - 1} v ON v.j = cov.j
      GROUP BY cov.i
    ), v{k} AS MATERIALIZED (
      SELECT j, w / sqrt((SELECT sum(w * w) FROM w{k})) AS v
      FROM w{k}
    )""")
    last = f"v{_PI_ITERS}"
    return head + "".join(steps) + f"""
    , ray AS (
      SELECT sum(v1.v * cov.c * v2.v) AS lam
      FROM cov JOIN {last} v1 ON v1.j = cov.i
      JOIN {last} v2 ON v2.j = cov.j
    ), sgn AS (
      SELECT CASE WHEN (SELECT v FROM {last} WHERE j = 1) < 0
             THEN -1.0 ELSE 1.0 END AS s
    )
    SELECT CAST(v.j AS BIGINT) AS dim,
           round(v.v * sgn.s, 6) AS loading,
           round(ray.lam, 6) AS eigenvalue,
           CAST({_PI_ITERS} AS BIGINT) AS n_iterations
    FROM {last} v CROSS JOIN ray CROSS JOIN sgn
    ORDER BY dim
    """


@query("power_iteration_top_eigen", oracle=_pi_oracle())
def power_iteration_top_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenpair of the 8x8 embedding covariance computed BY
    THE QUERY: the covariance comes from the one-pass exact
    quantized outer-product aggregation (the `embedding_cov_matrix`
    shape, both triangles), then 10 power-iteration rounds — each a
    bounded matvec + normalization stage — from the deterministic
    uniform start vector, sign pinned positive on dimension 1, with
    the Rayleigh quotient as the eigenvalue. This makes the
    PCA direction VALUE-CHECKED against the oracle, unlike
    `mllib_pca` (rows-only — eigen sign/order is engine-defined
    there; here the iteration is the specification).

    Determinism: moments are exact int64; every matvec sums 8
    identical closed-form doubles; 10 iterations from a fixed start
    give both engines the same vector to ~1e-13, rounded 6dp.

    Scale: the d^2 expansion happens AFTER the per-row explode (the
    standard distributed moment pattern); all 10 iterations run on
    the 64-row matrix frame — data volume touches only the first
    aggregation.
    """
    e = load(spark, sf_dir, "embeddings")
    xs = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).where(F.col("i0") < _PI_DIMS).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("xf").cast("double") * 10000).cast("bigint").alias("x"),
    )
    nn = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = xs.alias("a"), xs.alias("b")
    cov = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(F.col("a.x").cast("double") * F.col("b.x")).alias("sxy"),
            F.sum("a.x").alias("sx"),
            F.sum("b.x").alias("sy"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (
                (
                    F.col("sxy") / F.col("n")
                    - (F.col("sx") * 1.0 / F.col("n"))
                    * (F.col("sy") * 1.0 / F.col("n"))
                )
                / 100000000.0
            ).alias("c"),
        )
    )
    v = (
        cov.select("j").distinct().select(
            "j", F.lit(1.0 / _PI_DIMS ** 0.5).alias("v")
        )
    )
    # normalize via an all-rows window so each iteration adds ONE
    # linear stage to the lineage (an agg + rejoin would re-derive
    # the whole upstream chain per iteration: 2^k plan blowup)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for _ in range(_PI_ITERS):
        w = (
            cov.join(v, "j")
            .groupBy(F.col("i").alias("j"))
            .agg(F.sum(F.col("c") * F.col("v")).alias("w"))
        )
        v = w.select(
            "j",
            (
                F.col("w")
                / F.sqrt(F.sum(F.col("w") * F.col("w")).over(wall))
            ).alias("v"),
        )
    v = v.cache()
    v1 = v.alias("v1").select(
        F.col("j").alias("i"), F.col("v").alias("va")
    )
    v2 = v.alias("v2").select(
        F.col("j").alias("j"), F.col("v").alias("vb")
    )
    ray = (
        cov.join(F.broadcast(v1), "i")
        .join(F.broadcast(v2), "j")
        .agg(F.sum(F.col("va") * F.col("c") * F.col("vb")).alias("lam"))
    )
    sgn = v.where(F.col("j") == 1).select(
        F.when(F.col("v") < 0, -1.0).otherwise(1.0).alias("s")
    )
    return (
        v.crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(sgn))
        .select(
            F.col("j").cast("bigint").alias("dim"),
            F.round(F.col("v") * F.col("s"), 6).alias("loading"),
            F.round("lam", 6).alias("eigenvalue"),
            F.lit(_PI_ITERS).cast("bigint").alias("n_iterations"),
        )
        .orderBy("dim")
    )


_EB_SERVERS = 8


@query(
    "erlang_b_blocking",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0
               AS span_s,
             avg(30.0 + event_id % 60) AS mean_service_s
      FROM events
    ), load AS (
      SELECT n_events, span_s, mean_service_s,
             (n_events / span_s) * mean_service_s AS a
      FROM stats
    ), folded AS (
      SELECT a, n_events, mean_service_s,
             list_reduce(
               list_prepend([1.0],
                 list_transform(generate_series(1, {_EB_SERVERS}),
                                k -> [CAST(k AS DOUBLE)])),
               (acc, b) -> [a * acc[1] / (b[1] + a * acc[1])]) AS bb
      FROM load
    )
    SELECT CAST(n_events AS BIGINT) AS n_events,
           round(mean_service_s, 6) AS mean_service_s,
           round(a, 6) AS offered_load_erlangs,
           CAST({_EB_SERVERS} AS BIGINT) AS n_servers,
           round(bb[1], 6) AS blocking_prob,
           round(a * (1 - bb[1]), 6) AS carried_load
    FROM folded
    """,
)
def erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-B blocking probability for an {_EB_SERVERS}-server loss
    system offered the measured event load: arrival rate from the
    observed span, deterministic mean service 30 + id%60 s, and the
    numerically-stable recurrence B(k) = a B(k-1)/(k + a B(k-1))
    folded k = 1..{_EB_SERVERS} (never the factorial form). The
    LOSS-system counterpart of `erlang_c_staffing` (wait system) and
    `lindley_queue_replay` (trace replay): here excess arrivals are
    dropped, not queued.

    Determinism: counts and span are exact; the recurrence is the
    identical 8-step fold both engines execute; outputs rounded 6dp.

    Scale: ONE stateless aggregation pass (count/min/max/avg all
    map-side combinable); the fold is 8 scalar steps on one row.
    """
    ev = load(spark, sf_dir, "events")
    stats = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            / 1000000.0
        ).alias("span_s"),
        F.avg(30.0 + F.col("event_id") % 60).alias("mean_service_s"),
    )
    a_load = stats.select(
        "n_events",
        "mean_service_s",
        ((F.col("n_events") / F.col("span_s")) * F.col("mean_service_s")).alias(
            "a"
        ),
    )
    folded = a_load.select(
        "n_events",
        "mean_service_s",
        "a",
        F.expr(
            f"aggregate(sequence(1, {_EB_SERVERS}), array(1D),"
            " (acc, k) -> array(a * acc[0] / (k + a * acc[0])))"
        ).alias("bb"),
    )
    return folded.select(
        "n_events",
        F.round("mean_service_s", 6).alias("mean_service_s"),
        F.round("a", 6).alias("offered_load_erlangs"),
        F.lit(_EB_SERVERS).cast("bigint").alias("n_servers"),
        F.round(F.element_at("bb", 1), 6).alias("blocking_prob"),
        F.round(F.col("a") * (1 - F.element_at("bb", 1)), 6).alias(
            "carried_load"
        ),
    )


@query(
    "tail_dependence_daily",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT row_number() OVER (ORDER BY x, d) * 1.0
               / count(*) OVER () AS u,
             row_number() OVER (ORDER BY y, d) * 1.0
               / count(*) OVER () AS v,
             count(*) OVER () AS n
      FROM daily
    )
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           round(CAST(sum(CASE WHEN u > 0.90 AND v > 0.90
                     THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN u > 0.90 THEN 1 ELSE 0 END), 6)
             AS lambda_upper_90,
           round(CAST(sum(CASE WHEN u > 0.95 AND v > 0.95
                     THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN u > 0.95 THEN 1 ELSE 0 END), 6)
             AS lambda_upper_95,
           round(CAST(sum(CASE WHEN u <= 0.10 AND v <= 0.10
                     THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN u <= 0.10 THEN 1 ELSE 0 END), 6)
             AS lambda_lower_10,
           round(CAST(sum(CASE WHEN u <= 0.05 AND v <= 0.05
                     THEN 1 ELSE 0 END) AS DOUBLE)
                 / sum(CASE WHEN u <= 0.05 THEN 1 ELSE 0 END), 6)
             AS lambda_lower_05
    FROM ranked
    """,
)
def tail_dependence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical copula tail dependence between daily order count and
    daily revenue: lambda_upper(q) = P(V > q | U > q) and
    lambda_lower(q) = P(V <= 1-q | U <= 1-q) at the 90%/95%
    thresholds, from exact rank transforms of the bounded day frame.
    Near 1 = the two series crash/spike TOGETHER even if the bulk
    correlation is modest — the extremes-focused complement of
    `rank_correlation_daily` (whole-distribution rho) and
    `var_cvar_daily` (univariate tails).

    Determinism: ranks tie-break on day; all tail counts are exact
    int64; the four ratios round 6dp.

    Scale: ONE fact pass to the calendar frame; rank windows and
    tail counting run on <=2.4k rows (documented bounded window).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        (
            F.row_number().over(Window.orderBy("x", "d"))
            * 1.0
            / F.count(F.lit(1)).over(wall)
        ).alias("u"),
        (
            F.row_number().over(Window.orderBy("y", "d"))
            * 1.0
            / F.count(F.lit(1)).over(wall)
        ).alias("v"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )

    def lam(cond, base):
        return F.round(
            F.sum(F.when(cond, 1).otherwise(0)).cast("double")
            / F.sum(F.when(base, 1).otherwise(0)),
            6,
        )

    return ranked.agg(
        F.max("n").cast("bigint").alias("n_days"),
        lam(
            (F.col("u") > 0.90) & (F.col("v") > 0.90), F.col("u") > 0.90
        ).alias("lambda_upper_90"),
        lam(
            (F.col("u") > 0.95) & (F.col("v") > 0.95), F.col("u") > 0.95
        ).alias("lambda_upper_95"),
        lam(
            (F.col("u") <= 0.10) & (F.col("v") <= 0.10), F.col("u") <= 0.10
        ).alias("lambda_lower_10"),
        lam(
            (F.col("u") <= 0.05) & (F.col("v") <= 0.05), F.col("u") <= 0.05
        ).alias("lambda_lower_05"),
    )
