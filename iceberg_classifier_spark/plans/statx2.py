"""Smoothing/SPC/graph wave 54: kernel regression, process
capability, and the friendship paradox.

- `nadaraya_watson_regression` — Gaussian-kernel Nadaraya-Watson
  regression of daily revenue on daily order count over a fixed
  20-point evaluation grid (bandwidth = range/10) — the
  nonparametric smoother between `ols_normal_equations` (global
  line) and `kde_density_curve` (density only).
- `process_capability_cpk` — SPC capability of the line-item
  discount against its [0%, 10%] spec band: Cp, Cpk, and the
  normal-estimated out-of-spec ppm via the shared Bowling logistic
  CDF — the capability complement of `xbar_r_control_chart`
  (stability).
- `friendship_paradox_audit` — "your friends have more friends than
  you" over the customer-supplier trade graph: mean degree vs mean
  neighbor degree and the share of nodes strictly below their
  neighbors' average.

Determinism: daily/discount moments and degrees are exact int64;
kernel weights are identical closed forms; per-node neighbor means
quantize to micro-units before the exact global mean.

Scale: NW is a fixed 20 x calendar-frame bounded expansion; Cpk is
one conditional-aggregate pass; the paradox needs degree counts +
ONE edge equi-join (each endpoint looks up one broadcast degree
frame), never a neighborhood explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_NW_GRID = 20


@query(
    "nadaraya_watson_regression",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), ext AS (
      SELECT CAST(min(x) AS DOUBLE) AS xmin,
             CAST(max(x) AS DOUBLE) AS xmax
      FROM daily
    ), grid AS (
      SELECT g AS grid_i,
             e.xmin + (g - 1) * (e.xmax - e.xmin) / ({_NW_GRID} - 1)
               AS x0,
             (e.xmax - e.xmin) / 10.0 AS h
      FROM generate_series(1, {_NW_GRID}) AS t(g) CROSS JOIN ext e
    ), kern AS (
      SELECT g.grid_i, g.x0,
             sum(exp(-pow((d.x - g.x0) / g.h, 2) / 2) * d.y) AS num,
             sum(exp(-pow((d.x - g.x0) / g.h, 2) / 2)) AS den
      FROM grid g CROSS JOIN daily d
      GROUP BY 1, 2
    )
    SELECT CAST(grid_i AS BIGINT) AS grid_i,
           round(x0, 6) AS x0_orders,
           round(num / den, 6) AS yhat_k,
           round(den, 6) AS effective_n
    FROM kern ORDER BY grid_i
    """,
)
def nadaraya_watson_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nadaraya-Watson Gaussian-kernel regression of daily revenue
    ($1k) on daily order count, evaluated on a fixed
    {_NW_GRID}-point grid spanning the observed count range with the
    range/10 bandwidth: yhat(x0) = sum K((x-x0)/h) y / sum K.
    Reveals curvature a single OLS line hides — the local-averaging
    complement of `ols_normal_equations` (global) and
    `theil_sen_trend` (robust global slope).

    Determinism: daily aggregates are exact int64; grid points and
    bandwidth are closed forms of exact extremes; each kernel term
    is the identical Gaussian both engines evaluate, summed over
    the bounded day frame and rounded 6dp.

    Scale: ONE fact pass to the calendar frame, then a fixed
    {_NW_GRID} x days bounded expansion (~48k lightweight rows)
    combining map-side to {_NW_GRID} grid rows.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("y"),
    )
    ext = daily.agg(
        F.min("x").cast("double").alias("xmin"),
        F.max("x").cast("double").alias("xmax"),
    )
    grid = (
        spark.range(1, _NW_GRID + 1)
        .select(F.col("id").alias("grid_i"))
        .crossJoin(F.broadcast(ext))
        .select(
            "grid_i",
            (
                F.col("xmin")
                + (F.col("grid_i") - 1)
                * (F.col("xmax") - F.col("xmin"))
                / (_NW_GRID - 1)
            ).alias("x0"),
            ((F.col("xmax") - F.col("xmin")) / 10.0).alias("h"),
        )
    )
    k = F.exp(-F.pow((F.col("x") - F.col("x0")) / F.col("h"), 2) / 2)
    kern = (
        daily.crossJoin(F.broadcast(grid))
        .groupBy("grid_i", "x0")
        .agg(
            F.sum(k * F.col("y")).alias("num"),
            F.sum(k).alias("den"),
        )
    )
    return (
        kern.select(
            F.col("grid_i").cast("bigint").alias("grid_i"),
            F.round("x0", 6).alias("x0_orders"),
            F.round(F.col("num") / F.col("den"), 6).alias("yhat_k"),
            F.round("den", 6).alias("effective_n"),
        )
        .orderBy("grid_i")
    )


_CPK_LSL = 0.0
_CPK_USL = 10.0  # spec band for discount, in whole percent


def _bowling_cdf(z: str) -> str:
    """Bowling logistic approximation of the standard normal CDF —
    the same closed form `anderson_darling_normality` uses, shared
    verbatim by both engines."""
    return (
        f"(1.0 / (1.0 + exp(-1.5976 * ({z})"
        f" * (1.0 + 0.04417 * ({z}) * ({z})))))"
    )


@query(
    "process_capability_cpk",
    oracle=f"""
    WITH x AS (
      SELECT CAST(round(l_discount * 100) AS BIGINT) AS v
      FROM lineitem
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN v < {_CPK_LSL} OR v > {_CPK_USL}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_oos
      FROM x
    ), fit AS (
      SELECT n, n_oos,
             s1 * 1.0 / n AS mu,
             sqrt((s2 - s1 * 1.0 / n * s1) / (n - 1)) AS sd
      FROM mom
    )
    SELECT n AS n_samples,
           round(mu, 6) AS mean_pct,
           round(sd, 6) AS sd_pct,
           round(({_CPK_USL} - {_CPK_LSL}) / (6 * sd), 6) AS cp,
           round(least({_CPK_USL} - mu, mu - {_CPK_LSL}) / (3 * sd), 6)
             AS cpk,
           round((1.0 - {_bowling_cdf(f"({_CPK_USL} - mu) / sd")}
                  + {_bowling_cdf(f"({_CPK_LSL} - mu) / sd")})
                 * 1000000, 6) AS est_oos_ppm,
           n_oos AS observed_oos
    FROM fit
    """,
)
def process_capability_cpk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability of the line-item discount against its
    [{_CPK_LSL}%, {_CPK_USL}%] specification band: Cp = spec width /
    6 sigma (potential), Cpk = nearest-limit margin / 3 sigma
    (actual, penalizes off-center), the normal-model out-of-spec ppm
    via the shared Bowling logistic CDF, and the observed
    out-of-spec count. Cp >> Cpk flags centering problems; both
    near 1 flags a process using its whole tolerance. The capability
    complement of `xbar_r_control_chart` (stability over time).

    Determinism: discounts quantize to whole percent so all moments
    are exact int64; Cp/Cpk/ppm are closed forms rounded 6dp.

    Scale: ONE conditional-aggregate pass over the fact table,
    map-side combinable to a single moment row.
    """
    li = load(spark, sf_dir, "lineitem")
    x = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("v")
    )
    mom = x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("s2"),
        F.sum(
            F.when(
                (F.col("v") < _CPK_LSL) | (F.col("v") > _CPK_USL), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_oos"),
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 / F.col("n") * F.col("s1"))
        / (F.col("n") - 1)
    )
    fit = mom.select(
        "n", "n_oos", mu.alias("mu"), sd.alias("sd")
    )
    ppm = (
        1.0
        - F.expr(_bowling_cdf(f"({_CPK_USL} - mu) / sd"))
        + F.expr(_bowling_cdf(f"({_CPK_LSL} - mu) / sd"))
    ) * 1000000
    return fit.select(
        F.col("n").alias("n_samples"),
        F.round("mu", 6).alias("mean_pct"),
        F.round("sd", 6).alias("sd_pct"),
        F.round((_CPK_USL - _CPK_LSL) / (6 * F.col("sd")), 6).alias("cp"),
        F.round(
            F.least(
                _CPK_USL - F.col("mu"), F.col("mu") - F.lit(_CPK_LSL)
            )
            / (3 * F.col("sd")),
            6,
        ).alias("cpk"),
        F.round(ppm, 6).alias("est_oos_ppm"),
        F.col("n_oos").alias("observed_oos"),
    )


@query(
    "friendship_paradox_audit",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), nodes AS (
      SELECT 'c' || c AS node, 's' || s AS peer FROM edges
      UNION ALL
      SELECT 's' || s, 'c' || c FROM edges
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM nodes GROUP BY 1
    ), nbr AS (
      SELECT n.node,
             max(dn.d) AS my_deg_chk,
             CAST(round(avg(dp.d * 1.0) * 1000000) AS BIGINT)
               AS nbr_micro
      FROM nodes n
      JOIN deg dn ON dn.node = n.node
      JOIN deg dp ON dp.node = n.peer
      GROUP BY n.node
    ), fin AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             sum(my_deg_chk) * 1.0 / count(*) AS mean_deg,
             sum(nbr_micro) * 1.0 / count(*) / 1000000.0 AS mean_nbr,
             CAST(sum(CASE WHEN nbr_micro > my_deg_chk * 1000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      FROM nbr
    )
    SELECT n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           round(mean_deg, 6) AS mean_degree,
           round(mean_nbr, 6) AS mean_neighbor_degree,
           round(mean_nbr / mean_deg, 6) AS paradox_ratio,
           round(n_below * 1.0 / n_nodes, 6) AS share_below_neighbors
    FROM fin
    """,
)
def friendship_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The friendship paradox on the bipartite customer-supplier
    trade graph: the mean NEIGHBOR degree exceeds the mean degree
    whenever degrees vary (size-biased sampling — busy partners are
    over-represented in everyone's neighbor list), quantified by the
    paradox ratio E[neighbor degree]/E[degree] = 1 + Var/Mean² and
    the share of nodes strictly below their neighbors' average. The
    sampling-bias diagnostic behind hub-first crawling and
    immunization targeting — complements `graph_degree_assortativity`
    (degree-degree correlation) and `rich_club_coefficient`
    (top-degree interconnection).

    Determinism: degrees are exact int64; per-node neighbor means
    quantize to micro-units before the exact global aggregation.

    Scale: degree = one group-by on each endpoint; the neighbor pass
    is ONE equi-join of the edge list against the degree frame per
    direction — no neighborhood materialization beyond the edges
    that already exist.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    nodes = edges.select(
        F.concat(F.lit("c"), F.col("c")).alias("node"),
        F.concat(F.lit("s"), F.col("s")).alias("peer"),
    ).unionByName(
        edges.select(
            F.concat(F.lit("s"), F.col("s")).alias("node"),
            F.concat(F.lit("c"), F.col("c")).alias("peer"),
        )
    )
    deg = nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dn = deg.select(F.col("node"), F.col("d").alias("dn"))
    dp = deg.select(F.col("node").alias("peer"), F.col("d").alias("dpeer"))
    nbr = (
        nodes.join(dn, "node")
        .join(dp, "peer")
        .groupBy("node")
        .agg(
            F.max("dn").alias("my_deg"),
            F.round(F.avg(F.col("dpeer") * 1.0) * 1000000)
            .cast("bigint")
            .alias("nbr_micro"),
        )
    )
    fin = nbr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum("my_deg") * 1.0 / F.count(F.lit(1))).alias("mean_deg"),
        (
            F.sum("nbr_micro") * 1.0 / F.count(F.lit(1)) / 1000000.0
        ).alias("mean_nbr"),
        F.sum(
            F.when(
                F.col("nbr_micro") > F.col("my_deg") * 1000000, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_below"),
    )
    ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return fin.crossJoin(F.broadcast(ne)).select(
        "n_nodes",
        "n_edges",
        F.round("mean_deg", 6).alias("mean_degree"),
        F.round("mean_nbr", 6).alias("mean_neighbor_degree"),
        F.round(F.col("mean_nbr") / F.col("mean_deg"), 6).alias(
            "paradox_ratio"
        ),
        F.round(F.col("n_below") * 1.0 / F.col("n_nodes"), 6).alias(
            "share_below_neighbors"
        ),
    )
