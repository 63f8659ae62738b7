"""GLM / tree-model wave: fully-oracled classical ML on bounded
sufficient frames.

Four estimators that are normally "trust the library" black boxes,
re-expressed so every data pass is a bounded aggregate and the whole
fitting trajectory value-matches the DuckDB oracle (the
`logreg_irls_histogram` / `gaussian_mixture_em` pattern):

- `poisson_irls_daily` — Poisson log-linear regression of daily order
  counts on a time trend, exact Newton/IRLS over the bounded
  observed-day frame.
- `cox_ph_newton` — Cox proportional-hazards coefficient for shipping
  delay vs. order quantity: Newton iterations on the Breslow partial
  likelihood, with risk sets as per-bin suffix sums over the bounded
  (delay-day x quantity) histogram.
- `kmeans_lloyd_histogram` — Lloyd's k-means (k=4, fixed literal
  init) on the $1k-binned order-price histogram; assignment and
  update are exact integer-weighted aggregates, so the trajectory is
  bit-reproducible across engines.
- `cart_depth2_tree` — depth-2 regression tree (quantity -> dollar
  revenue): best-split search by prefix-sum SSE decomposition over
  the 50-cell quantity histogram, root then both children, entirely
  declarative (no driver loop).

Reference surface: the reference tunes sigmoid/softmax heads and
threshold splits over image statistics (main.py:160-237); these are
the corresponding regression/partition estimators run to convergence
in closed, oracle-checkable iterations.

Scale: each estimator makes exactly ONE pass over the fact table to
build an integer-exact histogram; all iterations/searches run on the
bounded sufficient frame (hundreds to thousands of rows regardless of
corpus size) — the 100 TB shape for model fitting. Windows over those
frames are bounded by construction (<=61 delay days, <=50 quantity
cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_POIS_ITERS = 6
_COX_ITERS = 6
_KM_ITERS = 5
_KM_INIT = (25000.0, 100000.0, 200000.0, 350000.0)


# ---------------------------------------------------------------------------
# poisson_irls_daily
# ---------------------------------------------------------------------------


def _poisson_oracle(iters: int) -> str:
    parts = ["""
    WITH hist AS MATERIALIZED (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), par0 AS MATERIALIZED (
      SELECT ln(CAST(sum(y) AS DOUBLE) / count(*)) AS b0,
             CAST(0.0 AS DOUBLE) AS b1
      FROM hist
    )"""]
    mu = "exp(p.b0 + p.b1 * (h.d / 1000.0))"
    for k in range(1, iters + 1):
        parts.append(f""", st{k} AS MATERIALIZED (
      SELECT sum(h.y - {mu}) AS g0,
             sum((h.d / 1000.0) * (h.y - {mu})) AS g1,
             sum({mu}) AS h00,
             sum((h.d / 1000.0) * {mu}) AS h01,
             sum((h.d / 1000.0) * (h.d / 1000.0) * {mu}) AS h11,
             max(p.b0) AS b0p, max(p.b1) AS b1p
      FROM hist h CROSS JOIN par{k - 1} p
    ), par{k} AS MATERIALIZED (
      SELECT b0p + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01)
               AS b0,
             b1p + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01)
               AS b1
      FROM st{k}
    )""")
    parts.append(f""", fin AS (
      SELECT max(p.b0) AS b0, max(p.b1) AS b1,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(h.y) AS BIGINT) AS total_orders,
             sum((h.y - {mu}) * (h.y - {mu}) / {mu}) AS pchi2
      FROM hist h CROSS JOIN par{iters} p
    )
    SELECT n_days, total_orders,
           round(b0, 6) AS b0,
           round(b1, 6) AS b1,
           round(CAST(total_orders AS DOUBLE) / n_days, 6)
             AS mean_daily_rate,
           round(pchi2 / (n_days - 2), 6) AS pearson_dispersion,
           CAST({iters} AS BIGINT) AS irls_iterations
    FROM fin
    """)
    return "".join(parts)


@query("poisson_irls_daily", oracle=_poisson_oracle(_POIS_ITERS))
def poisson_irls_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson log-linear regression (GLM, log link) of daily order
    counts on a scaled day index, fit by exact Newton/IRLS over the
    bounded observed-day frame (one row per calendar day with at
    least one order — fixed date range, so the frame never grows with
    corpus size). Intercept initialized at ln(mean rate) so the very
    first Newton step is already in the contraction region; 6
    iterations converge far past the 6-dp output rounding. Emits the
    coefficients, mean daily rate, and the Pearson dispersion
    statistic (chi-square / df — the overdispersion diagnostic that
    decides Poisson vs. negative binomial).

    Determinism: the day histogram is exact int64; every iteration's
    sums are identical double expressions over the same bounded
    frame, with parameters replayed as repr-round-tripped literals
    (the `logreg_irls_histogram` pattern).

    Scale: ONE fact pass builds the histogram; all Newton steps run
    on the ~2.4k-row day frame.
    """
    o = load(spark, sf_dir, "orders")
    hist = (
        o.groupBy(order_day().alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .cache()
    )
    row = hist.agg(
        F.expr("ln(CAST(sum(y) AS DOUBLE) / count(*))").alias("b0")
    ).collect()[0]
    b0, b1 = float(row["b0"]), 0.0
    for _ in range(_POIS_ITERS):
        mu = f"exp({b0!r} + {b1!r} * (d / 1000.0))"
        st = hist.agg(
            F.expr(f"sum(y - {mu})").alias("g0"),
            F.expr(f"sum((d / 1000.0) * (y - {mu}))").alias("g1"),
            F.expr(f"sum({mu})").alias("h00"),
            F.expr(f"sum((d / 1000.0) * {mu})").alias("h01"),
            F.expr(f"sum((d / 1000.0) * (d / 1000.0) * {mu})").alias("h11"),
        ).collect()[0]
        g0, g1 = float(st["g0"]), float(st["g1"])
        h00, h01, h11 = float(st["h00"]), float(st["h01"]), float(st["h11"])
        det = h00 * h11 - h01 * h01
        b0 = b0 + (h11 * g0 - h01 * g1) / det
        b1 = b1 + (h00 * g1 - h01 * g0) / det
    mu = f"exp({b0!r} + {b1!r} * (d / 1000.0))"
    out = hist.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("y").cast("bigint").alias("total_orders"),
        F.expr(f"sum((y - {mu}) * (y - {mu}) / {mu})").alias("pchi2"),
    )
    hist.unpersist()
    return out.select(
        "n_days",
        "total_orders",
        F.lit(round(b0, 6)).alias("b0"),
        F.lit(round(b1, 6)).alias("b1"),
        F.round(
            F.col("total_orders").cast("double") / F.col("n_days"), 6
        ).alias("mean_daily_rate"),
        F.round(F.col("pchi2") / (F.col("n_days") - F.lit(2)), 6).alias(
            "pearson_dispersion"
        ),
        F.lit(_POIS_ITERS).cast("bigint").alias("irls_iterations"),
    )


# ---------------------------------------------------------------------------
# cox_ph_newton
# ---------------------------------------------------------------------------

_COX_HIST = """
    hist AS MATERIALIZED (
      SELECT greatest(0, date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE))) AS t,
             CAST(round(l.l_quantity) AS BIGINT) AS qb,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE date_diff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) <= 60
      GROUP BY 1, 2
    ), risk AS MATERIALIZED (
      SELECT t, qb, n,
             CAST(sum(n) OVER (PARTITION BY qb ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS r
      FROM hist
    ), evt AS MATERIALIZED (
      SELECT t, CAST(sum(n) AS BIGINT) AS d,
             sum(n * (qb / 25.0)) AS ex
      FROM hist GROUP BY t
    ), sxc AS MATERIALIZED (
      SELECT sum(n * (qb / 25.0)) AS sx, CAST(sum(n) AS BIGINT) AS ne
      FROM hist
    )"""


def _cox_oracle(iters: int) -> str:
    parts = [f"WITH {_COX_HIST}, par0 AS MATERIALIZED"
             " (SELECT CAST(0.0 AS DOUBLE) AS b)"]
    for k in range(1, iters + 1):
        parts.append(f""", st{k} AS MATERIALIZED (
      SELECT sum(e.d * v.s1 / v.s0) AS gterm,
             sum(e.d * (v.s2 / v.s0
                 - (v.s1 / v.s0) * (v.s1 / v.s0))) AS info,
             max(v.b) AS bp
      FROM (SELECT r.t, max(p.b) AS b,
                   sum(r.r * exp(p.b * (r.qb / 25.0))) AS s0,
                   sum(r.r * (r.qb / 25.0)
                       * exp(p.b * (r.qb / 25.0))) AS s1,
                   sum(r.r * (r.qb / 25.0) * (r.qb / 25.0)
                       * exp(p.b * (r.qb / 25.0))) AS s2
            FROM risk r CROSS JOIN par{k - 1} p GROUP BY r.t) v
      JOIN evt e ON e.t = v.t
    ), par{k} AS MATERIALIZED (
      SELECT st.bp + (sx.sx - st.gterm) / st.info AS b
      FROM st{k} st CROSS JOIN sxc sx
    )""")
    parts.append(f""", fin AS (
      SELECT max(v.b) AS b, sum(e.d * ln(v.s0)) AS lns0
      FROM (SELECT r.t, max(p.b) AS b,
                   sum(r.r * exp(p.b * (r.qb / 25.0))) AS s0
            FROM risk r CROSS JOIN par{iters} p GROUP BY r.t) v
      JOIN evt e ON e.t = v.t
    )
    SELECT sx.ne AS n_events,
           round(f.b, 6) AS coef,
           round(exp(f.b), 6) AS hazard_ratio_25q,
           round((f.b * sx.sx - f.lns0) / sx.ne, 6)
             AS partial_ll_per_event,
           CAST({iters} AS BIGINT) AS newton_iterations
    FROM fin f CROSS JOIN sxc sx
    """)
    return "".join(parts)


@query("cox_ph_newton", oracle=_cox_oracle(_COX_ITERS))
def cox_ph_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards regression of order->ship delay on
    line quantity (scaled by 1/25), fit by Newton iterations on the
    Breslow partial likelihood. The whole likelihood reduces to the
    bounded (delay-day x quantity) histogram: risk-set totals are
    per-quantity-bin SUFFIX sums over delay (window over <=61 rows
    per bin), and each Newton step needs only per-delay-day
    S0/S1/S2 sums — so every iteration is one aggregate over a
    ~3k-cell frame no matter the corpus size. Emits the coefficient,
    the hazard ratio per 25 quantity units, and the per-event
    partial log-likelihood. Complements the nonparametric
    `kaplan_meier_shipping` / `nelson_aalen_hazard` /
    `logrank_ship_delay` suite with the semiparametric regression
    member (same delay convention, uncensored <=60d window).

    Determinism: the histogram and risk counts are exact int64;
    iteration sums are identical double expressions on both engines
    with parameters replayed as repr literals; outputs rounded 6dp
    (per-event scaling keeps magnitudes O(10)).

    Scale: one fact-fact join pass (orderkey-partitioned
    sort-merge) builds the histogram; windows are bounded per bin;
    Newton runs on the sufficient frame.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    hist = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(delay <= 60)
        .groupBy(
            F.greatest(F.lit(0), delay).alias("t"),
            F.round(F.col("l_quantity")).cast("bigint").alias("qb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = (
        Window.partitionBy("qb")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = hist.withColumn("r", F.sum("n").over(w).cast("bigint")).cache()
    evt = (
        risk.groupBy("t")
        .agg(
            F.sum("n").cast("bigint").alias("d"),
            F.expr("sum(n * (qb / 25.0))").alias("ex"),
        )
        .cache()
    )
    sxr = risk.agg(
        F.expr("sum(n * (qb / 25.0))").alias("sx"),
        F.sum("n").cast("bigint").alias("ne"),
    ).collect()[0]
    sx, ne = float(sxr["sx"]), int(sxr["ne"])
    b = 0.0
    for _ in range(_COX_ITERS):
        e_b = f"exp({b!r} * (qb / 25.0))"
        per_t = risk.groupBy("t").agg(
            F.expr(f"sum(r * {e_b})").alias("s0"),
            F.expr(f"sum(r * (qb / 25.0) * {e_b})").alias("s1"),
            F.expr(f"sum(r * (qb / 25.0) * (qb / 25.0) * {e_b})").alias("s2"),
        )
        st = (
            per_t.join(evt, "t")
            .agg(
                F.expr("sum(d * s1 / s0)").alias("gterm"),
                F.expr(
                    "sum(d * (s2 / s0 - (s1 / s0) * (s1 / s0)))"
                ).alias("info"),
            )
            .collect()[0]
        )
        b = b + (sx - float(st["gterm"])) / float(st["info"])
    e_b = f"exp({b!r} * (qb / 25.0))"
    fin = (
        risk.groupBy("t")
        .agg(F.expr(f"sum(r * {e_b})").alias("s0"))
        .join(evt, "t")
        .agg(F.expr("sum(d * ln(s0))").alias("lns0"))
        .collect()[0]
    )
    risk.unpersist()
    evt.unpersist()
    import math

    return spark.createDataFrame(
        [
            (
                ne,
                round(b, 6),
                round(math.exp(b), 6),
                round((b * sx - float(fin["lns0"])) / ne, 6),
                _COX_ITERS,
            )
        ],
        "n_events long, coef double, hazard_ratio_25q double,"
        " partial_ll_per_event double, newton_iterations long",
    )


# ---------------------------------------------------------------------------
# kmeans_lloyd_histogram
# ---------------------------------------------------------------------------


def _km_assign(c: tuple[float, float, float, float]) -> str:
    """Nearest-centroid CASE with lowest-index tiebreak (identical
    expression text on both engines)."""
    d = [f"abs(h.xb * 1000.0 - CAST({c[j]!r} AS DOUBLE))" for j in range(4)]
    return (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]}"
        f" AND {d[0]} <= {d[3]} THEN 1"
        f" WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 2"
        f" WHEN {d[2]} <= {d[3]} THEN 3 ELSE 4 END"
    )


def _km_assign_cols(cols: tuple[str, str, str, str]) -> str:
    d = [f"abs(h.xb * 1000.0 - p.{cj})" for cj in cols]
    return (
        f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]}"
        f" AND {d[0]} <= {d[3]} THEN 1"
        f" WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 2"
        f" WHEN {d[2]} <= {d[3]} THEN 3 ELSE 4 END"
    )


def _km_oracle(iters: int) -> str:
    init = ", ".join(
        f"CAST({c!r} AS DOUBLE) AS c{j + 1}" for j, c in enumerate(_KM_INIT)
    )
    parts = [f"""
    WITH hist AS MATERIALIZED (
      SELECT CAST(round(o_totalprice / 1000.0) AS BIGINT) AS xb,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), par0 AS MATERIALIZED (SELECT {init})"""]
    asn = _km_assign_cols(("c1", "c2", "c3", "c4"))
    for k in range(1, iters + 1):
        upd = ", ".join(
            f"coalesce(CAST(sum(CASE WHEN cl = {j} THEN n * xb END)"
            f" AS DOUBLE) * 1000.0 / CAST(sum(CASE WHEN cl = {j}"
            f" THEN n END) AS DOUBLE), max(c{j}p)) AS c{j}"
            for j in range(1, 5)
        )
        parts.append(f""", asn{k} AS MATERIALIZED (
      SELECT h.xb, h.n, {asn} AS cl,
             p.c1 AS c1p, p.c2 AS c2p, p.c3 AS c3p, p.c4 AS c4p
      FROM hist h CROSS JOIN par{k - 1} p
    ), par{k} AS MATERIALIZED (
      SELECT {upd} FROM asn{k}
    )""")
    parts.append(f""", af AS (
      SELECT h.xb, h.n, {asn} AS cl,
             p.c1, p.c2, p.c3, p.c4
      FROM hist h CROSS JOIN par{iters} p
    )
    SELECT cl AS cluster_id,
           round(max(CASE cl WHEN 1 THEN c1 WHEN 2 THEN c2
                     WHEN 3 THEN c3 ELSE c4 END), 2) AS center,
           CAST(sum(n) AS BIGINT) AS size_n,
           round(sqrt(sum(n * (xb * 1000.0 - CASE cl WHEN 1 THEN c1
                     WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END)
                     * (xb * 1000.0 - CASE cl WHEN 1 THEN c1
                     WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END))
                     / CAST(sum(n) AS DOUBLE)), 2) AS rmse
    FROM af GROUP BY cl ORDER BY cl
    """)
    return "".join(parts)


@query("kmeans_lloyd_histogram", oracle=_km_oracle(_KM_ITERS))
def kmeans_lloyd_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4) on order total price, run on the
    $1k-binned price histogram instead of raw rows: assignment is a
    nearest-centroid CASE over bounded cells (lowest-index
    tiebreak), the update is an exact integer-weighted mean
    (BIGINT sum(n*xb) / BIGINT sum(n) — both engines perform the
    identical single double division, so the whole 5-iteration
    trajectory is bit-reproducible, unlike the rows-only
    `mllib_kmeans`). Fixed literal init spreads centroids across the
    price range. Emits per-cluster center, size, and RMSE.

    Scale: ONE fact pass builds the ~600-cell histogram; every Lloyd
    iteration is an aggregate over it. This is exactly how k-means
    on 100 TB of 1-D features should run — no per-row reassignment
    shuffle, no MLlib iteration over the fact table.
    """
    o = load(spark, sf_dir, "orders")
    hist = (
        o.groupBy(
            F.round(F.col("o_totalprice") / 1000.0).cast("bigint").alias("xb")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .alias("h")
        .cache()
    )
    cs = list(_KM_INIT)
    for _ in range(_KM_ITERS):
        asn = _km_assign(tuple(cs))
        row = hist.select(
            F.col("xb"), F.col("n"), F.expr(asn).alias("cl")
        ).groupBy("cl").agg(
            F.sum(F.expr("n * xb")).cast("bigint").alias("sxb"),
            F.sum("n").cast("bigint").alias("sn"),
        ).collect()
        got = {int(r["cl"]): r for r in row}
        for j in range(4):
            r = got.get(j + 1)
            if r is not None and r["sn"]:
                cs[j] = float(r["sxb"]) * 1000.0 / float(r["sn"])
    asn = _km_assign(tuple(cs))
    center = (
        f"CASE cl WHEN 1 THEN CAST({cs[0]!r} AS DOUBLE)"
        f" WHEN 2 THEN CAST({cs[1]!r} AS DOUBLE)"
        f" WHEN 3 THEN CAST({cs[2]!r} AS DOUBLE)"
        f" ELSE CAST({cs[3]!r} AS DOUBLE) END"
    )
    out = (
        hist.select("xb", "n", F.expr(asn).alias("cl"))
        .groupBy(F.col("cl").alias("cluster_id"))
        .agg(
            F.round(F.max(F.expr(center)), 2).alias("center"),
            F.sum("n").cast("bigint").alias("size_n"),
            F.round(
                F.sqrt(
                    F.expr(
                        f"sum(n * (xb * 1000.0 - ({center}))"
                        f" * (xb * 1000.0 - ({center})))"
                    )
                    / F.sum("n").cast("double")
                ),
                2,
            ).alias("rmse"),
        )
        .orderBy("cluster_id")
    )
    hist.unpersist()
    return out


# ---------------------------------------------------------------------------
# cart_depth2_tree
# ---------------------------------------------------------------------------

_CART_PREF = """
    hist AS MATERIALIZED (
      SELECT CAST(round(l_quantity) AS BIGINT) AS qb,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT))
               AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
               * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
               AS syy
      FROM lineitem GROUP BY 1
    ), pref AS MATERIALIZED (
      SELECT qb, n, sy, syy,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(sy) OVER w AS BIGINT) AS csy,
             CAST(sum(syy) OVER w AS BIGINT) AS csyy
      FROM hist
      WINDOW w AS (ORDER BY qb ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), tot AS MATERIALIZED (
      SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sy) AS BIGINT)
               AS tsy,
             CAST(sum(syy) AS BIGINT) AS tsyy,
             CAST(max(qb) AS BIGINT) AS mq
      FROM hist
    )"""

# SSE of a segment from (n, sy, syy) sums; all inputs exact BIGINT so
# the single division is the only float op — identical both engines.
_SSE = ("(CAST({syy} AS DOUBLE) - CAST({sy} AS DOUBLE)"
        " * CAST({sy} AS DOUBLE) / CAST({n} AS DOUBLE))")


def _cart_oracle() -> str:
    sse_l = _SSE.format(n="p.cn", sy="p.csy", syy="p.csyy")
    sse_r = _SSE.format(
        n="(t.tn - p.cn)", sy="(t.tsy - p.csy)", syy="(t.tsyy - p.csyy)"
    )
    sse_root = _SSE.format(n="t.tn", sy="t.tsy", syy="t.tsyy")
    # left child of root split s*: rows qb <= s*; candidate s < s*
    lc_l = _SSE.format(n="p.cn", sy="p.csy", syy="p.csyy")
    lc_r = _SSE.format(
        n="(b.cn - p.cn)", sy="(b.csy - p.csy)", syy="(b.csyy - p.csyy)"
    )
    lc_node = _SSE.format(n="b.cn", sy="b.csy", syy="b.csyy")
    # right child: rows qb > s*; candidate s* < s < mq
    rc_l = _SSE.format(
        n="(p.cn - b.cn)", sy="(p.csy - b.csy)", syy="(p.csyy - b.csyy)"
    )
    rc_r = _SSE.format(
        n="(t.tn - p.cn)", sy="(t.tsy - p.csy)", syy="(t.tsyy - p.csyy)"
    )
    rc_node = _SSE.format(
        n="(t.tn - b.cn)", sy="(t.tsy - b.csy)", syy="(t.tsyy - b.csyy)"
    )
    return f"""
    WITH {_CART_PREF}, broot AS MATERIALIZED (
      SELECT p.qb, p.cn, p.csy, p.csyy,
             {sse_l} + {sse_r} AS sse_pair
      FROM pref p CROSS JOIN tot t
      WHERE p.qb < t.mq
      ORDER BY sse_pair ASC, p.qb ASC LIMIT 1
    ), bleft AS MATERIALIZED (
      SELECT p.qb, {lc_l} + {lc_r} AS sse_pair
      FROM pref p CROSS JOIN broot b
      WHERE p.qb < b.qb
      ORDER BY sse_pair ASC, p.qb ASC LIMIT 1
    ), bright AS MATERIALIZED (
      SELECT p.qb, {rc_l} + {rc_r} AS sse_pair
      FROM pref p CROSS JOIN broot b CROSS JOIN tot t
      WHERE p.qb > b.qb AND p.qb < t.mq
      ORDER BY sse_pair ASC, p.qb ASC LIMIT 1
    )
    SELECT 'root' AS node, b.qb AS split_q, t.tn AS n_node,
           round(CAST(t.tsy AS DOUBLE) / CAST(t.tn AS DOUBLE), 4)
             AS mean_y,
           round({sse_root} - b.sse_pair, 2) AS sse_reduction
    FROM broot b CROSS JOIN tot t
    UNION ALL
    SELECT 'left', l.qb, b.cn,
           round(CAST(b.csy AS DOUBLE) / CAST(b.cn AS DOUBLE), 4),
           round({lc_node} - l.sse_pair, 2)
    FROM bleft l CROSS JOIN broot b CROSS JOIN tot t
    UNION ALL
    SELECT 'right', r.qb, t.tn - b.cn,
           round(CAST((t.tsy - b.csy) AS DOUBLE)
                 / CAST((t.tn - b.cn) AS DOUBLE), 4),
           round({rc_node} - r.sse_pair, 2)
    FROM bright r CROSS JOIN broot b CROSS JOIN tot t
    """


@query("cart_depth2_tree", oracle=_cart_oracle())
def cart_depth2_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 CART regression tree (quantity -> dollar revenue):
    exhaustive best-split search by the prefix-sum SSE decomposition
    SSE = sum(y^2) - (sum y)^2/n over the 50-cell quantity histogram
    — root split first, then the best split inside each child, all
    from the SAME prefix frame (child segment stats are prefix
    differences against the root-split row). Fully declarative: the
    1-row best-split frames join back via broadcast, no driver loop,
    no collect. Emits per-node (root/left/right) split point, size,
    mean target, and SSE reduction. The depth-2 extension of
    `decision_stump_split`, and the exact-search counterpart of
    `mllib_gbt`'s library trees.

    Determinism: target quantized to whole dollars so all prefix
    sums are exact int64 (sum y^2 stays < 2^63 through ~sf100);
    the SSE division is the only float op — identical on both
    engines; argmin tiebreak is (sse, qb) ascending.

    Scale: ONE fact pass builds the histogram; the split search is
    windows + joins over 50 rows (bounded single-partition window,
    documented). At 100 TB this is the canonical histogram-based
    tree-split pattern (XGBoost/LightGBM hist mode).
    """
    li = load(spark, sf_dir, "lineitem")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    hist = li.groupBy(
        F.round(F.col("l_quantity")).cast("bigint").alias("qb")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    w = Window.orderBy("qb").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = hist.select(
        "qb",
        "n",
        "sy",
        "syy",
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("sy").over(w).cast("bigint").alias("csy"),
        F.sum("syy").over(w).cast("bigint").alias("csyy"),
    ).cache()
    tot = pref.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("syy").cast("bigint").alias("tsyy"),
        F.max("qb").cast("bigint").alias("mq"),
    )

    def sse(n: str, sy: str, syy: str) -> F.Column:
        return F.expr(_SSE.format(n=n, sy=sy, syy=syy))

    cand = pref.alias("p").crossJoin(F.broadcast(tot.alias("t"))).where(
        F.col("p.qb") < F.col("t.mq")
    )
    broot = (
        cand.select(
            F.col("p.qb").alias("qb"),
            F.col("p.cn").alias("cn"),
            F.col("p.csy").alias("csy"),
            F.col("p.csyy").alias("csyy"),
            (
                sse("p.cn", "p.csy", "p.csyy")
                + sse("(t.tn - p.cn)", "(t.tsy - p.csy)", "(t.tsyy - p.csyy)")
            ).alias("sse_pair"),
        )
        .orderBy(F.col("sse_pair").asc(), F.col("qb").asc())
        .limit(1)
    )
    bl = (
        pref.alias("p")
        .crossJoin(F.broadcast(broot.alias("b")))
        .where(F.col("p.qb") < F.col("b.qb"))
        .select(
            F.col("p.qb").alias("qb"),
            (
                sse("p.cn", "p.csy", "p.csyy")
                + sse("(b.cn - p.cn)", "(b.csy - p.csy)", "(b.csyy - p.csyy)")
            ).alias("sse_pair"),
        )
        .orderBy(F.col("sse_pair").asc(), F.col("qb").asc())
        .limit(1)
    )
    br = (
        pref.alias("p")
        .crossJoin(F.broadcast(broot.alias("b")))
        .crossJoin(F.broadcast(tot.alias("t")))
        .where((F.col("p.qb") > F.col("b.qb")) & (F.col("p.qb") < F.col("t.mq")))
        .select(
            F.col("p.qb").alias("qb"),
            (
                sse("(p.cn - b.cn)", "(p.csy - b.csy)", "(p.csyy - b.csyy)")
                + sse("(t.tn - p.cn)", "(t.tsy - p.csy)", "(t.tsyy - p.csyy)")
            ).alias("sse_pair"),
        )
        .orderBy(F.col("sse_pair").asc(), F.col("qb").asc())
        .limit(1)
    )
    root_row = (
        broot.alias("b")
        .crossJoin(F.broadcast(tot.alias("t")))
        .select(
            F.lit("root").alias("node"),
            F.col("b.qb").alias("split_q"),
            F.col("t.tn").alias("n_node"),
            F.round(
                F.col("t.tsy").cast("double") / F.col("t.tn").cast("double"), 4
            ).alias("mean_y"),
            F.round(
                sse("t.tn", "t.tsy", "t.tsyy") - F.col("b.sse_pair"), 2
            ).alias("sse_reduction"),
        )
    )
    left_row = (
        bl.alias("l")
        .crossJoin(F.broadcast(broot.alias("b")))
        .select(
            F.lit("left").alias("node"),
            F.col("l.qb").alias("split_q"),
            F.col("b.cn").alias("n_node"),
            F.round(
                F.col("b.csy").cast("double") / F.col("b.cn").cast("double"), 4
            ).alias("mean_y"),
            F.round(
                sse("b.cn", "b.csy", "b.csyy") - F.col("l.sse_pair"), 2
            ).alias("sse_reduction"),
        )
    )
    right_row = (
        br.alias("r")
        .crossJoin(F.broadcast(broot.alias("b")))
        .crossJoin(F.broadcast(tot.alias("t")))
        .select(
            F.lit("right").alias("node"),
            F.col("r.qb").alias("split_q"),
            (F.col("t.tn") - F.col("b.cn")).alias("n_node"),
            F.round(
                (F.col("t.tsy") - F.col("b.csy")).cast("double")
                / (F.col("t.tn") - F.col("b.cn")).cast("double"),
                4,
            ).alias("mean_y"),
            F.round(
                sse("(t.tn - b.cn)", "(t.tsy - b.csy)", "(t.tsyy - b.csyy)")
                - F.col("r.sse_pair"),
                2,
            ).alias("sse_reduction"),
        )
    )
    return root_row.unionAll(left_row).unionAll(right_row)
