"""Analytics wave 19: chain-ladder development, Shewhart X-bar/R
control charts, and Markov stationary structure.

Chain-ladder is THE actuarial completion method for run-off triangles
(claims, shipments, anything that develops over lag); here the
censored triangle is completed and then CHECKED against the actuals
the full data contains — a self-validating backtest of the method.
The X-bar/R chart is classical SPC with Western-Electric-style
sigma-zone flags. The stationary distribution and entropy rate
summarize the event-type transition chain `markov_event_transitions`
estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import raw_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_CL_MAX_DEV = 8  # development weeks 0..8 (delay ≤ 60 days)


@query(
    "chain_ladder_development",
    oracle=f"""
    WITH base AS (
      SELECT date_trunc('month', CAST(o.o_orderdate AS DATE)) AS origin,
             least(greatest(date_diff('day', CAST(o.o_orderdate AS DATE),
                     CAST(l.l_shipdate AS DATE)), 0) // 7, {_CL_MAX_DEV})
               AS dev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE CAST(o.o_orderdate AS DATE) >= DATE '2000-09-01'
    ), cutoff AS (
      SELECT max(origin) + INTERVAL 1 MONTH AS cut FROM base
    ), cells AS (
      SELECT origin, dev, CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY 1, 2
    ), grid AS (
      SELECT o.origin, d.dev FROM
        (SELECT DISTINCT origin FROM cells) o,
        (SELECT unnest(range(0, {_CL_MAX_DEV + 1})) AS dev) d
    ), cum AS (
      SELECT g.origin, g.dev,
             CAST(sum(coalesce(c.n, 0)) OVER (PARTITION BY g.origin
               ORDER BY g.dev) AS BIGINT) AS cml,
             CASE WHEN g.origin + (CAST(g.dev AS INTEGER) * 7 + 7)
                       * INTERVAL 1 DAY <= (SELECT cut FROM cutoff)
                  THEN 1 ELSE 0 END AS observed
      FROM grid g LEFT JOIN cells c
        ON g.origin = c.origin AND g.dev = c.dev
    ), pairs AS (
      SELECT a.dev AS j,
             CAST(sum(a.cml) AS BIGINT) AS denom,
             CAST(sum(b.cml) AS BIGINT) AS numer
      FROM cum a JOIN cum b
        ON a.origin = b.origin AND b.dev = a.dev + 1
      WHERE a.observed = 1 AND b.observed = 1 AND a.cml > 0
      GROUP BY a.dev
    ), factors AS (
      SELECT j, numer * 1.0 / denom AS f FROM pairs
    ), lastobs AS (
      SELECT origin, max(dev) AS last_dev
      FROM cum WHERE observed = 1 GROUP BY origin
    ), proj AS (
      SELECT lo.origin, lo.last_dev,
             c.cml AS observed_cum,
             c.cml * coalesce(exp((SELECT sum(ln(f)) FROM factors
                                   WHERE j >= lo.last_dev)), 1.0)
               AS ultimate_pred
      FROM lastobs lo JOIN cum c
        ON c.origin = lo.origin AND c.dev = lo.last_dev
    ), actual AS (
      SELECT origin, CAST(max(cml) AS BIGINT) AS ultimate_actual
      FROM cum GROUP BY origin
    )
    SELECT strftime(p.origin, '%Y-%m') AS origin_month,
           CAST(p.last_dev AS BIGINT) AS last_observed_dev,
           p.observed_cum,
           round(p.ultimate_pred, 2) AS ultimate_pred,
           a.ultimate_actual,
           CAST(round((p.ultimate_pred - a.ultimate_actual) * 1000000
                      / a.ultimate_actual) AS BIGINT) AS err_ppm
    FROM proj p JOIN actual a ON p.origin = a.origin
    ORDER BY origin_month
    """,
)
def chain_ladder_development(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder completion of the shipment run-off triangle: orders
    from the final year develop over weeks-to-ship (dev 0..8);
    censoring at one month past the last origin month creates the
    classic incomplete triangle; volume-weighted age-to-age factors
    f_j = ΣC_{{i,j+1}}/ΣC_{{i,j}} over jointly-observed origins complete
    each origin to ultimate = C_last · Π f_j. Because the full data
    knows the true ultimates, the op reports the chain-ladder error
    per origin (ppm) — a self-backtesting actuarial estimator.

    Determinism: triangle cells and cumulatives are exact integers;
    factors are ratios of integer sums; the factor product runs as
    exp(Σ ln f) over the ≤9-row factor dimension (fixed order).

    Scale: one map-side-combined groupBy((origin, dev)) over the date-
    filtered fact join (predicate pushed to the scan); all triangle
    arithmetic on the bounded origins×devs grid with origin-
    partitioned windows.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderdate").cast("date") >= F.lit("2000-09-01"))
        .select(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("origin"),
            F.least(F.floor(raw_delay() / 7), F.lit(_CL_MAX_DEV)).alias("dev"),
        )
    )
    # cached: the ≤(origins × devs) triangle-cell frame is the root of
    # SIX downstream branches (cutoff agg, grid left-join, the a/b factor
    # self-join, lastobs, proj, actual) — without the cache each branch
    # recomputes the lineitem⋈orders fact join (measured 15.3 s at sf0.1
    # in the round-6 sweep; ~2 s with one fact pass). The cutoff also
    # reads max(origin) from the cells rather than rescanning the facts.
    cells = base.groupBy("origin", "dev").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).cache()
    cut = cells.agg(
        F.add_months(F.max("origin"), 1).alias("cut")
    ).collect()[0][0]
    origins = cells.select("origin").distinct()
    devs = spark.range(0, _CL_MAX_DEV + 1).select(
        F.col("id").cast("bigint").alias("dev")
    )
    grid = origins.crossJoin(F.broadcast(devs))
    wo = Window.partitionBy("origin").orderBy("dev")
    cum = (
        grid.join(cells, ["origin", "dev"], "left")
        .select(
            "origin",
            "dev",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
        .select(
            "origin",
            "dev",
            F.sum("n").over(wo).cast("bigint").alias("cml"),
            (
                F.date_add(
                    F.col("origin"), (F.col("dev") * 7 + 7).cast("int")
                )
                <= F.lit(cut)
            )
            .cast("int")
            .alias("observed"),
        )
    )
    a = cum.alias("a")
    b = cum.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.origin") == F.col("b.origin"))
            & (F.col("b.dev") == F.col("a.dev") + 1),
        )
        .filter(
            (F.col("a.observed") == 1)
            & (F.col("b.observed") == 1)
            & (F.col("a.cml") > 0)
        )
        .groupBy(F.col("a.dev").alias("j"))
        .agg(
            F.sum(F.col("a.cml")).cast("bigint").alias("denom"),
            F.sum(F.col("b.cml")).cast("bigint").alias("numer"),
        )
    )
    factors = pairs.select(
        "j", (F.col("numer") * 1.0 / F.col("denom")).alias("f")
    )
    lastobs = (
        cum.filter(F.col("observed") == 1)
        .groupBy("origin")
        .agg(F.max("dev").alias("last_dev"))
    )
    # tail factor product per origin: Σ ln f over j ≥ last_dev, via a
    # bounded factor array broadcast
    farr = factors.agg(
        F.expr(
            "array_sort(collect_list(struct(j, f)))"
        ).alias("fs")
    )
    proj = (
        lastobs.join(
            cum.select("origin", "dev", "cml"),
            (lastobs.origin == cum.origin)
            & (lastobs.last_dev == cum.dev),
        )
        .select(lastobs.origin, "last_dev", F.col("cml").alias("observed_cum"))
        .crossJoin(F.broadcast(farr))
        .select(
            "origin",
            "last_dev",
            "observed_cum",
            (
                F.col("observed_cum")
                * F.exp(
                    F.expr(
                        """
                        aggregate(filter(fs, s -> s.j >= last_dev),
                          CAST(0.0 AS DOUBLE), (acc, s) -> acc + ln(s.f))
                        """
                    )
                )
            ).alias("ultimate_pred"),
        )
    )
    actual = cum.groupBy("origin").agg(
        F.max("cml").cast("bigint").alias("ultimate_actual")
    )
    return (
        proj.join(actual, "origin")
        .select(
            F.date_format("origin", "yyyy-MM").alias("origin_month"),
            F.col("last_dev").cast("bigint").alias("last_observed_dev"),
            "observed_cum",
            F.round("ultimate_pred", 2).alias("ultimate_pred"),
            "ultimate_actual",
            F.round(
                (F.col("ultimate_pred") - F.col("ultimate_actual"))
                * 1000000
                / F.col("ultimate_actual")
            )
            .cast("bigint")
            .alias("err_ppm"),
        )
        .orderBy("origin_month")
    )


# Shewhart constants for subgroup size n=5
_XBAR_A2 = 0.577
_XBAR_D3 = 0.0
_XBAR_D4 = 2.114


@query(
    "xbar_r_control_chart",
    oracle=f"""
    WITH sub AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(count(*) AS BIGINT) AS x
      FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2
    ), daily AS (
      SELECT day,
             CAST(count(*) AS BIGINT) AS n_sub,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(max(x) - min(x) AS BIGINT) AS r
      FROM sub GROUP BY day HAVING count(*) = 4
    ), lims AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(sx / 4.0 ORDER BY day)), (a, v) -> a + v)
               / count(*) AS xbarbar,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(CAST(r AS DOUBLE) ORDER BY day)), (a, v) -> a + v)
               / count(*) AS rbar
      FROM daily
    )
    SELECT d.day,
           round(d.sx / 4.0, 4) AS xbar,
           d.r AS subgroup_range,
           round(l.xbarbar, 4) AS center,
           round(l.xbarbar + {_XBAR_A2} * l.rbar, 4) AS ucl_x,
           round(l.xbarbar - {_XBAR_A2} * l.rbar, 4) AS lcl_x,
           round({_XBAR_D4} * l.rbar, 4) AS ucl_r,
           CASE WHEN d.sx / 4.0 > l.xbarbar + {_XBAR_A2} * l.rbar
                  OR d.sx / 4.0 < l.xbarbar - {_XBAR_A2} * l.rbar
                THEN 1 ELSE 0 END AS x_out_of_control,
           CASE WHEN d.r > {_XBAR_D4} * l.rbar THEN 1 ELSE 0 END
             AS r_out_of_control,
           CASE WHEN abs(d.sx / 4.0 - l.xbarbar)
                     > (2.0 / 3.0) * {_XBAR_A2} * l.rbar
                THEN 1 ELSE 0 END AS beyond_2sigma
    FROM daily d CROSS JOIN lims l
    ORDER BY d.day
    """,
)
def xbar_r_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X-bar/R control chart over daily event-type subgroups
    (the 4 non-purchase types form each day's rational subgroup):
    center line x̿, range-based limits x̿ ± A₂·R̄ and D₄·R̄ (n=4
    constants), flagging rule-1 breaches on both charts plus the
    2-sigma-zone flag Western Electric's run rules build on — the SPC
    chart that separates common-cause noise from assignable causes,
    complementing the sequential detectors (`cusum_changepoint`,
    `page_hinkley_drift`) with subgroup-variance-scaled limits.

    Determinism: subgroup sums/ranges are exact integers; x̿ and R̄
    fold the day frame in date order; limits are closed-form doubles.

    Scale: one map-side-combined groupBy((day, type)); the chart is
    day-dimension arithmetic against 1-row broadcast limits.
    """
    e = load(spark, sf_dir, "events")
    sub = (
        e.filter(F.col("event_type") != "purchase")
        .groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    daily = (
        sub.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sub"),
            F.sum("x").cast("bigint").alias("sx"),
            (F.max("x") - F.min("x")).cast("bigint").alias("r"),
        )
        .filter(F.col("n_sub") == 4)
    )
    lims = daily.agg(
        (
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(day,
                    sx / 4.0 AS vv))), s -> s.vv), CAST(0.0 AS DOUBLE),
                  (a, v) -> a + v)
                """
            )
            / F.count(F.lit(1))
        ).alias("xbarbar"),
        (
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(day,
                    CAST(r AS DOUBLE) AS vv))), s -> s.vv),
                  CAST(0.0 AS DOUBLE), (a, v) -> a + v)
                """
            )
            / F.count(F.lit(1))
        ).alias("rbar"),
    )
    xbar = F.col("sx") / 4.0
    ucl = F.col("xbarbar") + _XBAR_A2 * F.col("rbar")
    lcl = F.col("xbarbar") - _XBAR_A2 * F.col("rbar")
    return (
        daily.crossJoin(F.broadcast(lims))
        .select(
            "day",
            F.round(xbar, 4).alias("xbar"),
            F.col("r").alias("subgroup_range"),
            F.round("xbarbar", 4).alias("center"),
            F.round(ucl, 4).alias("ucl_x"),
            F.round(lcl, 4).alias("lcl_x"),
            F.round(_XBAR_D4 * F.col("rbar"), 4).alias("ucl_r"),
            F.when((xbar > ucl) | (xbar < lcl), 1)
            .otherwise(0)
            .alias("x_out_of_control"),
            F.when(F.col("r") > _XBAR_D4 * F.col("rbar"), 1)
            .otherwise(0)
            .alias("r_out_of_control"),
            F.when(
                F.abs(xbar - F.col("xbarbar"))
                > (2.0 / 3.0) * _XBAR_A2 * F.col("rbar"),
                1,
            )
            .otherwise(0)
            .alias("beyond_2sigma"),
        )
        .orderBy("day")
    )


_MS_ITERS = 80


@query(
    "markov_stationary_entropy_rate",
    oracle=f"""
    WITH evs AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
               WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END
               AS s
      FROM events
    ), trans AS (
      SELECT s AS i, lead(s) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS j
      FROM evs
    ), counts AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS c
      FROM trans WHERE j IS NOT NULL GROUP BY i, j
    ), tot AS (
      SELECT i, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY i
    ), pl AS (
      SELECT list(struct_pack(k := c.i * 5 + c.j,
                              p := c.c * 1.0 / t.t)) AS ents
      FROM counts c JOIN tot t ON c.i = t.i
    ), pm AS (
      SELECT list_transform(range(0, 25),
               k -> coalesce(list_filter(ents, e -> e.k = k)[1].p, 0.0))
               AS p
      FROM pl
    ), pi AS (
      SELECT p,
        list_reduce(list_prepend(CAST([0.2, 0.2, 0.2, 0.2, 0.2]
            AS DOUBLE[]),
          list_transform(range(1, {_MS_ITERS + 1}),
            i -> CAST([] AS DOUBLE[]))),
          (a, v) -> list_transform(range(0, 5), j ->
            list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(range(0, 5), i2 ->
                a[CAST(i2 + 1 AS INTEGER)]
                * p[CAST(i2 * 5 + j + 1 AS INTEGER)])),
              (s2, t2) -> s2 + t2))) AS station
      FROM pm
    )
    SELECT g.st AS state,
           CASE g.st WHEN 0 THEN 'click' WHEN 1 THEN 'error'
             WHEN 2 THEN 'purchase' WHEN 3 THEN 'signup' ELSE 'view'
             END AS state_name,
           round(station[CAST(g.st + 1 AS INTEGER)], 6) AS pi,
           round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(0, 5), j ->
               CASE WHEN p[CAST(g.st * 5 + j + 1 AS INTEGER)] > 0
                 THEN p[CAST(g.st * 5 + j + 1 AS INTEGER)]
                      * ln(p[CAST(g.st * 5 + j + 1 AS INTEGER)])
                 ELSE 0.0 END)), (a, v) -> a + v), 6) AS row_entropy,
           round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(range(0, 25), k ->
               CASE WHEN p[CAST(k + 1 AS INTEGER)] > 0
                 THEN station[CAST(k // 5 + 1 AS INTEGER)]
                      * p[CAST(k + 1 AS INTEGER)]
                      * ln(p[CAST(k + 1 AS INTEGER)])
                 ELSE 0.0 END)), (a, v) -> a + v), 6) AS entropy_rate
    FROM pi, (SELECT unnest(range(0, 5)) AS st) g
    ORDER BY state
    """,
)
def markov_stationary_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution and entropy rate of the event-type
    transition chain: estimate P from user-ordered transitions, power-
    iterate π ← πP for 80 steps from uniform (geometric convergence on
    an ergodic 5-state chain), and report per state its stationary
    mass, its transition-row entropy, and the chain's entropy rate
    H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ — the long-run behavioral summary on top
    of `markov_event_transitions`' raw matrix (what fraction of time
    each state absorbs; how predictable the next step is).

    Determinism: P entries are exact count ratios packed into a
    fixed-index flat array; the 80 power iterations and both entropy
    folds are identical nested folds (the `markov_removal_attribution`
    machinery).

    Scale: transitions come from user-partitioned lead windows; the
    chain arithmetic is constant-size (k² cells).
    """
    e = load(spark, sf_dir, "events")
    state = (
        F.when(F.col("event_type") == "click", 0)
        .when(F.col("event_type") == "error", 1)
        .when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "signup", 3)
        .otherwise(4)
    )
    evs = e.select("user_id", "ts", "event_id", state.alias("s"))
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = evs.select(
        F.col("s").alias("i"), F.lead("s").over(wu).alias("j")
    ).filter(F.col("j").isNotNull())
    counts = trans.groupBy("i", "j").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("i").agg(F.sum("c").alias("t"))
    pl = counts.join(tot, "i").agg(
        F.expr(
            "collect_list(struct(i * 5 + j AS k, c * 1.0 / t AS p))"
        ).alias("ents")
    )
    pm = pl.select(
        F.expr(
            """
            transform(sequence(0, 24),
              k -> coalesce(get(filter(ents, e -> e.k = k), 0).p, 0.0))
            """
        ).alias("p")
    )
    pi = pm.select(
        "p",
        F.expr(
            f"""
            aggregate(sequence(1, {_MS_ITERS}),
              CAST(array(0.2, 0.2, 0.2, 0.2, 0.2) AS ARRAY<DOUBLE>),
              (a, it) -> transform(sequence(0, 4), j ->
                aggregate(sequence(0, 4), CAST(0.0 AS DOUBLE),
                  (s2, i2) -> s2 + a[i2] * p[i2 * 5 + j])))
            """
        ).alias("station"),
    )
    states = spark.range(0, 5).select(F.col("id").cast("int").alias("st"))
    out = pi.crossJoin(F.broadcast(states))
    name = (
        F.when(F.col("st") == 0, "click")
        .when(F.col("st") == 1, "error")
        .when(F.col("st") == 2, "purchase")
        .when(F.col("st") == 3, "signup")
        .otherwise("view")
    )
    return out.select(
        F.col("st").cast("bigint").alias("state"),
        name.alias("state_name"),
        F.round(F.expr("station[st]"), 6).alias("pi"),
        F.round(
            -F.expr(
                """
                aggregate(transform(sequence(0, 4), j ->
                  CASE WHEN p[st * 5 + j] > 0
                    THEN p[st * 5 + j] * ln(p[st * 5 + j])
                    ELSE 0.0 END), CAST(0.0 AS DOUBLE),
                  (a, v) -> a + v)
                """
            ),
            6,
        ).alias("row_entropy"),
        F.round(
            -F.expr(
                """
                aggregate(transform(sequence(0, 24), k ->
                  CASE WHEN p[k] > 0
                    THEN station[CAST(k div 5 AS INT)] * p[k] * ln(p[k])
                    ELSE 0.0 END), CAST(0.0 AS DOUBLE),
                  (a, v) -> a + v)
                """
            ),
            6,
        ).alias("entropy_rate"),
    ).orderBy("state")
