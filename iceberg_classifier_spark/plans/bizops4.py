"""Bizops wave 4: Croston intermittent-demand forecasting, ABC-XYZ
inventory classification, and log-log price elasticity.

Croston's method is the standard forecaster when demand is mostly
zeros (spare parts, long-tail SKUs) — naive exponential smoothing
biases toward zero there; it smooths demand SIZE and demand INTERVAL
separately. ABC-XYZ is the canonical inventory segmentation (value
share × demand variability). Log-log elasticity is the pricing
team's first regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_CR_ALPHA = 0.2
_CR_MOD = 17  # every 17th part → a bounded panel of sparse-demand series


@query(
    "croston_intermittent",
    oracle=f"""
    WITH dem AS (
      SELECT l_partkey AS pk, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(round(l_quantity)) AS BIGINT) AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_partkey % {_CR_MOD} = 0
      GROUP BY 1, 2
    ), seq AS (
      SELECT pk,
             list(struct_pack(day := day, d := d) ORDER BY day) AS ds,
             CAST(count(*) AS BIGINT) AS n_demands,
             min(day) AS first_day, max(day) AS last_day
      FROM dem GROUP BY pk
    ), folded AS (
      SELECT pk, n_demands, first_day, last_day,
        list_reduce(
          list_prepend(CAST([] AS DOUBLE[]),
            list_transform(ds, s ->
              [CAST(s.d AS DOUBLE),
               CAST(date_diff('day', DATE '1990-01-01', s.day)
                 AS DOUBLE)])),
          (a, v) -> CASE WHEN len(a) = 0
            THEN [v[1], 1.0, v[2]]
            ELSE [
              {_CR_ALPHA} * v[1] + (1 - {_CR_ALPHA}) * a[1],
              {_CR_ALPHA} * (v[2] - a[3]) + (1 - {_CR_ALPHA}) * a[2],
              v[2]]
          END) AS st
      FROM seq
    )
    SELECT pk AS part, n_demands, first_day, last_day,
           round(st[1], 4) AS level_z,
           round(st[2], 4) AS interval_p,
           round(st[1] / st[2], 4) AS forecast_per_day
    FROM folded WHERE n_demands >= 3
    ORDER BY pk
    """,
)
def croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per sparse part: smooth
    demand size z ← αd + (1−α)z and demand interval p ← αI + (1−α)p
    (I = days since the previous demand) ONLY on demand occurrences,
    forecast = z/p units/day — the spare-parts forecaster that doesn't
    collapse to zero the way plain EWMA does on a series that is
    mostly gaps. Folds over each part's demand events directly, so no
    calendar gap-fill ever materializes the zero days.

    Determinism: per-(part, day) demand quantizes to integer units;
    the fold runs in day order per part (state = flat [z, p, last_day]
    — the DuckDB struct-accumulator workaround); α=0.2.

    Scale: one map-side-combined groupBy((part, day)); one fold per
    part over its OWN demand events (thousands of independent folds —
    the per-key-sequential, cross-key-parallel shape); series length
    is bounded by demand days, not the calendar.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % _CR_MOD == 0
    )
    dem = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round("l_quantity")).cast("bigint").alias("d")
        )
    )
    seq = dem.groupBy("pk").agg(
        F.expr("array_sort(collect_list(struct(day, d)))").alias("ds"),
        F.count(F.lit(1)).cast("bigint").alias("n_demands"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )
    a = _CR_ALPHA
    folded = seq.select(
        "pk",
        "n_demands",
        "first_day",
        "last_day",
        F.expr(
            f"""
            aggregate(transform(ds, s -> array(CAST(s.d AS DOUBLE),
                CAST(datediff(s.day, DATE'1990-01-01') AS DOUBLE))),
              CAST(array() AS ARRAY<DOUBLE>),
              (acc, v) -> CASE WHEN size(acc) = 0
                THEN array(v[0], CAST(1.0 AS DOUBLE), v[1])
                ELSE array(
                  {a} * v[0] + (1 - {a}) * acc[0],
                  {a} * (v[1] - acc[2]) + (1 - {a}) * acc[1],
                  v[1])
              END)
            """
        ).alias("st"),
    )
    return (
        folded.filter(F.col("n_demands") >= 3)
        .select(
            F.col("pk").alias("part"),
            "n_demands",
            "first_day",
            "last_day",
            F.round(F.expr("st[0]"), 4).alias("level_z"),
            F.round(F.expr("st[1]"), 4).alias("interval_p"),
            F.round(F.expr("st[0] / st[1]"), 4).alias("forecast_per_day"),
        )
        .orderBy("part")
    )


@query(
    "abc_xyz_classification",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand AS brand,
             CAST(round(sum(l.l_extendedprice * (1 - l.l_discount))
               * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ), wk AS (
      SELECT p.p_brand AS brand,
             CAST(floor(date_diff('day', DATE '1995-01-01',
               CAST(o.o_orderdate AS DATE)) / 7) AS BIGINT) AS week,
             CAST(sum(round(l.l_quantity)) AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), cv AS (
      SELECT brand, CAST(count(*) AS BIGINT) AS n_weeks,
             CAST(sum(qty) AS BIGINT) AS s1,
             CAST(sum(qty * qty) AS BIGINT) AS s2
      FROM wk GROUP BY brand
    ), ranked AS (
      SELECT r.brand, r.cents,
             sum(r.cents) OVER (ORDER BY r.cents DESC, r.brand) AS cum,
             sum(r.cents) OVER () AS tot
      FROM rev r
    )
    SELECT rk.brand,
           round(rk.cents / 100.0, 2) AS revenue,
           CAST(CAST(rk.cum AS HUGEINT) * 1000000 // rk.tot AS BIGINT)
             AS cum_share_ppm,
           CASE WHEN (rk.cum - rk.cents) * 1.0 / rk.tot < 0.8 THEN 'A'
                WHEN (rk.cum - rk.cents) * 1.0 / rk.tot < 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           round(sqrt(greatest((c.s2 - c.s1 * 1.0 * c.s1 / c.n_weeks)
                               / (c.n_weeks - 1), 0.0))
                 / (c.s1 * 1.0 / c.n_weeks), 6) AS demand_cv,
           CASE WHEN sqrt(greatest((c.s2 - c.s1 * 1.0 * c.s1 / c.n_weeks)
                                   / (c.n_weeks - 1), 0.0))
                     / (c.s1 * 1.0 / c.n_weeks) < 0.25 THEN 'X'
                WHEN sqrt(greatest((c.s2 - c.s1 * 1.0 * c.s1 / c.n_weeks)
                                   / (c.n_weeks - 1), 0.0))
                     / (c.s1 * 1.0 / c.n_weeks) < 0.5 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM ranked rk JOIN cv c ON rk.brand = c.brand
    ORDER BY rk.cents DESC, rk.brand
    """,
)
def abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory segmentation per brand: ABC from the
    revenue-sorted cumulative share (class boundary BEFORE this item's
    contribution — A until 80%, B until 95%) and XYZ from the weekly-
    demand coefficient of variation (X < 0.25, Y < 0.5, Z beyond) —
    the two-axis matrix (value × predictability) that decides which
    SKUs get safety stock, which get Croston
    (`croston_intermittent`), and which get dropped.

    Determinism: revenue in exact integer cents, weekly demand in
    exact integer units; the cumulative-share window orders by
    (cents DESC, brand); CV from exact (n, Σq, Σq²).

    Scale: two map-side-combined aggregates over broadcast-dim joins;
    the ranking window runs over the BOUNDED brand dimension (for
    unbounded SKU counts, bracket the cumulative share with the
    two-pass histogram quantile instead of a global sort — the
    `two_pass_median` pattern).
    """
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part")
    o = load(spark, sf_dir, "orders")
    rev = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr(
                "CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100)"
                " AS BIGINT)"
            ).alias("cents")
        )
    )
    wk = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.floor(order_day() / 7).cast("bigint").alias("week"),
        )
        .agg(F.sum(F.round("l_quantity")).cast("bigint").alias("qty"))
    )
    cv = wk.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum("qty").cast("bigint").alias("s1"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("s2"),
    )
    wr = Window.orderBy(F.desc("cents"), "brand")
    ranked = rev.select(
        "brand",
        "cents",
        F.sum("cents").over(wr).alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    prev_share = (F.col("cum") - F.col("cents")) * 1.0 / F.col("tot")
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n_weeks"))
            / (F.col("n_weeks") - 1),
            F.lit(0.0),
        )
    )
    cvx = sd / (F.col("s1") * 1.0 / F.col("n_weeks"))
    return (
        ranked.join(cv, "brand")
        .select(
            "brand",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            # operand widened before the *1e6: cum is cumulative CENTS and
            # overflows int64*1e6 at 10x scale (sf1 sweep crash)
            F.expr(
                "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 div tot"
                " AS BIGINT)"
            ).alias(
                "cum_share_ppm"
            ),
            F.when(prev_share < 0.8, "A")
            .when(prev_share < 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
            F.round(cvx, 6).alias("demand_cv"),
            F.when(cvx < 0.25, "X")
            .when(cvx < 0.5, "Y")
            .otherwise("Z")
            .alias("xyz_class"),
        )
        .orderBy(F.desc("revenue"), "brand")
    )


@query(
    "price_elasticity_loglog",
    oracle="""
    WITH pts AS (
      SELECT p.p_type AS ptype,
             CAST(round(ln(l.l_extendedprice / round(l.l_quantity))
               * 1000) AS BIGINT) AS xi,
             CAST(round(ln(round(l.l_quantity)) * 1000) AS BIGINT) AS yi
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE round(l.l_quantity) >= 1 AND l.l_extendedprice > 0
    ), sums AS (
      SELECT ptype, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xi) AS BIGINT) AS sx,
             CAST(sum(yi) AS BIGINT) AS sy,
             CAST(sum(xi * xi) AS BIGINT) AS sxx,
             CAST(sum(xi * yi) AS BIGINT) AS sxy,
             CAST(sum(yi * yi) AS BIGINT) AS syy
      FROM pts GROUP BY ptype
    )
    -- CAST(... AS DOUBLE), never "* 1.0": DuckDB types the bare literal
    -- as DECIMAL(2,1), so the OLS cross-products ran in DECIMAL(38) and
    -- overflowed at sf1 magnitudes (~1e19 * 7e18 > 1e38); the explicit
    -- double keeps the expression tree identical to the Spark side
    SELECT ptype, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
             AS elasticity,
           round((sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                       * sx)
                 / (n * 1000.0), 6) AS intercept_ln,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS r2
    FROM sums ORDER BY ptype
    """,
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity per part type: OLS slope of ln(quantity) on
    ln(unit price) — β < 0 means demand falls with price, |β| > 1 is
    elastic — the pricing team's first regression, with intercept and
    R². Log values quantize to exact 1e-3 integers BEFORE summing, so
    all five OLS sufficient statistics are exact int64 at any row
    count (Σx·y terms stay < 2⁶³ through ~10⁹ rows at this scaling)
    and the closed-form slope is a pure function of them.

    Determinism: integer milli-log sums; the slope/intercept/R² are
    identical double expressions on both engines.

    Scale: quantized logs are map-side expressions; one map-side-
    combined groupBy(type) carrying five integer partials — the
    single-pass sufficient-statistics shape (`closedform` OLS uses
    the same trick for multi-feature fits).
    """
    li = load(spark, sf_dir, "lineitem")
    pa = load(spark, sf_dir, "part")
    pts = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .filter(
            (F.round("l_quantity") >= 1) & (F.col("l_extendedprice") > 0)
        )
        .select(
            F.col("p_type").alias("ptype"),
            F.round(
                F.log(
                    F.col("l_extendedprice") / F.round("l_quantity")
                )
                * 1000
            )
            .cast("bigint")
            .alias("xi"),
            F.round(F.log(F.round("l_quantity")) * 1000)
            .cast("bigint")
            .alias("yi"),
        )
    )
    sums = pts.groupBy("ptype").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xi").cast("bigint").alias("sx"),
        F.sum("yi").cast("bigint").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("bigint").alias("sxy"),
        F.sum(F.col("yi") * F.col("yi")).cast("bigint").alias("syy"),
    )
    beta = (
        F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")
    ) / (F.col("n") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
    return sums.select(
        "ptype",
        "n",
        F.round(beta, 6).alias("elasticity"),
        F.round(
            (F.col("sy") - beta * F.col("sx")) / (F.col("n") * 1000.0), 6
        ).alias("intercept_ln"),
        F.round(
            (F.col("n") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy"))
            * (
                F.col("n") * 1.0 * F.col("sxy")
                - F.col("sx") * 1.0 * F.col("sy")
            )
            / (
                (
                    F.col("n") * 1.0 * F.col("sxx")
                    - F.col("sx") * 1.0 * F.col("sx")
                )
                * (
                    F.col("n") * 1.0 * F.col("syy")
                    - F.col("sy") * 1.0 * F.col("sy")
                )
            ),
            6,
        ).alias("r2"),
    ).orderBy("ptype")
