"""Auction/model-selection wave 68: GSP vs VCG and AICc polynomial
choice.

- `gsp_vs_vcg_auction` — a 3-slot position auction among the 5
  market segments (bid = exact mean order value in cents, CTR
  weights 0.5/0.3/0.2): Generalized Second Price payments
  (next-bid) against the truthful VCG externality payments
  p_k = sum over lower slots of (w_j - w_(j+1)) b_(j+1), per slot
  and in total — the classic GSP >= VCG revenue comparison made
  exact.
- `polynomial_aicc_selection` — small-sample-corrected AIC choice
  among constant / linear / quadratic trends for daily revenue on
  centered-scaled time: closed-form OLS through exact moment sums
  (quadratic via Cramer's rule on the 3x3 normal equations),
  AICc = n ln(SSE/n) + 2p + 2p(p+1)/(n-p-1), lowest degree wins
  ties.

Determinism: bids/moments come from exact int64 sums; payments and
determinants are closed forms; the degree argmin is a 3-way CASE.

Scale: both reduce the fact table in ONE pass (5 bid rows /
calendar-frame moment row); everything downstream is fixed-size
algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_CTR = (0.5, 0.3, 0.2)


@query(
    "gsp_vs_vcg_auction",
    oracle=f"""
    WITH bids AS (
      SELECT CAST(dense_rank() OVER (ORDER BY seg) AS BIGINT) AS s,
             CAST(round(sv * 100.0 / nv) AS BIGINT) AS bid_c
      FROM (
        SELECT c.c_mktsegment AS seg,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT))
                 AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS nv
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
      )
    ), ranked AS (
      SELECT s, bid_c,
             row_number() OVER (ORDER BY bid_c DESC, s) AS rk
      FROM bids
    ), wide AS (
      SELECT max(CASE WHEN rk = 1 THEN bid_c END) AS b1,
             max(CASE WHEN rk = 2 THEN bid_c END) AS b2,
             max(CASE WHEN rk = 3 THEN bid_c END) AS b3,
             max(CASE WHEN rk = 4 THEN bid_c END) AS b4,
             max(CASE WHEN rk = 1 THEN s END) AS s1,
             max(CASE WHEN rk = 2 THEN s END) AS s2,
             max(CASE WHEN rk = 3 THEN s END) AS s3
      FROM ranked
    ), slots AS (
      SELECT 1 AS slot, {_CTR[0]} AS ctr, s1 AS winner, b1 AS bid_c,
             b2 * 1.0 AS gsp_c,
             (({_CTR[0]} - {_CTR[1]}) * b2 + ({_CTR[1]} - {_CTR[2]}) * b3
              + {_CTR[2]} * b4) / {_CTR[0]} AS vcg_c
      FROM wide
      UNION ALL
      SELECT 2, {_CTR[1]}, s2, b2, b3 * 1.0,
             (({_CTR[1]} - {_CTR[2]}) * b3 + {_CTR[2]} * b4) / {_CTR[1]}
      FROM wide
      UNION ALL
      SELECT 3, {_CTR[2]}, s3, b3, b4 * 1.0,
             ({_CTR[2]} * b4) / {_CTR[2]}
      FROM wide
    )
    SELECT CAST(slot AS BIGINT) AS slot, ctr,
           CAST(winner AS BIGINT) AS winner_segment,
           CAST(bid_c AS BIGINT) AS bid_cents,
           round(gsp_c, 6) AS gsp_payment_cents,
           round(vcg_c, 6) AS vcg_payment_cents,
           round(sum(ctr * gsp_c) OVER (), 6)
             AS total_gsp_revenue,
           round(sum(ctr * vcg_c) OVER (), 6)
             AS total_vcg_revenue,
           CAST(sum(ctr * gsp_c) OVER ()
                >= sum(ctr * vcg_c) OVER () AS BOOLEAN)
             AS gsp_dominates
    FROM slots ORDER BY slot
    """,
)
def gsp_vs_vcg_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position auction (3 slots, CTRs {_CTR}) among the 5 market
    segments bidding their exact mean order value: Generalized
    Second Price charges each slot the NEXT bid (the
    Google/Overture rule), while VCG charges the externality
    p_k = sum over j >= k of (w_j - w_(j+1)) b_(j+1) / w_k —
    truthful but cheaper, and the per-slot comparison exhibits the
    Edelman-Ostrovsky-Schwarz result that GSP revenue weakly
    dominates VCG in the locally-envy-free equilibrium. The
    multi-slot upgrade of `second_price_auction_clearing` and the
    mechanism-design sibling of `reserve_price_grid`.

    Determinism: bids are exactly-rounded integer cents; rankings
    tie-break on segment; payments are closed forms rounded 6dp.

    Scale: ONE joined fact pass to 5 bid rows; the auction is
    fixed-size algebra on one wide row.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    bids = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
            .cast("bigint")
            .alias("sv"),
            F.count(F.lit(1)).cast("bigint").alias("nv"),
        )
        .select(
            F.dense_rank().over(Window.orderBy("seg")).cast("bigint").alias("s"),
            F.round(F.col("sv") * 100.0 / F.col("nv"))
            .cast("bigint")
            .alias("bid_c"),
        )
    )
    ranked = bids.select(
        "s",
        "bid_c",
        F.row_number().over(Window.orderBy(F.desc("bid_c"), "s")).alias("rk"),
    )
    wide = ranked.agg(
        *[
            F.max(F.when(F.col("rk") == k, F.col("bid_c"))).alias(f"b{k}")
            for k in range(1, 5)
        ],
        *[
            F.max(F.when(F.col("rk") == k, F.col("s"))).alias(f"s{k}")
            for k in range(1, 4)
        ],
    )
    w1, w2, w3 = _CTR
    rows = [
        wide.select(
            F.lit(1).cast("bigint").alias("slot"),
            F.lit(w1).alias("ctr"),
            F.col("s1").cast("bigint").alias("winner_segment"),
            F.col("b1").cast("bigint").alias("bid_cents"),
            (F.col("b2") * 1.0).alias("gsp_c"),
            (
                (
                    (w1 - w2) * F.col("b2")
                    + (w2 - w3) * F.col("b3")
                    + w3 * F.col("b4")
                )
                / w1
            ).alias("vcg_c"),
        ),
        wide.select(
            F.lit(2).cast("bigint").alias("slot"),
            F.lit(w2).alias("ctr"),
            F.col("s2").cast("bigint").alias("winner_segment"),
            F.col("b2").cast("bigint").alias("bid_cents"),
            (F.col("b3") * 1.0).alias("gsp_c"),
            (
                ((w2 - w3) * F.col("b3") + w3 * F.col("b4")) / w2
            ).alias("vcg_c"),
        ),
        wide.select(
            F.lit(3).cast("bigint").alias("slot"),
            F.lit(w3).alias("ctr"),
            F.col("s3").cast("bigint").alias("winner_segment"),
            F.col("b3").cast("bigint").alias("bid_cents"),
            (F.col("b4") * 1.0).alias("gsp_c"),
            ((w3 * F.col("b4")) / w3).alias("vcg_c"),
        ),
    ]
    slots = rows[0].unionByName(rows[1]).unionByName(rows[2])
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return slots.select(
        "slot",
        "ctr",
        "winner_segment",
        "bid_cents",
        F.round("gsp_c", 6).alias("gsp_payment_cents"),
        F.round("vcg_c", 6).alias("vcg_payment_cents"),
        F.round(
            F.sum(F.col("ctr") * F.col("gsp_c")).over(wall), 6
        ).alias("total_gsp_revenue"),
        F.round(
            F.sum(F.col("ctr") * F.col("vcg_c")).over(wall), 6
        ).alias("total_vcg_revenue"),
        (
            F.sum(F.col("ctr") * F.col("gsp_c")).over(wall)
            >= F.sum(F.col("ctr") * F.col("vcg_c")).over(wall)
        ).alias("gsp_dominates"),
    ).orderBy("slot")


_POLY_MOM = """
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(x * x) AS sxx,
             sum(x * x * x) AS sx3, sum(x * x * x * x) AS sx4,
             sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x * y) AS sxxy, sum(y * y) AS syy
"""


@query(
    "polynomial_aicc_selection",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS yv
      FROM daily_src GROUP BY 1
    ), scaled AS (
      SELECT (d - (SELECT (min(d) + max(d)) / 2.0 FROM daily))
               / ((SELECT (max(d) - min(d)) / 2.0 FROM daily)) AS x,
             CAST(yv AS DOUBLE) AS y
      FROM daily
    ), mom AS (
      {_POLY_MOM}
      FROM scaled
    ), fits AS (
      SELECT n,
             syy - sy * sy / n AS sse0,
             (syy - sy * sy / n)
               - pow(sxy - sx * sy / n, 2)
                 / (sxx - sx * sx / n) AS sse1,
             syy
               - (( (sxx*sx4 - sx3*sx3)*sy + (sx3*sxx - sx*sx4)*sxy
                    + (sx*sx3 - sxx*sxx)*sxxy ) * sy
                  + ( (sx3*sxx - sx*sx4)*sy + (n*sx4 - sxx*sxx)*sxy
                    + (sx*sxx - n*sx3)*sxxy ) * sxy
                  + ( (sx*sx3 - sxx*sxx)*sy + (sx*sxx - n*sx3)*sxy
                    + (n*sxx - sx*sx)*sxxy ) * sxxy)
                 / ( n*(sxx*sx4 - sx3*sx3) - sx*(sx*sx4 - sx3*sxx)
                    + sxx*(sx*sx3 - sxx*sxx) ) AS sse2
      FROM mom
    ), aic AS (
      SELECT n,
             round(sse0, 4) AS sse_deg0,
             round(sse1, 4) AS sse_deg1,
             round(sse2, 4) AS sse_deg2,
             n * ln(sse0 / n) + 2 * 2
               + 2.0 * 2 * 3 / (n - 3) AS a0,
             n * ln(sse1 / n) + 2 * 3
               + 2.0 * 3 * 4 / (n - 4) AS a1,
             n * ln(sse2 / n) + 2 * 4
               + 2.0 * 4 * 5 / (n - 5) AS a2
      FROM fits
    )
    SELECT n AS n_days, sse_deg0, sse_deg1, sse_deg2,
           round(a0, 4) AS aicc_deg0,
           round(a1, 4) AS aicc_deg1,
           round(a2, 4) AS aicc_deg2,
           CAST(CASE WHEN a0 <= a1 AND a0 <= a2 THEN 0
                WHEN a1 <= a2 THEN 1 ELSE 2 END AS BIGINT)
             AS chosen_degree
    FROM aic
    """.replace("daily_src", "orders"),
)
def polynomial_aicc_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trend model selection for daily revenue on centered-and-scaled
    time x in [-1, 1]: constant, linear, and quadratic OLS fits all
    in closed form from one moment pass (the quadratic through
    Cramer's rule on the 3x3 normal equations — scaling x keeps the
    up-to-x^4 moments conditioned), compared by the small-sample
    AICc = n ln(SSE/n) + 2p + 2p(p+1)/(n-p-1) with p counting the
    error variance; lowest degree wins ties — the
    bias-vs-overfitting gate `press_loocv_regression` (LOO) and
    `learning_curve_ridge` (data scaling) approach differently.

    Determinism: daily sums are exact int64; all moments sum smooth
    bounded terms; SSE/AICc round to 4dp (SSE is ~1e12-magnitude;
    6dp of an absolute value that size is below the cross-engine
    float floor — the DECISION compares unrounded values
    identically derived).

    Scale: ONE fact pass to the calendar frame, one moment row, and
    fixed-size determinant algebra — no iteration, no matrix
    library.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("yv")
    )
    ext = daily.agg(
        ((F.min("d") + F.max("d")) / 2.0).alias("mid"),
        ((F.max("d") - F.min("d")) / 2.0).alias("half"),
    )
    scaled = daily.crossJoin(F.broadcast(ext)).select(
        ((F.col("d") - F.col("mid")) / F.col("half")).alias("x"),
        F.col("yv").cast("double").alias("y"),
    )
    mom = scaled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("sx3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("sx4"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x") * F.col("y")).alias("sxxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    fits = mom.select(
        "n",
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("sse0"),
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            - F.pow(
                F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"), 2
            )
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("sse1"),
        F.expr(
            "syy - (((sxx*sx4 - sx3*sx3)*sy + (sx3*sxx - sx*sx4)*sxy"
            " + (sx*sx3 - sxx*sxx)*sxxy) * sy"
            " + ((sx3*sxx - sx*sx4)*sy + (n*sx4 - sxx*sxx)*sxy"
            " + (sx*sxx - n*sx3)*sxxy) * sxy"
            " + ((sx*sx3 - sxx*sxx)*sy + (sx*sxx - n*sx3)*sxy"
            " + (n*sxx - sx*sx)*sxxy) * sxxy)"
            " / (n*(sxx*sx4 - sx3*sx3) - sx*(sx*sx4 - sx3*sxx)"
            " + sxx*(sx*sx3 - sxx*sxx))"
        ).alias("sse2"),
    )
    def aicc(sse: F.Column, p: int) -> F.Column:
        return (
            F.col("n") * F.log(sse / F.col("n"))
            + 2 * p
            + 2.0 * p * (p + 1) / (F.col("n") - p - 1)
        )

    aic = fits.select(
        "n",
        F.round("sse0", 4).alias("sse_deg0"),
        F.round("sse1", 4).alias("sse_deg1"),
        F.round("sse2", 4).alias("sse_deg2"),
        aicc(F.col("sse0"), 2).alias("a0"),
        aicc(F.col("sse1"), 3).alias("a1"),
        aicc(F.col("sse2"), 4).alias("a2"),
    )
    return aic.select(
        F.col("n").alias("n_days"),
        "sse_deg0",
        "sse_deg1",
        "sse_deg2",
        F.round("a0", 4).alias("aicc_deg0"),
        F.round("a1", 4).alias("aicc_deg1"),
        F.round("a2", 4).alias("aicc_deg2"),
        F.when(
            (F.col("a0") <= F.col("a1")) & (F.col("a0") <= F.col("a2")), 0
        )
        .when(F.col("a1") <= F.col("a2"), 1)
        .otherwise(2)
        .cast("bigint")
        .alias("chosen_degree"),
    )
