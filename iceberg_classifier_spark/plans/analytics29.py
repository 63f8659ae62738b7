"""Analytics wave 29: isotonic (PAV) probability calibration and the
energy-distance two-sample test.

PAV calibration is the non-parametric recalibration map every scored
model eventually needs; the pool-adjacent-violators solution equals
the minimax formula ŷ_b = max_{i≤b} min_{j≥b} avg(i..j), which makes
the whole fit closed-form over prefix sums — no iterative pooling.
Energy distance is the modern two-sample test (zero iff the
distributions match, all moments included) and on bounded integer
values it reduces to exact histogram cross-sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.mlprep import duck_pseudo_prob, pseudo_prob
from iceberg_classifier_spark.operators.timeline import DELAY_SQL, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "pav_calibration_map",
    oracle=f"""
    WITH s AS (
      SELECT CAST(label % 2 AS BIGINT) AS y,
             least(CAST(round({duck_pseudo_prob(0)} * 1000000) AS BIGINT)
                   // 50000, 19) AS b
      FROM embeddings
    ), hist AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY b
    ), grid AS (
      SELECT g.b, coalesce(h.n, 0) AS n, coalesce(h.pos, 0) AS pos
      FROM (SELECT unnest(range(0, 20)) AS b) g
      LEFT JOIN hist h ON g.b = h.b
    ), arr AS (
      SELECT list(n ORDER BY b) AS ns, list(pos ORDER BY b) AS ps
      FROM grid
    ), pre AS (
      SELECT ns, ps,
             list_transform(range(0, 21), i ->
               CAST(list_sum(list_transform(range(0, 20), j ->
                 CASE WHEN j < i THEN ns[CAST(j + 1 AS INTEGER)]
                 ELSE 0 END)) AS BIGINT)) AS cn,
             list_transform(range(0, 21), i ->
               CAST(list_sum(list_transform(range(0, 20), j ->
                 CASE WHEN j < i THEN ps[CAST(j + 1 AS INTEGER)]
                 ELSE 0 END)) AS BIGINT)) AS cp
      FROM arr
    ), iso AS (
      SELECT g.b, g.n, g.pos,
             list_max(list_transform(range(0, CAST(g.b + 1 AS INTEGER)),
               i -> list_min(list_transform(
                 range(CAST(g.b AS INTEGER), 20), j ->
                   CASE WHEN p.cn[CAST(j + 2 AS INTEGER)]
                             - p.cn[CAST(i + 1 AS INTEGER)] = 0
                     THEN 1.0
                     ELSE (p.cp[CAST(j + 2 AS INTEGER)]
                           - p.cp[CAST(i + 1 AS INTEGER)]) * 1.0
                          / (p.cn[CAST(j + 2 AS INTEGER)]
                             - p.cn[CAST(i + 1 AS INTEGER)]) END))))
               AS iso_rate
      FROM grid g CROSS JOIN pre p
    )
    SELECT b AS score_bin, n, pos,
           CAST(CASE WHEN n = 0 THEN -1
                ELSE pos * 1000000 // n END AS BIGINT) AS raw_rate_ppm,
           CAST(round(iso_rate * 1000000) AS BIGINT) AS iso_rate_ppm
    FROM iso ORDER BY score_bin
    """,
)
def pav_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the pseudo-prob scores over 20
    score bins: the fitted monotone rate uses the minimax identity
    ŷ_b = max_{{i≤b}} min_{{j≥b}} (pos_{{i..j}}/n_{{i..j}}) over prefix
    sums — exactly the pool-adjacent-violators solution, with no
    iterative pooling to express — next to the raw per-bin rate it
    corrects. The recalibration map `calibration_reliability_bins`
    diagnoses the need for, fitted in closed form (the time-series
    sibling is `isotonic_regression_daily`).

    Determinism: bin counts and prefix sums are exact integers; each
    minimax cell is one integer-ratio double; empty segments fall
    back to 1.0 inside min (neutral).

    Scale: one map-side-combined bin groupBy; the minimax scan is
    bins³ ≤ 8000 bounded operations on the 20-bin frame.
    """
    s = load(spark, sf_dir, "embeddings").select(
        (F.col("label") % 2).cast("bigint").alias("y"),
        F.round(pseudo_prob(0) * 1000000).cast("bigint").alias("p6"),
    ).select(
        "y",
        F.least(F.expr("p6 div 50000"), F.lit(19).cast("bigint")).alias(
            "b"
        ),
    )
    hist = s.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    grid = (
        spark.range(0, 20)
        .select(F.col("id").cast("bigint").alias("b"))
        .join(hist, "b", "left")
        .select(
            "b",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.coalesce("pos", F.lit(0)).cast("bigint").alias("pos"),
        )
    )
    arr = grid.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(b, n))), s -> s.n)"
        ).alias("ns"),
        F.expr(
            "transform(array_sort(collect_list(struct(b, pos))),"
            " s -> s.pos)"
        ).alias("ps"),
    )
    pre = arr.select(
        F.expr(
            """
            transform(sequence(0, 20), i ->
              aggregate(sequence(0, 19), CAST(0 AS BIGINT),
                (a, j) -> a + IF(j < i, ns[j], CAST(0 AS BIGINT))))
            """
        ).alias("cn"),
        F.expr(
            """
            transform(sequence(0, 20), i ->
              aggregate(sequence(0, 19), CAST(0 AS BIGINT),
                (a, j) -> a + IF(j < i, ps[j], CAST(0 AS BIGINT))))
            """
        ).alias("cp"),
    )
    iso = grid.crossJoin(F.broadcast(pre)).select(
        "b",
        "n",
        "pos",
        F.expr(
            """
            array_max(transform(sequence(0, CAST(b AS INT)), i ->
              array_min(transform(sequence(CAST(b AS INT), 19), j ->
                IF(cn[j + 1] - cn[i] = 0, CAST(1.0 AS DOUBLE),
                   (cp[j + 1] - cp[i]) * 1.0 / (cn[j + 1] - cn[i]))))))
            """
        ).alias("iso_rate"),
    )
    return iso.select(
        F.col("b").alias("score_bin"),
        "n",
        "pos",
        F.expr(
            "CAST(CASE WHEN n = 0 THEN -1 ELSE pos * 1000000 div n END"
            " AS BIGINT)"
        ).alias("raw_rate_ppm"),
        F.round(F.col("iso_rate") * 1000000)
        .cast("bigint")
        .alias("iso_rate_ppm"),
    ).orderBy("score_bin")


@query(
    "energy_distance_test",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS g, {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hx AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs WHERE g = 1
      GROUP BY t
    ), hy AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c FROM obs WHERE g = 0
      GROUP BY t
    ), nx AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hx),
    ny AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hy),
    exy AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(a.c * 1.0 * b.c * abs(a.t - b.t)
                    ORDER BY a.t, b.t)), (x, y) -> x + y) AS s
      FROM hx a CROSS JOIN hy b
    ), exx AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(a.c * 1.0 * b.c * abs(a.t - b.t)
                    ORDER BY a.t, b.t)), (x, y) -> x + y) AS s
      FROM hx a CROSS JOIN hx b
    ), eyy AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(a.c * 1.0 * b.c * abs(a.t - b.t)
                    ORDER BY a.t, b.t)), (x, y) -> x + y) AS s
      FROM hy a CROSS JOIN hy b
    )
    SELECT nx.n AS n_urgent, ny.n AS n_other,
           round(2.0 * exy.s / (nx.n * 1.0 * ny.n)
                 - exx.s / (nx.n * 1.0 * nx.n)
                 - eyy.s / (ny.n * 1.0 * ny.n), 6) AS energy_distance,
           round((nx.n * 1.0 * ny.n / (nx.n + ny.n))
                 * (2.0 * exy.s / (nx.n * 1.0 * ny.n)
                    - exx.s / (nx.n * 1.0 * nx.n)
                    - eyy.s / (ny.n * 1.0 * ny.n)), 6) AS test_statistic
    FROM nx, ny, exy, exx, eyy
    """,
)
def energy_distance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-distance two-sample test between urgent and non-urgent
    ship-delay distributions: D = 2E|X−Y| − E|X−X'| − E|Y−Y'|,
    computed EXACTLY from the two bounded value histograms (each
    expectation is a 61×61 weighted cross-sum — never an n² sample
    pass) with the Székely-Rizzo statistic (n_x n_y/(n_x+n_y))·D —
    zero iff the distributions are identical in EVERY moment, the
    property that makes energy distance the modern alternative to KS
    (`ks_two_sample` sees only the max CDF gap; energy integrates all
    of them).

    Determinism: histogram counts and |a−b| are exact integers; the
    three cross-sums fold the bounded grids in (a, b) order as
    doubles (counts² × 60 overflows int64 at 10⁹ rows — doubles are
    engine-identical here).

    Scale: one map-side-combined groupBy((group, value)); the three
    cross-joins are bounded histogram×histogram grids.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g"),
        ship_delay().alias("t"),
    )
    hx = (
        obs.filter(F.col("g") == 1)
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    hy = (
        obs.filter(F.col("g") == 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )

    def cross_sum(ha: DataFrame, hb: DataFrame) -> DataFrame:
        a = ha.select(
            F.col("t").alias("ta"), F.col("c").alias("ca")
        )
        b = hb.select(
            F.col("t").alias("tb"), F.col("c").alias("cb")
        )
        return a.crossJoin(F.broadcast(b)).agg(
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(ta, tb,
                    ca * 1.0 * cb * abs(ta - tb) AS vv))), s -> s.vv),
                  CAST(0.0 AS DOUBLE), (x, y) -> x + y)
                """
            ).alias("s")
        )

    nx = hx.agg(F.sum("c").cast("bigint").alias("n"))
    ny = hy.agg(F.sum("c").cast("bigint").alias("n"))
    exy = cross_sum(hx, hy).select(F.col("s").alias("sxy"))
    exx = cross_sum(hx, hx).select(F.col("s").alias("sxx"))
    eyy = cross_sum(hy, hy).select(F.col("s").alias("syy"))
    joined = (
        nx.select(F.col("n").alias("nx"))
        .crossJoin(F.broadcast(ny.select(F.col("n").alias("ny"))))
        .crossJoin(F.broadcast(exy))
        .crossJoin(F.broadcast(exx))
        .crossJoin(F.broadcast(eyy))
    )
    d = (
        2.0 * F.col("sxy") / (F.col("nx") * 1.0 * F.col("ny"))
        - F.col("sxx") / (F.col("nx") * 1.0 * F.col("nx"))
        - F.col("syy") / (F.col("ny") * 1.0 * F.col("ny"))
    )
    return joined.select(
        F.col("nx").alias("n_urgent"),
        F.col("ny").alias("n_other"),
        F.round(d, 6).alias("energy_distance"),
        F.round(
            (F.col("nx") * 1.0 * F.col("ny") / (F.col("nx") + F.col("ny")))
            * d,
            6,
        ).alias("test_statistic"),
    )
