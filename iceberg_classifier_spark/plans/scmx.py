"""Causal/social-choice wave 64: synthetic control and Kemeny
aggregation.

- `synthetic_control_grid` — Abadie-style synthetic control for the
  first customer segment: donor weights from the 4 remaining
  segments chosen by exhaustive simplex-grid search (step 1/20,
  1771 candidates) minimizing pre-period (18 months) MSE against
  the monthly revenue series, then the post-period (6 months)
  treated-minus-synthetic gap — compared with the naive
  equal-weight donor mean.
- `kemeny_rank_aggregation` — aggregate the ~2.4k daily rankings of
  the 5 order priorities: exact pairwise preference matrix, Borda
  scores, and the KEMENY-OPTIMAL consensus by exhaustive
  evaluation of all 120 permutations (minimum total pairwise
  disagreement), with the Borda-vs-Kemeny agreement flag.

Determinism: monthly/daily frames and preference counts are exact
int64; grid candidates and permutations are enumerated identically;
argmins tie-break lexicographically on candidate coordinates.

Scale: both ops reduce the fact table to bounded frames in ONE pass
(5x24 month cells / 25-cell daily rank frame); the searches cross
FIXED candidate sets (1771 weights / 120 permutations) with those
bounded frames — exhaustive enumeration is the right call exactly
because the candidate space is constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_SCM_STEP = 20
_SCM_PRE = 18


@query(
    "synthetic_control_grid",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(dense_rank() OVER (ORDER BY seg) AS BIGINT) AS s,
             m, val
      FROM (
        SELECT c.c_mktsegment AS seg,
               (year(CAST(o.o_orderdate AS DATE)) - 1995) * 12
                 + month(CAST(o.o_orderdate AS DATE)) AS m,
               sum(CAST(round(o.o_totalprice) AS BIGINT)) / 1000000.0
                 AS val
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE year(CAST(o.o_orderdate AS DATE)) IN (1995, 1996)
        GROUP BY 1, 2
      )
    ), wide AS (
      SELECT m,
             max(CASE WHEN s = 1 THEN val END) AS yt,
             max(CASE WHEN s = 2 THEN val END) AS y1,
             max(CASE WHEN s = 3 THEN val END) AS y2,
             max(CASE WHEN s = 4 THEN val END) AS y3,
             max(CASE WHEN s = 5 THEN val END) AS y4
      FROM monthly GROUP BY m
    ), grid AS (
      SELECT i, j, k, {_SCM_STEP} - i - j - k AS l
      FROM generate_series(0, {_SCM_STEP}) t1(i)
      CROSS JOIN generate_series(0, {_SCM_STEP}) t2(j)
      CROSS JOIN generate_series(0, {_SCM_STEP}) t3(k)
      WHERE i + j + k <= {_SCM_STEP}
    ), scored AS (
      SELECT g.i, g.j, g.k, g.l,
             sum(pow(w.yt - (g.i * w.y1 + g.j * w.y2 + g.k * w.y3
                 + g.l * w.y4) / {_SCM_STEP}.0, 2)) AS sse
      FROM grid g CROSS JOIN wide w
      WHERE w.m <= {_SCM_PRE}
      GROUP BY 1, 2, 3, 4
    ), best AS (
      SELECT i, j, k, l, sse FROM scored
      ORDER BY sse, i, j, k LIMIT 1
    ), post AS (
      SELECT avg(w.yt - (b.i * w.y1 + b.j * w.y2 + b.k * w.y3
               + b.l * w.y4) / {_SCM_STEP}.0) AS gap,
             avg(w.yt - (w.y1 + w.y2 + w.y3 + w.y4) / 4.0)
               AS naive_gap
      FROM wide w CROSS JOIN best b
      WHERE w.m > {_SCM_PRE}
    )
    SELECT round(b.i / {_SCM_STEP}.0, 6) AS w_donor1,
           round(b.j / {_SCM_STEP}.0, 6) AS w_donor2,
           round(b.k / {_SCM_STEP}.0, 6) AS w_donor3,
           round(b.l / {_SCM_STEP}.0, 6) AS w_donor4,
           round(sqrt(b.sse / {_SCM_PRE}), 6) AS pre_rmse,
           round(p.gap, 6) AS post_gap_monthly,
           round(p.naive_gap, 6) AS naive_gap_monthly
    FROM best b CROSS JOIN post p
    """,
)
def synthetic_control_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic control (Abadie-Diamond-Hainmueller) for the first
    market segment's monthly revenue ($M, 1995-96): donor weights
    over the other 4 segments from an exhaustive simplex grid
    (step 1/{_SCM_STEP}, 1771 candidates, weights nonnegative and
    summing to 1) minimizing the {_SCM_PRE}-month pre-period MSE,
    then the 6-month post-period treated-minus-synthetic gap — the
    estimate a weighted donor pool gives where
    `difference_in_differences`' single control would be biased by
    trend mismatch; the naive equal-weight gap is reported for
    contrast.

    Determinism: monthly values are exact integer dollars scaled to
    $M; every candidate's SSE sums identical closed-form terms over
    18 months; the argmin tie-breaks on grid coordinates.

    Scale: ONE joined fact pass to the 5x24 month matrix; the grid
    search crosses a FIXED 1771-candidate frame with 18 bounded
    rows — candidate count is independent of data volume.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    monthly = (
        o.where(F.year(F.col("o_orderdate").cast("date")).isin(1995, 1996))
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            (
                (F.year(F.col("o_orderdate").cast("date")) - 1995) * 12
                + F.month(F.col("o_orderdate").cast("date"))
            ).alias("m"),
        )
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
                / 1000000.0
            ).alias("val")
        )
        .select(
            F.dense_rank().over(Window.orderBy("seg")).cast("bigint").alias("s"),
            "m",
            "val",
        )
    )
    wide = monthly.groupBy("m").agg(
        F.max(F.when(F.col("s") == 1, F.col("val"))).alias("yt"),
        F.max(F.when(F.col("s") == 2, F.col("val"))).alias("y1"),
        F.max(F.when(F.col("s") == 3, F.col("val"))).alias("y2"),
        F.max(F.when(F.col("s") == 4, F.col("val"))).alias("y3"),
        F.max(F.when(F.col("s") == 5, F.col("val"))).alias("y4"),
    ).cache()
    ii = spark.range(0, _SCM_STEP + 1).select(F.col("id").alias("i"))
    jj = spark.range(0, _SCM_STEP + 1).select(F.col("id").alias("j"))
    kk = spark.range(0, _SCM_STEP + 1).select(F.col("id").alias("k"))
    grid = (
        ii.crossJoin(jj)
        .crossJoin(kk)
        .where(F.col("i") + F.col("j") + F.col("k") <= _SCM_STEP)
        .select(
            "i", "j", "k", (_SCM_STEP - F.col("i") - F.col("j") - F.col("k")).alias("l")
        )
    )
    synth = (
        F.col("i") * F.col("y1")
        + F.col("j") * F.col("y2")
        + F.col("k") * F.col("y3")
        + F.col("l") * F.col("y4")
    ) / float(_SCM_STEP)
    scored = (
        wide.where(F.col("m") <= _SCM_PRE)
        .crossJoin(F.broadcast(grid))
        .groupBy("i", "j", "k", "l")
        .agg(F.sum(F.pow(F.col("yt") - synth, 2)).alias("sse"))
    )
    best = scored.orderBy("sse", "i", "j", "k").limit(1)
    post = (
        wide.where(F.col("m") > _SCM_PRE)
        .crossJoin(F.broadcast(best))
        .agg(
            F.avg(F.col("yt") - synth).alias("gap"),
            F.avg(
                F.col("yt")
                - (F.col("y1") + F.col("y2") + F.col("y3") + F.col("y4"))
                / 4.0
            ).alias("naive_gap"),
        )
    )
    return best.crossJoin(F.broadcast(post)).select(
        F.round(F.col("i") / float(_SCM_STEP), 6).alias("w_donor1"),
        F.round(F.col("j") / float(_SCM_STEP), 6).alias("w_donor2"),
        F.round(F.col("k") / float(_SCM_STEP), 6).alias("w_donor3"),
        F.round(F.col("l") / float(_SCM_STEP), 6).alias("w_donor4"),
        F.round(F.sqrt(F.col("sse") / _SCM_PRE), 6).alias("pre_rmse"),
        F.round("gap", 6).alias("post_gap_monthly"),
        F.round("naive_gap", 6).alias("naive_gap_monthly"),
    )


@query(
    "kemeny_rank_aggregation",
    oracle="""
    WITH cell AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(dense_rank() OVER (ORDER BY o_orderpriority)
               AS BIGINT) AS g,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, o_orderpriority
    ), ranked AS (
      SELECT d, g,
             row_number() OVER (PARTITION BY d
               ORDER BY rev DESC, g) AS r
      FROM cell
    ), prefs AS (
      SELECT a.g AS ga, b.g AS gb,
             CAST(sum(CASE WHEN a.r < b.r THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ab
      FROM ranked a JOIN ranked b ON a.d = b.d AND a.g <> b.g
      GROUP BY 1, 2
    ), borda AS (
      SELECT g, CAST(sum(6 - r) AS BIGINT) AS score
      FROM ranked GROUP BY g
    ), borda_order AS (
      SELECT string_agg(CAST(g AS VARCHAR), '>'
               ORDER BY score DESC, g) AS borda_ranking
      FROM borda
    ), perms AS (
      SELECT p1, p2, p3, p4, p5
      FROM generate_series(1, 5) t1(p1)
      CROSS JOIN generate_series(1, 5) t2(p2)
      CROSS JOIN generate_series(1, 5) t3(p3)
      CROSS JOIN generate_series(1, 5) t4(p4)
      CROSS JOIN generate_series(1, 5) t5(p5)
      WHERE p1 <> p2 AND p1 <> p3 AND p1 <> p4 AND p1 <> p5
        AND p2 <> p3 AND p2 <> p4 AND p2 <> p5
        AND p3 <> p4 AND p3 <> p5 AND p4 <> p5
    ), costs AS (
      SELECT pm.p1, pm.p2, pm.p3, pm.p4, pm.p5,
             sum(CASE WHEN (CASE pf.ga WHEN 1 THEN pm.p1
                    WHEN 2 THEN pm.p2 WHEN 3 THEN pm.p3
                    WHEN 4 THEN pm.p4 ELSE pm.p5 END)
                  < (CASE pf.gb WHEN 1 THEN pm.p1 WHEN 2 THEN pm.p2
                    WHEN 3 THEN pm.p3 WHEN 4 THEN pm.p4
                    ELSE pm.p5 END)
                 THEN (SELECT n_ab FROM prefs q
                       WHERE q.ga = pf.gb AND q.gb = pf.ga)
                 ELSE 0 END) AS cost
      FROM perms pm CROSS JOIN prefs pf
      GROUP BY 1, 2, 3, 4, 5
    ), best AS (
      SELECT * FROM costs ORDER BY cost, p1, p2, p3, p4, p5 LIMIT 1
    ), kemeny_order AS (
      SELECT string_agg(CAST(g AS VARCHAR), '>' ORDER BY pos) AS kr,
             max(cost) AS cost
      FROM (
        SELECT 1 AS g, p1 AS pos, cost FROM best
        UNION ALL SELECT 2, p2, cost FROM best
        UNION ALL SELECT 3, p3, cost FROM best
        UNION ALL SELECT 4, p4, cost FROM best
        UNION ALL SELECT 5, p5, cost FROM best
      ) GROUP BY cost
    )
    SELECT k.kr AS kemeny_ranking,
           CAST(k.cost AS BIGINT) AS kemeny_cost,
           b.borda_ranking,
           CAST(k.kr = b.borda_ranking AS BOOLEAN) AS methods_agree,
           (SELECT CAST(count(DISTINCT d) AS BIGINT) FROM ranked)
             AS n_voter_days
    FROM kemeny_order k CROSS JOIN borda_order b
    """,
)
def kemeny_rank_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank aggregation over ~2.4k daily 'ballots' (each day ranks
    the 5 priorities by revenue): the exact pairwise preference
    matrix feeds both Borda counting (positional scores) and the
    KEMENY-OPTIMAL consensus — the permutation of the 5 priorities
    minimizing total pairwise disagreements, found by exhaustively
    costing all 120 permutations (Kemeny is NP-hard in general;
    at 5 items exhaustive IS the scalable algorithm). Emits both
    consensus rankings, the Kemeny cost, and whether the methods
    agree — the social-choice complement of `elo_rating_replay`
    (online) and `bradley_terry_strengths` (parametric).

    Determinism: ranks, preference counts, Borda scores, and
    permutation costs are exact int64; every ordering tie-breaks
    lexicographically.

    Scale: ONE fact pass to the bounded (day, priority) frame; the
    per-day pair join is 20 rows/day; the permutation search
    crosses 120 x 20 bounded rows.
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(
        order_day().alias("d"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    ).select(
        "d",
        F.dense_rank().over(Window.orderBy("pri")).cast("bigint").alias("g"),
        "rev",
    )
    ranked = cell.select(
        "d",
        "g",
        F.row_number()
        .over(Window.partitionBy("d").orderBy(F.desc("rev"), "g"))
        .alias("r"),
    ).cache()
    a, b = ranked.alias("a"), ranked.alias("b")
    prefs = (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d")) & (F.col("a.g") != F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(
            F.sum(F.when(F.col("a.r") < F.col("b.r"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ab")
        )
        .cache()
    )
    borda_order = (
        ranked.groupBy("g")
        .agg(F.sum(6 - F.col("r")).cast("bigint").alias("score"))
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                " struct((-score) AS ns, g AS g))),"
                " x -> CAST(x.g AS STRING)), '>')"
            ).alias("borda_ranking")
        )
    )
    ps = [
        spark.range(1, 6).select(F.col("id").alias(f"p{i}"))
        for i in range(1, 6)
    ]
    perms = ps[0]
    for p in ps[1:]:
        perms = perms.crossJoin(p)
    cond = None
    for x in range(1, 6):
        for y in range(x + 1, 6):
            cl = F.col(f"p{x}") != F.col(f"p{y}")
            cond = cl if cond is None else (cond & cl)
    perms = perms.where(cond)
    pos_a = (
        F.when(F.col("ga") == 1, F.col("p1"))
        .when(F.col("ga") == 2, F.col("p2"))
        .when(F.col("ga") == 3, F.col("p3"))
        .when(F.col("ga") == 4, F.col("p4"))
        .otherwise(F.col("p5"))
    )
    pos_b = (
        F.when(F.col("gb") == 1, F.col("p1"))
        .when(F.col("gb") == 2, F.col("p2"))
        .when(F.col("gb") == 3, F.col("p3"))
        .when(F.col("gb") == 4, F.col("p4"))
        .otherwise(F.col("p5"))
    )
    # disagreement: if the permutation puts a above b, it pays the
    # ballots preferring b over a — join the REVERSED preference
    rev_prefs = prefs.select(
        F.col("gb").alias("ga"), F.col("ga").alias("gb"),
        F.col("n_ab").alias("n_ba"),
    )
    costs = (
        perms.crossJoin(F.broadcast(prefs.join(rev_prefs, ["ga", "gb"])))
        .groupBy("p1", "p2", "p3", "p4", "p5")
        .agg(
            F.sum(
                F.when(pos_a < pos_b, F.col("n_ba")).otherwise(0)
            ).cast("bigint").alias("cost")
        )
    )
    best = costs.orderBy("cost", "p1", "p2", "p3", "p4", "p5").limit(1)
    struct_items = ", ".join(
        f"struct(CAST(p{i} AS BIGINT) AS pos, CAST({i} AS BIGINT) AS g)"
        for i in range(1, 6)
    )
    kemeny = best.select(
        F.expr(
            f"array_join(transform(array_sort(array({struct_items})),"
            " x -> CAST(x.g AS STRING)), '>')"
        ).alias("kemeny_ranking"),
        F.col("cost").alias("kemeny_cost"),
    )
    nv = ranked.agg(
        F.countDistinct("d").cast("bigint").alias("n_voter_days")
    )
    return (
        kemeny.crossJoin(F.broadcast(borda_order))
        .crossJoin(F.broadcast(nv))
        .select(
            "kemeny_ranking",
            "kemeny_cost",
            "borda_ranking",
            (F.col("kemeny_ranking") == F.col("borda_ranking")).alias(
                "methods_agree"
            ),
            "n_voter_days",
        )
    )
