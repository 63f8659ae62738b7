"""Feature-selection/pattern wave 47: mRMR greedy selection, SAX
motif discovery, and Tukey's HSD post-hoc comparisons.

- `mrmr_feature_selection` — minimum-Redundancy-Maximum-Relevance
  (Peng 2005) greedy selection of 3 of 4 binned lineitem features
  against the returnflag target: ONE fact pass builds the joint
  4-D+target cell frame; every mutual information (4 relevance + 6
  redundancy) and all three greedy steps run on that bounded frame.
- `sax_daily_motifs` — Symbolic Aggregate approXimation (Lin 2003)
  of the daily-revenue series: z-normalize, PAA segments of 4 days,
  4-letter alphabet at the standard normal quartile breakpoints,
  3-segment sliding words, top recurring motifs.
- `tukey_hsd_priority` — Tukey's honest significant difference over
  all 10 order-priority pairs after a one-way ANOVA: pooled
  within-group MS from exact integer moments, studentized-range q
  per pair against the 5% critical value.

Determinism: all counts/moments are exact int64; MI terms, PAA
means, and q statistics are closed-form doubles rounded 6dp;
selection/motif ties break lexicographically.

Scale: each operator is ONE fact pass, map-side combined to a
bounded frame (<=7.5k feature cells / calendar days / 5 groups);
greedy steps, sliding windows, and pair joins touch only those.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_FEATURES = ["discount", "price", "quantity", "tax"]


@query(
    "mrmr_feature_selection",
    oracle="""
    WITH cells AS (
      SELECT least(4, CAST(floor((l_quantity - 1) / 10.0) AS INT))
               AS qb,
             CAST(round(l_discount * 100) AS INT) AS db,
             least(4, CAST(floor(l_extendedprice / 20000.0) AS INT))
               AS pb,
             CAST(round(l_tax * 100) AS INT) AS tb,
             l_returnflag AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2, 3, 4, 5
    ), nn AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
    fy AS (
      SELECT 'quantity' AS f, qb AS b, y, CAST(sum(n) AS BIGINT) AS n
        FROM cells GROUP BY 2, 3
      UNION ALL
      SELECT 'discount', db, y, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 2, 3
      UNION ALL
      SELECT 'price', pb, y, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 2, 3
      UNION ALL
      SELECT 'tax', tb, y, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 2, 3
    ), rel AS (
      SELECT f, sum((n * 1.0 / nt)
               * ln(n * 1.0 * nt / (nf * 1.0 * ny))) AS r
      FROM (
        SELECT f, b, y, n, nt,
               sum(n) OVER (PARTITION BY f, b) AS nf,
               sum(n) OVER (PARTITION BY f, y) AS ny
        FROM fy CROSS JOIN nn
      ) GROUP BY f
    ), ff AS (
      SELECT 'discount' AS f1, 'price' AS f2, db AS b1, pb AS b2,
             CAST(sum(n) AS BIGINT) AS n FROM cells GROUP BY 3, 4
      UNION ALL
      SELECT 'discount', 'quantity', db, qb, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 3, 4
      UNION ALL
      SELECT 'discount', 'tax', db, tb, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 3, 4
      UNION ALL
      SELECT 'price', 'quantity', pb, qb, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 3, 4
      UNION ALL
      SELECT 'price', 'tax', pb, tb, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 3, 4
      UNION ALL
      SELECT 'quantity', 'tax', qb, tb, CAST(sum(n) AS BIGINT)
        FROM cells GROUP BY 3, 4
    ), red0 AS (
      SELECT f1, f2, sum((n * 1.0 / nt)
               * ln(n * 1.0 * nt / (n1 * 1.0 * n2))) AS m
      FROM (
        SELECT f1, f2, b1, b2, n, nt,
               sum(n) OVER (PARTITION BY f1, f2, b1) AS n1,
               sum(n) OVER (PARTITION BY f1, f2, b2) AS n2
        FROM ff CROSS JOIN nn
      ) GROUP BY f1, f2
    ), red AS (
      SELECT f1, f2, m FROM red0
      UNION ALL
      SELECT f2, f1, m FROM red0
    ), s1 AS (
      SELECT f, r FROM rel ORDER BY r DESC, f LIMIT 1
    ), c2 AS (
      SELECT rel.f, rel.r, d.m AS red, rel.r - d.m AS score
      FROM rel JOIN red d
        ON d.f1 = rel.f AND d.f2 = (SELECT f FROM s1)
      WHERE rel.f <> (SELECT f FROM s1)
    ), s2 AS (
      SELECT f, r, red, score FROM c2 ORDER BY score DESC, f LIMIT 1
    ), c3 AS (
      SELECT rel.f, rel.r, (d1.m + d2.m) / 2.0 AS red,
             rel.r - (d1.m + d2.m) / 2.0 AS score
      FROM rel
      JOIN red d1 ON d1.f1 = rel.f AND d1.f2 = (SELECT f FROM s1)
      JOIN red d2 ON d2.f1 = rel.f AND d2.f2 = (SELECT f FROM s2)
      WHERE rel.f NOT IN ((SELECT f FROM s1), (SELECT f FROM s2))
    ), s3 AS (
      SELECT f, r, red, score FROM c3 ORDER BY score DESC, f LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS step, f AS feature,
           round(r, 6) AS relevance, round(0.0, 6) AS redundancy,
           round(r, 6) AS score
    FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), f, round(r, 6), round(red, 6),
           round(score, 6) FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), f, round(r, 6), round(red, 6),
           round(score, 6) FROM s3
    ORDER BY step
    """,
)
def mrmr_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mRMR greedy feature selection (Peng et al. 2005, MID variant)
    of 3 of 4 binned lineitem features against the returnflag
    target: step 1 takes the max-relevance feature (MI with the
    target), later steps maximize relevance minus the MEAN mutual
    information with already-selected features. All 10 MIs derive
    from ONE joint 4-feature+target cell frame — the selection
    itself is three ORDER BY/LIMIT steps on a 4-row score frame.
    The multivariate complement of `mutual_info_events` (one pair)
    and `woe_iv_binning` (per-feature monotone strength).

    Determinism: the cell frame is exact int64 counts; every MI is
    a sum of smooth ln terms over bounded cells rounded 6dp; greedy
    ties break on feature name.

    Scale: ONE fact scan with map-side combine into <=7.5k cells
    (5*11*5*9*3 bins); relevance/redundancy marginals, MI sums, and
    the greedy argmax all run on that bounded frame — adding rows
    never grows any post-scan stage.
    """
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.least(F.lit(4), F.floor((F.col("l_quantity") - 1) / 10.0))
        .cast("int")
        .alias("qb"),
        F.round(F.col("l_discount") * 100).cast("int").alias("db"),
        F.least(F.lit(4), F.floor(F.col("l_extendedprice") / 20000.0))
        .cast("int")
        .alias("pb"),
        F.round(F.col("l_tax") * 100).cast("int").alias("tb"),
        F.col("l_returnflag").alias("y"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nn = cells.agg(F.sum("n").cast("bigint").alias("nt"))

    bcol = {"quantity": "qb", "discount": "db", "price": "pb", "tax": "tb"}

    def fy_part(f: str) -> DataFrame:
        return (
            cells.groupBy(F.col(bcol[f]).alias("b"), "y")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .select(F.lit(f).alias("f"), "b", "y", "n")
        )

    fy = reduce(DataFrame.unionByName, [fy_part(f) for f in _FEATURES])
    rel = (
        fy.crossJoin(F.broadcast(nn))
        .select(
            "f",
            "n",
            "nt",
            F.sum("n").over(Window.partitionBy("f", "b")).alias("nf"),
            F.sum("n").over(Window.partitionBy("f", "y")).alias("ny"),
        )
        .groupBy("f")
        .agg(
            F.sum(
                (F.col("n") * 1.0 / F.col("nt"))
                * F.log(
                    F.col("n")
                    * 1.0
                    * F.col("nt")
                    / (F.col("nf") * 1.0 * F.col("ny"))
                )
            ).alias("r")
        )
    )

    def ff_part(f1: str, f2: str) -> DataFrame:
        return (
            cells.groupBy(
                F.col(bcol[f1]).alias("b1"), F.col(bcol[f2]).alias("b2")
            )
            .agg(F.sum("n").cast("bigint").alias("n"))
            .select(F.lit(f1).alias("f1"), F.lit(f2).alias("f2"), "b1", "b2", "n")
        )

    pairs = [
        (f1, f2)
        for i, f1 in enumerate(_FEATURES)
        for f2 in _FEATURES[i + 1 :]
    ]
    ff = reduce(DataFrame.unionByName, [ff_part(a, b) for a, b in pairs])
    red0 = (
        ff.crossJoin(F.broadcast(nn))
        .select(
            "f1",
            "f2",
            "n",
            "nt",
            F.sum("n").over(Window.partitionBy("f1", "f2", "b1")).alias("n1"),
            F.sum("n").over(Window.partitionBy("f1", "f2", "b2")).alias("n2"),
        )
        .groupBy("f1", "f2")
        .agg(
            F.sum(
                (F.col("n") * 1.0 / F.col("nt"))
                * F.log(
                    F.col("n")
                    * 1.0
                    * F.col("nt")
                    / (F.col("n1") * 1.0 * F.col("n2"))
                )
            ).alias("m")
        )
    )
    red = red0.unionByName(
        red0.select(
            F.col("f2").alias("f1"), F.col("f1").alias("f2"), "m"
        )
    )

    s1 = rel.orderBy(F.desc("r"), "f").limit(1)
    c2 = (
        rel.join(F.broadcast(s1.select(F.col("f").alias("sel1"))))
        .where(F.col("f") != F.col("sel1"))
        .join(
            red.withColumnRenamed("f1", "f").withColumnRenamed("f2", "sel1"),
            ["f", "sel1"],
        )
        .select("f", "r", F.col("m").alias("red"), (F.col("r") - F.col("m")).alias("score"))
    )
    s2 = c2.orderBy(F.desc("score"), "f").limit(1)
    c3 = (
        rel.join(F.broadcast(s1.select(F.col("f").alias("sel1"))))
        .join(F.broadcast(s2.select(F.col("f").alias("sel2"))))
        .where((F.col("f") != F.col("sel1")) & (F.col("f") != F.col("sel2")))
        .join(
            red.withColumnRenamed("f1", "f")
            .withColumnRenamed("f2", "sel1")
            .withColumnRenamed("m", "m1"),
            ["f", "sel1"],
        )
        .join(
            red.withColumnRenamed("f1", "f")
            .withColumnRenamed("f2", "sel2")
            .withColumnRenamed("m", "m2"),
            ["f", "sel2"],
        )
        .select(
            "f",
            "r",
            ((F.col("m1") + F.col("m2")) / 2.0).alias("red"),
            (F.col("r") - (F.col("m1") + F.col("m2")) / 2.0).alias("score"),
        )
    )
    s3 = c3.orderBy(F.desc("score"), "f").limit(1)
    out1 = s1.select(
        F.lit(1).cast("bigint").alias("step"),
        F.col("f").alias("feature"),
        F.round("r", 6).alias("relevance"),
        F.round(F.lit(0.0), 6).alias("redundancy"),
        F.round("r", 6).alias("score"),
    )

    def out(step: int, s: DataFrame) -> DataFrame:
        return s.select(
            F.lit(step).cast("bigint").alias("step"),
            F.col("f").alias("feature"),
            F.round("r", 6).alias("relevance"),
            F.round("red", 6).alias("redundancy"),
            F.round("score", 6).alias("score"),
        )

    return out1.unionByName(out(2, s2)).unionByName(out(3, s3)).orderBy(
        "step"
    )


@query(
    "sax_daily_motifs",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS s2
      FROM daily
    ), zd AS (
      SELECT CAST(floor((row_number() OVER (ORDER BY d) - 1) / 4.0)
               AS BIGINT) AS s,
             (y - m.s1 * 1.0 / m.n)
               / sqrt((m.s2 - m.s1 * 1.0 / m.n * m.s1)
                      / (m.n - 1)) AS z
      FROM daily CROSS JOIN mom m
    ), seg AS (
      SELECT s, avg(z) AS paa, CAST(count(*) AS BIGINT) AS cnt
      FROM zd GROUP BY 1 HAVING count(*) = 4
    ), sym AS (
      SELECT s,
             CASE WHEN paa < -0.6745 THEN 'a'
                  WHEN paa < 0 THEN 'b'
                  WHEN paa < 0.6745 THEN 'c'
                  ELSE 'd' END AS c
      FROM seg
    ), words AS (
      SELECT s,
             c || lead(c, 1) OVER (ORDER BY s)
               || lead(c, 2) OVER (ORDER BY s) AS w,
             lead(s, 2) OVER (ORDER BY s) - s AS span
      FROM sym
      QUALIFY w IS NOT NULL AND span = 2
    )
    SELECT w AS word, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM words GROUP BY w
    ORDER BY n_occurrences DESC, word LIMIT 10
    """,
)
def sax_daily_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery over the daily-revenue series: z-normalize
    the bounded day frame, Piecewise Aggregate Approximation into
    4-day segments, discretize at the standard-normal quartile
    breakpoints (-0.6745, 0, 0.6745) into an a-d alphabet, slide a
    3-segment window into words, and report the 10 most recurring
    motifs. The symbolic-pattern complement of `dtw_event_series`
    (elastic distance) and `acf_daily_counts` (linear memory).

    Determinism: daily sums and moments are exact int64; PAA means
    and breakpoint comparisons are identical closed-form doubles;
    word assembly and the top-10 break ties lexicographically.

    Scale: ONE fact pass to the calendar frame; segmentation,
    symbolization, and the sliding word window all run on <=600
    segment rows (documented bounded window); the motif count is a
    tiny group-by.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        # y*y crosses int64 at 10x scale (sf1 sweep crash) — widen the
        # operand, then one identical exact->double conversion per engine
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("s2"),
    )
    z = (F.col("y") - F.col("s1") * 1.0 / F.col("n")) / F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 / F.col("n") * F.col("s1"))
        / (F.col("n") - 1)
    )
    seg = (
        daily.crossJoin(F.broadcast(mom))
        .select(
            F.floor(
                (F.row_number().over(Window.orderBy("d")) - 1) / 4.0
            )
            .cast("bigint")
            .alias("s"),
            z.alias("z"),
        )
        .groupBy("s")
        .agg(F.avg("z").alias("paa"), F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == 4)
    )
    sym = seg.select(
        "s",
        F.when(F.col("paa") < -0.6745, "a")
        .when(F.col("paa") < 0, "b")
        .when(F.col("paa") < 0.6745, "c")
        .otherwise("d")
        .alias("c"),
    )
    wlead = Window.orderBy("s")
    words = sym.select(
        "s",
        F.concat(
            F.col("c"), F.lead("c", 1).over(wlead), F.lead("c", 2).over(wlead)
        ).alias("w"),
        (F.lead("s", 2).over(wlead) - F.col("s")).alias("span"),
    ).where(F.col("w").isNotNull() & (F.col("span") == 2))
    return (
        words.groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "word")
        .limit(10)
    )


@query(
    "tukey_hsd_priority",
    oracle="""
    WITH grp AS (
      SELECT o_orderpriority AS g,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS s1,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)
                      * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS s2
      FROM orders GROUP BY 1
    ), msw AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(count(*) AS BIGINT) AS k,
             sum(s2 - s1 * 1.0 / n * s1)
               / (sum(n) - count(*)) AS ms_within
      FROM grp
    )
    SELECT a.g AS group_1, b.g AS group_2,
           round(a.s1 * 1.0 / a.n - b.s1 * 1.0 / b.n, 6) AS mean_diff,
           round(abs(a.s1 * 1.0 / a.n - b.s1 * 1.0 / b.n)
                 / sqrt(m.ms_within / 2.0
                        * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat,
           CAST(abs(a.s1 * 1.0 / a.n - b.s1 * 1.0 / b.n)
                / sqrt(m.ms_within / 2.0 * (1.0 / a.n + 1.0 / b.n))
                > 3.858 AS BOOLEAN) AS significant_5pct
    FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN msw m
    ORDER BY group_1, group_2
    """,
)
def tukey_hsd_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's honest-significant-difference post-hoc test over all
    10 order-priority pairs: pooled within-group mean square from
    exact integer group moments, studentized-range statistic
    q = |m_i - m_j| / sqrt(MSW/2 (1/n_i + 1/n_j)) per pair, decided
    against the q(5, inf) 5% critical value 3.858. The
    which-pairs-differ follow-up to `anova_oneway_priority`
    (omnibus) that controls the family-wise error rate — unlike 10
    raw `welch_ttest_priority` comparisons.

    Determinism: all group moments are exact int64; MSW and q are
    closed-form doubles rounded 6dp.

    Scale: ONE fact pass with map-side combine to 5 group-moment
    rows; the pair join is 10 broadcast rows.
    """
    o = load(spark, sf_dir, "orders")
    v = F.round(F.col("o_totalprice")).cast("bigint")
    grp = o.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("bigint").alias("s1"),
        F.sum(v * v).cast("bigint").alias("s2"),
    )
    msw = grp.agg(
        (
            F.sum(F.col("s2") - F.col("s1") * 1.0 / F.col("n") * F.col("s1"))
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("ms_within")
    )
    a = grp.alias("a")
    b = grp.alias("b")
    diff = F.col("a.s1") * 1.0 / F.col("a.n") - F.col("b.s1") * 1.0 / F.col(
        "b.n"
    )
    q = F.abs(diff) / F.sqrt(
        F.col("ms_within") / 2.0 * (1.0 / F.col("a.n") + 1.0 / F.col("b.n"))
    )
    return (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("a.g").alias("group_1"),
            F.col("b.g").alias("group_2"),
            F.round(diff, 6).alias("mean_diff"),
            F.round(q, 6).alias("q_stat"),
            (q > 3.858).alias("significant_5pct"),
        )
        .orderBy("group_1", "group_2")
    )
