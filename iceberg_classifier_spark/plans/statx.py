"""Stats wave 44: inequality indices, distributional normality,
median-based k-sample testing, and measurement reliability.

- `inequality_indices` — exact Gini, Theil-T, and Atkinson(1)
  inequality of order values from a whole-dollar histogram: one fact
  pass to a bounded value-cell frame, prefix sums give the exact
  mean-absolute-difference Gini without an O(n^2) pair join.
- `anderson_darling_normality` — Anderson-Darling normality test of
  the daily-revenue distribution over the bounded calendar frame
  (logistic normal-CDF approximation shared verbatim by both
  engines, small-sample adjusted statistic + 5% decision).
- `mood_median_test` — Mood's k-sample median test of order value by
  order priority: exact histogram grand median, above/below counts
  per group, chi-square with k-1 df.
- `cronbach_alpha_embeddings` — Cronbach's alpha internal-consistency
  reliability treating the first 8 embedding dimensions as test
  items (exact 1e-4-quantized moment sums, population variances).

Determinism: all moment/count sums are exact int64 (dollar cells,
1e-4 embedding units); doubles appear only in final closed-form
expressions rounded 6dp; windows run on bounded frames only.

Scale: each operator is ONE fact pass with map-side combine down to
a bounded frame (dollar cells <= price range, calendar days, 5
priority groups, 8 items); every window/prefix sum runs on those
bounded frames, never on raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "inequality_indices",
    oracle="""
    WITH hist AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) AS val,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), pre AS (
      SELECT val, n,
             COALESCE(CAST(sum(n) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cnt_lt,
             COALESCE(CAST(sum(n * val) OVER (ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS sum_lt
      FROM hist
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n * val) AS BIGINT) AS ss,
             -- sum stays HUGEINT: |sumabs| ~ N^2 * mean|dx| passed 2^63
             -- at the sf10-organic decade (15M orders); the INNER factor
             -- is widened first so the per-cell product never computes
             -- in BIGINT (val*cnt_lt alone nears 2^63 a decade later)
             sum(2 * n * (CAST(val AS HUGEINT) * cnt_lt - sum_lt)) AS sumabs,
             sum(n * val * ln(CAST(val AS DOUBLE))) AS sum_xlnx,
             sum(n * ln(CAST(val AS DOUBLE))) AS sum_ln
      FROM pre
    )
    SELECT nn AS n_orders,
           round(ss * 1.0 / nn, 6) AS mean_dollars,
           round(CAST(sumabs AS DOUBLE)
                 / (2.0 * CAST(nn AS DOUBLE) * CAST(ss AS DOUBLE)), 6)
             AS gini,
           round(sum_xlnx / ss - ln(ss * 1.0 / nn), 6) AS theil_t,
           round(1.0 - exp(sum_ln / nn) / (ss * 1.0 / nn), 6)
             AS atkinson_1
    FROM tot
    """,
)
def inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inequality indices of the order-value distribution from a
    whole-dollar histogram: Gini via the sorted-prefix-sum identity
    (sum_i sum_j |x_i - x_j| = 2 * sum_c n_c (x_c * cnt_lt - sum_lt),
    so the classic O(n^2) mean-absolute-difference collapses to one
    ordered pass over value cells), Theil-T entropy index
    mean((x/mu) ln(x/mu)), and Atkinson(epsilon=1) =
    1 - geomean(x)/mu. The three standard concentration measures
    next to `pareto_revenue_share` (top-share) and
    `market_concentration_hhi` (sum-of-squares).

    Determinism: histogram counts and both prefix sums are exact
    int64; the mean-absolute-difference total |sumabs| ~ N² * mean|dx|
    crossed 2^63 at the sf10-organic decade (15M orders), so that one
    sum is widened to DECIMAL(38,0), mirroring the oracle's HUGEINT —
    still exact integer arithmetic on both engines. Theil/Atkinson
    ln-terms are smooth bounded doubles rounded 6dp.

    Scale: ONE fact scan with map-side combine to the dollar-cell
    frame (bounded by the price range, not row count); the ordered
    prefix window runs over those bounded cells only — documented
    bounded single-partition window, never over raw orders.
    """
    o = load(spark, sf_dir, "orders")
    hist = o.groupBy(
        F.round(F.col("o_totalprice")).cast("bigint").alias("val")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, -1)
    pre = hist.select(
        "val",
        "n",
        F.coalesce(F.sum("n").over(w).cast("bigint"), F.lit(0)).alias(
            "cnt_lt"
        ),
        F.coalesce(
            F.sum(F.col("n") * F.col("val")).over(w).cast("bigint"), F.lit(0)
        ).alias("sum_lt"),
    )
    tot = pre.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("n") * F.col("val")).cast("bigint").alias("ss"),
        # the SUM is ~N^2 * mean|dx| ≈ 2e19 at sf10 — the r8 decade's
        # overflow class — and the per-cell product val*cnt_lt itself
        # nears 2^63 another decade out, so the INNER factor is widened
        # to DECIMAL(38,0) before any multiply (mirrors the oracle's
        # CAST(val AS HUGEINT)); still exact integer arithmetic
        F.sum(
            2
            * F.col("n")
            * (
                F.col("val").cast("decimal(38,0)") * F.col("cnt_lt")
                - F.col("sum_lt")
            )
        ).alias("sumabs"),
        F.sum(F.col("n") * F.log(F.col("val").cast("double"))).alias(
            "sum_ln"
        ),
        # Theil needs mu first; carry the exact moment pieces and finish
        # below where nn/ss are scalars
        F.sum(
            F.col("n")
            * F.col("val").cast("double")
            * F.log(F.col("val").cast("double"))
        ).alias("sum_xlnx"),
    )
    # Theil-T = (1/N) sum n*(x/mu) ln(x/mu)
    #         = (sum n*x*ln x)/(N*mu) - ln(mu)  with mu = ss/nn
    return tot.select(
        F.col("nn").alias("n_orders"),
        F.round(F.col("ss") * 1.0 / F.col("nn"), 6).alias("mean_dollars"),
        F.round(
            F.col("sumabs").cast("double")
            / (2.0 * F.col("nn").cast("double") * F.col("ss").cast("double")),
            6,
        ).alias("gini"),
        F.round(
            F.col("sum_xlnx") / (F.col("ss").cast("double"))
            - F.log(F.col("ss") * 1.0 / F.col("nn")),
            6,
        ).alias("theil_t"),
        F.round(
            1.0
            - F.exp(F.col("sum_ln") / F.col("nn"))
            / (F.col("ss") * 1.0 / F.col("nn")),
            6,
        ).alias("atkinson_1"),
    )


@query(
    "anderson_darling_normality",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM daily
    ), z AS (
      SELECT row_number() OVER (ORDER BY y, d) AS i, m.n,
             (y - m.sy * 1.0 / m.n)
               / sqrt((m.syy - m.sy * 1.0 / m.n * m.sy) / (m.n - 1))
               AS z
      FROM daily CROSS JOIN mom m
    ), cdf AS (
      SELECT i, n,
             1.0 / (1.0 + exp(-1.5976 * z * (1.0 + 0.04417 * z * z)))
               AS fz
      FROM z
    ), a2 AS (
      SELECT max(n) AS n,
             sum((2 * i - 1) * ln(fz)
                 + (2 * (n - i) + 1) * ln(1.0 - fz)) AS s
      FROM cdf
    )
    SELECT n AS n_days,
           round(-CAST(n AS DOUBLE) - s / n, 6) AS a2_stat,
           round((-CAST(n AS DOUBLE) - s / n)
                 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_adj,
           CAST((-CAST(n AS DOUBLE) - s / n)
                * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.752
             AS BOOLEAN) AS reject_5pct
    FROM a2
    """,
)
def anderson_darling_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling normality test of the daily-revenue
    distribution: standardize the bounded day frame with the sample
    mean/sd, evaluate the normal CDF via the Bowling logistic
    approximation Phi(z) ~ 1/(1+exp(-1.5976 z (1+0.04417 z^2)))
    (max abs error 1.4e-4, and — decisive here — a closed form both
    engines evaluate identically), fold the order statistics into
    A^2 = -n - (1/n) sum_i [(2i-1) ln F_i + (2(n-i)+1) ln(1-F_i)],
    and emit the Stephens small-sample adjusted statistic with the
    5% critical decision (0.752, mean/sd estimated). The EDF-vs-
    parametric complement of `jarque_bera_test` (moments) and
    `interarrival_exp_ks` (sup-distance).

    Determinism: daily sums are exact int64; mean/sd come from exact
    integer moments; the rank window breaks ties on (y, d); the
    ~2.4k logistic/ln terms are smooth doubles rounded 6dp.

    Scale: ONE fact pass to the bounded calendar frame; ranking and
    the A^2 fold run on <=2.4k rows (documented bounded window).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        # y is daily revenue DOLLARS; y*y overflows int64 at 10x scale
        # (sf1 sweep crash) — widen the operand, then one exact->double
        # conversion both engines perform on the same exact decimal
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syy"),
    )
    z = daily.crossJoin(F.broadcast(mom)).select(
        F.row_number().over(Window.orderBy("y", "d")).alias("i"),
        "n",
        (
            (F.col("y") - F.col("sy") * 1.0 / F.col("n"))
            / F.sqrt(
                (F.col("syy") - F.col("sy") * 1.0 / F.col("n") * F.col("sy"))
                / (F.col("n") - 1)
            )
        ).alias("z"),
    )
    cdf = z.select(
        "i",
        "n",
        (
            1.0
            / (
                1.0
                + F.exp(-1.5976 * F.col("z") * (1.0 + 0.04417 * F.col("z") * F.col("z")))
            )
        ).alias("fz"),
    )
    a2 = cdf.agg(
        F.max("n").alias("n"),
        F.sum(
            (2 * F.col("i") - 1) * F.log(F.col("fz"))
            + (2 * (F.col("n") - F.col("i")) + 1) * F.log(1.0 - F.col("fz"))
        ).alias("s"),
    )
    stat = -F.col("n").cast("double") - F.col("s") / F.col("n")
    adj = stat * (
        1.0 + 0.75 / F.col("n") + 2.25 / (F.col("n") * F.col("n"))
    )
    return a2.select(
        F.col("n").alias("n_days"),
        F.round(stat, 6).alias("a2_stat"),
        F.round(adj, 6).alias("a2_adj"),
        (adj > 0.752).alias("reject_5pct"),
    )


@query(
    "mood_median_test",
    oracle="""
    WITH vals AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice) AS BIGINT) AS val
      FROM orders
    ), hist AS (
      SELECT val, CAST(count(*) AS BIGINT) AS n FROM vals GROUP BY 1
    ), med AS (
      SELECT min(val) AS m FROM (
        SELECT val,
               sum(n) OVER (ORDER BY val) AS cum,
               sum(n) OVER () AS nn
        FROM hist
      ) WHERE cum >= CAST(ceil(nn / 2.0) AS BIGINT)
    ), per AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n_grp,
             CAST(sum(CASE WHEN val > (SELECT m FROM med)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      FROM vals GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_grp) AS BIGINT) AS nn,
             CAST(sum(n_above) AS BIGINT) AS aa
      FROM per
    ), contrib AS (
      SELECT p.grp, p.n_grp, p.n_above,
             round(p.n_grp * t.aa * 1.0 / t.nn, 6) AS expected_above,
             pow(p.n_above - p.n_grp * t.aa * 1.0 / t.nn, 2)
               / (p.n_grp * t.aa * 1.0 / t.nn)
             + pow((p.n_grp - p.n_above)
                   - p.n_grp * (t.nn - t.aa) * 1.0 / t.nn, 2)
               / (p.n_grp * (t.nn - t.aa) * 1.0 / t.nn) AS c2
      FROM per p CROSS JOIN tot t
    )
    SELECT grp, n_grp, n_above, expected_above,
           (SELECT m FROM med) AS median_dollars,
           round((SELECT sum(c2) FROM contrib), 6) AS chi2_total,
           (SELECT CAST(count(*) - 1 AS BIGINT) FROM per) AS df
    FROM contrib ORDER BY grp
    """,
)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's k-sample median test of order value across the 5 order
    priorities: the grand median comes exactly from the whole-dollar
    histogram (smallest value whose cumulative count reaches
    ceil(N/2)), each group contributes its above-median count, and
    the 2xk chi-square with k-1 df tests whether priorities share a
    common median. The rank-free, outlier-immune complement of
    `kruskal_wallis_priority` (rank sums) and
    `anova_oneway_priority` (means).

    Determinism: every count is exact int64; the median is an exact
    order statistic off the histogram; only the expected counts and
    chi-square are doubles, rounded 6dp.

    Scale: TWO fact passes with map-side combine (one to the bounded
    dollar-cell histogram for the median, one to the 5-group count
    frame); the cumulative window runs on the bounded cells only.
    """
    o = load(spark, sf_dir, "orders")
    vals = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("val"),
    )
    hist = vals.groupBy("val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wcum = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        hist.select(
            "val",
            F.sum("n").over(wcum).alias("cum"),
            F.sum("n").over(wall).alias("nn"),
        )
        .where(F.col("cum") >= F.ceil(F.col("nn") / 2.0).cast("bigint"))
        .agg(F.min("val").alias("m"))
    )
    per = vals.crossJoin(F.broadcast(med)).groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grp"),
        F.sum(F.when(F.col("val") > F.col("m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_above"),
        F.max("m").alias("median_dollars"),
    )
    tot = per.agg(
        F.sum("n_grp").cast("bigint").alias("nn"),
        F.sum("n_above").cast("bigint").alias("aa"),
    )
    ea = F.col("n_grp") * F.col("aa") * 1.0 / F.col("nn")
    eb = F.col("n_grp") * (F.col("nn") - F.col("aa")) * 1.0 / F.col("nn")
    contrib = per.crossJoin(F.broadcast(tot)).select(
        "grp",
        "n_grp",
        "n_above",
        "median_dollars",
        F.round(ea, 6).alias("expected_above"),
        (
            F.pow(F.col("n_above") - ea, 2) / ea
            + F.pow((F.col("n_grp") - F.col("n_above")) - eb, 2) / eb
        ).alias("c2"),
    )
    chi = contrib.agg(
        F.round(F.sum("c2"), 6).alias("chi2_total"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("df"),
    )
    return (
        contrib.drop("c2")
        .crossJoin(F.broadcast(chi))
        .select(
            "grp",
            "n_grp",
            "n_above",
            "expected_above",
            "median_dollars",
            "chi2_total",
            "df",
        )
        .orderBy("grp")
    )


_ALPHA_K = 8


@query(
    "cronbach_alpha_embeddings",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id,
             unnest(list_transform(generate_series(1, {_ALPHA_K}),
                    i -> struct_pack(i := i,
                                     x := CAST(round(CAST(embedding[i] AS DOUBLE) * 10000)
                                               AS BIGINT)))) AS p
      FROM embeddings
    ), items AS (
      SELECT vec_id, p.i AS i, p.x AS x FROM flat
    ), item_var AS (
      SELECT i,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM items GROUP BY 1
    ), per_item AS (
      SELECT i, n,
             (sxx * 1.0 / n - (sx * 1.0 / n) * (sx * 1.0 / n))
               / 100000000.0 AS v
      FROM item_var
    ), totals AS (
      SELECT vec_id, CAST(sum(x) AS BIGINT) AS t FROM items GROUP BY 1
    ), tot_var AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (sum(t * t) * 1.0 / count(*)
              - (sum(t) * 1.0 / count(*)) * (sum(t) * 1.0 / count(*)))
               / 100000000.0 AS vt
      FROM totals
    )
    SELECT t.n AS n_subjects,
           CAST({_ALPHA_K} AS BIGINT) AS k_items,
           round((SELECT sum(v) FROM per_item), 6) AS sum_item_var,
           round(t.vt, 6) AS total_var,
           round((SELECT min(v) FROM per_item), 6) AS min_item_var,
           round((SELECT max(v) FROM per_item), 6) AS max_item_var,
           round({_ALPHA_K} / ({_ALPHA_K} - 1.0)
                 * (1.0 - (SELECT sum(v) FROM per_item) / t.vt), 6)
             AS alpha
    FROM tot_var t
    """,
)
def cronbach_alpha_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability treating the
    first 8 embedding dimensions as test items over the vector store:
    alpha = k/(k-1) (1 - sum(item variances)/variance(total score)).
    The classical measurement-reliability scalar next to
    `intraclass_correlation` (rater agreement) and
    `embedding_cov_matrix` (full second moments) — near-zero alpha
    over random embedding dims is itself the expected reading and is
    value-checked exactly.

    Determinism: dims quantize to exact 1e-4 integer units, so every
    moment sum is an order-independent int64; variances are single
    closed-form divisions rounded 6dp.

    Scale: posexplode fans each vector to k=8 (dim, value) rows that
    combine map-side into 8 item-moment rows; the per-vector total
    score is a row-local array slice aggregation — two bounded
    reduction frames, no vector-vs-vector work anywhere.
    """
    e = load(spark, sf_dir, "embeddings")
    items = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).where(F.col("i0") < _ALPHA_K).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("xf").cast("double") * 10000).cast("bigint").alias("x"),
    )
    per_item = (
        items.groupBy("i")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
        .select(
            "i",
            (
                (
                    F.col("sxx") * 1.0 / F.col("n")
                    - (F.col("sx") * 1.0 / F.col("n"))
                    * (F.col("sx") * 1.0 / F.col("n"))
                )
                / 100000000.0
            ).alias("v"),
        )
    )
    iv = per_item.agg(
        F.sum("v").alias("sv"),
        F.min("v").alias("minv"),
        F.max("v").alias("maxv"),
    )
    totals = items.groupBy("vec_id").agg(
        F.sum("x").cast("bigint").alias("t")
    )
    tot_var = totals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            (
                F.sum(F.col("t") * F.col("t")) * 1.0 / F.count(F.lit(1))
                - (F.sum("t") * 1.0 / F.count(F.lit(1)))
                * (F.sum("t") * 1.0 / F.count(F.lit(1)))
            )
            / 100000000.0
        ).alias("vt"),
    )
    return tot_var.crossJoin(F.broadcast(iv)).select(
        F.col("n").alias("n_subjects"),
        F.lit(_ALPHA_K).cast("bigint").alias("k_items"),
        F.round(F.col("sv"), 6).alias("sum_item_var"),
        F.round(F.col("vt"), 6).alias("total_var"),
        F.round(F.col("minv"), 6).alias("min_item_var"),
        F.round(F.col("maxv"), 6).alias("max_item_var"),
        F.round(
            _ALPHA_K / (_ALPHA_K - 1.0) * (1.0 - F.col("sv") / F.col("vt")),
            6,
        ).alias("alpha"),
    )
