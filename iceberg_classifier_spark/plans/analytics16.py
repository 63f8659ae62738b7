"""Analytics wave 16: panel fixed-effects, competing-risks incidence,
hierarchical forecast reconciliation, and LSH parameter planning.

The within (fixed-effects) estimator is the panel-econometrics
workhorse — it absorbs every customer-level confounder a cross-
sectional OLS leaves in. The cumulative incidence function is the
correct "probability of outcome k by time t" under competing risks
(1−KM per-cause overstates it). Forecast reconciliation makes the
arm-level and total forecasts add up — the coherence problem every
hierarchy of metrics has. The LSH S-curve planner sizes (bands, rows)
for `dedup_minhash_lsh` analytically before any data pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import (
    DELAY_SQL,
    HORIZON,
    at_risk,
    delay_obs,
    raw_delay,
    ship_delay,
)
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "fixed_effects_within",
    oracle=f"""
    WITH obs AS (
      SELECT o_custkey AS grp,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS x,
             {DELAY_SQL} AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM obs GROUP BY grp
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(sx) AS BIGINT) AS sxt,
             CAST(sum(sy) AS BIGINT) AS syt,
             CAST(sum(sxy) AS BIGINT) AS sxyt,
             CAST(sum(sxx) AS BIGINT) AS sxxt,
             CAST(sum(sx * sy * 1000000 // n) AS BIGINT) AS wxy6,
             CAST(sum(sx * sx * 1000000 // n) AS BIGINT) AS wxx6,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM g
    )
    SELECT nt AS n, n_groups,
           round((nt * 1.0 * sxyt - sxt * 1.0 * syt)
                 / (nt * 1.0 * sxxt - sxt * 1.0 * sxt), 6) AS beta_pooled,
           round((sxyt - wxy6 / 1000000.0)
                 / (sxxt - wxx6 / 1000000.0), 6) AS beta_within,
           round((sxyt - wxy6 / 1000000.0)
                 / (sxxt - wxx6 / 1000000.0)
                 - (nt * 1.0 * sxyt - sxt * 1.0 * syt)
                   / (nt * 1.0 * sxxt - sxt * 1.0 * sxt), 6)
             AS confounding_shift
    FROM tot
    """,
)
def fixed_effects_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel fixed-effects (within) estimator of urgent priority on ship
    delay with CUSTOMER fixed effects: β_FE = [Σxy − Σ_g S_xS_y/n_g] /
    [Σx² − Σ_g S_x²/n_g] — demeaning within each customer absorbs every
    time-invariant customer-level confounder — reported against the
    pooled OLS slope; the gap is the confounding the panel design
    removed. Each group's cross-term S_xS_y/n_g is accumulated as the
    EXACT truncated integer (×10⁶ `div` n) so the sum over millions of
    customers is engine-identical int64 (never a shuffle-order float
    accumulation), with a bounded 1e-6 relative quantization.

    Determinism: all sufficient statistics are exact int64; the two
    estimates are closed-form doubles.

    Scale: one map-side-combined groupBy(customer) carrying five
    integer partials, one integer re-aggregate — no per-row demeaned
    residuals ever materialize (the naive two-pass demeaning shuffles
    the fact table twice; this shape touches it once).
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("grp"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("x"),
        ship_delay().cast("bigint").alias("y"),
    )
    g = obs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sx").cast("bigint").alias("sxt"),
        F.sum("sy").cast("bigint").alias("syt"),
        F.sum("sxy").cast("bigint").alias("sxyt"),
        F.sum("sxx").cast("bigint").alias("sxxt"),
        F.sum(F.expr("sx * sy * 1000000 div n"))
        .cast("bigint")
        .alias("wxy6"),
        F.sum(F.expr("sx * sx * 1000000 div n"))
        .cast("bigint")
        .alias("wxx6"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    )
    beta_pooled = (
        F.col("nt") * 1.0 * F.col("sxyt") - F.col("sxt") * 1.0 * F.col("syt")
    ) / (
        F.col("nt") * 1.0 * F.col("sxxt") - F.col("sxt") * 1.0 * F.col("sxt")
    )
    beta_within = (F.col("sxyt") - F.col("wxy6") / 1000000.0) / (
        F.col("sxxt") - F.col("wxx6") / 1000000.0
    )
    return tot.select(
        F.col("nt").alias("n"),
        "n_groups",
        F.round(beta_pooled, 6).alias("beta_pooled"),
        F.round(beta_within, 6).alias("beta_within"),
        F.round(beta_within - beta_pooled, 6).alias("confounding_shift"),
    )


@query(
    "competing_risks_cif",
    oracle=f"""
    WITH obs AS (
      SELECT {DELAY_SQL} AS t,
             CASE WHEN greatest(datediff('day', o_orderdate, l_shipdate),
                                0) >= 60 THEN 0
                  WHEN l_returnflag = 'R' THEN 1 ELSE 2 END AS ev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), byt AS (
      SELECT t,
             CAST(sum(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(sum(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS d2,
             CAST(count(*) AS BIGINT) AS all_c
      FROM obs GROUP BY t
    ), risk AS (
      SELECT t, d1, d2, d1 + d2 AS d,
             CAST(sum(all_c) OVER ()
               - coalesce(sum(all_c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM byt
    ), surv AS (
      SELECT t, d1, d2, d, n_risk,
             coalesce(exp(sum(CASE WHEN d = n_risk THEN NULL
                          ELSE ln(1 - d * 1.0 / n_risk) END)
                      OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)), 1.0) AS s_prev
      FROM risk
    )
    SELECT t, n_risk, d1 AS d_returned, d2 AS d_kept,
           round(sum(s_prev * d1 / n_risk) OVER (ORDER BY t), 6)
             AS cif_returned,
           round(sum(s_prev * d2 / n_risk) OVER (ORDER BY t), 6)
             AS cif_kept,
           round(1.0 - sum(s_prev * d1 / n_risk) OVER (ORDER BY t)
                 - sum(s_prev * d2 / n_risk) OVER (ORDER BY t), 6)
             AS s_eventfree
    FROM surv ORDER BY t
    """,
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competing-risks cumulative incidence (Aalen-Johansen): shipping
    resolves into two mutually-exclusive outcomes — returned ('R') or
    kept — censored at 60 days; CIF_k(t) = Σ_{{u≤t}} Ŝ(u⁻)·d_ku/n_u
    with Ŝ the ALL-event Kaplan-Meier. The estimator that answers
    "what fraction of shipments end up returned within t days" —
    which 1−KM_returned gets wrong whenever the competing outcome
    removes subjects first. The identity CIF₁+CIF₂+Ŝ = 1 holds row by
    row (emitted as s_eventfree — a built-in self-check).

    Determinism: the ≤61-row day table carries exact integer event
    counts; Ŝ(u⁻) uses the lagged ordered log-fold (the
    `kaplan_meier_shipping` construction); CIF sums run ORDER BY t.

    Scale: one map-side-combined groupBy(delay-day); all estimator
    arithmetic on the bounded day frame.
    """
    obs = delay_obs(
        spark,
        sf_dir,
        F.when(raw_delay() >= HORIZON, 0)
        .when(F.col("l_returnflag") == "R", 1)
        .otherwise(2)
        .alias("ev"),
    )
    byt = obs.groupBy("t").agg(
        F.sum(F.when(F.col("ev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("ev") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.count(F.lit(1)).cast("bigint").alias("all_c"),
    )
    wt = Window.orderBy("t")
    risk = byt.select(
        "t",
        "d1",
        "d2",
        (F.col("d1") + F.col("d2")).alias("d"),
        at_risk("all_c").alias("n_risk"),
    )
    s_prev = F.coalesce(
        F.exp(
            F.sum(
                F.when(F.col("d") == F.col("n_risk"), None).otherwise(
                    F.log(1 - F.col("d") * 1.0 / F.col("n_risk"))
                )
            ).over(wt.rowsBetween(Window.unboundedPreceding, -1))
        ),
        F.lit(1.0),
    )
    surv = risk.withColumn("s_prev", s_prev)
    cif1 = F.sum(
        F.col("s_prev") * F.col("d1") / F.col("n_risk")
    ).over(wt)
    cif2 = F.sum(
        F.col("s_prev") * F.col("d2") / F.col("n_risk")
    ).over(wt)
    return surv.select(
        "t",
        "n_risk",
        F.col("d1").alias("d_returned"),
        F.col("d2").alias("d_kept"),
        F.round(cif1, 6).alias("cif_returned"),
        F.round(cif2, 6).alias("cif_kept"),
        F.round(1.0 - cif1 - cif2, 6).alias("s_eventfree"),
    ).orderBy("t")


_HF_ALPHA = 0.3
_HF_HOLDOUT = 7


def _ses_fold_duck(src: str) -> str:
    return f"""
        list_reduce(list_prepend(CAST(-1 AS DOUBLE),
          list_transform({src}, x -> CAST(x AS DOUBLE))),
          (a, v) -> CASE WHEN a < 0 THEN v
                    ELSE {_HF_ALPHA} * v + (1 - {_HF_ALPHA}) * a END)"""


@query(
    "hierarchical_forecast_reconciliation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type AS arm, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT max(day) - {_HF_HOLDOUT} AS cutoff FROM daily
    ), train AS (
      SELECT arm, list(x ORDER BY day) AS xs,
             CAST(sum(x) AS BIGINT) AS tot_train
      FROM daily, bounds WHERE day <= cutoff GROUP BY arm
    ), test AS (
      SELECT arm, CAST(sum(x) AS BIGINT) AS actual_holdout
      FROM daily, bounds WHERE day > cutoff GROUP BY arm
    ), base AS (
      SELECT arm, {_ses_fold_duck("xs")} AS ses, tot_train FROM train
    ), totf AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(ses ORDER BY arm)), (a, v) -> a + v) AS bu_total,
             CAST(sum(tot_train) AS BIGINT) AS grand_train
      FROM base
    ), totdaily AS (
      SELECT day, CAST(sum(x) AS BIGINT) AS x FROM daily GROUP BY day
    ), tottrain AS (
      SELECT list(x ORDER BY day) AS xs
      FROM totdaily, bounds WHERE day <= cutoff
    ), totses AS (
      SELECT {_ses_fold_duck("xs")} AS direct_total FROM tottrain
    )
    SELECT b.arm,
           round(b.ses * {_HF_HOLDOUT}, 4) AS fc_independent,
           round(t.direct_total * {_HF_HOLDOUT}
                 * b.tot_train / f.grand_train, 4) AS fc_topdown,
           te.actual_holdout,
           round(abs(b.ses * {_HF_HOLDOUT} - te.actual_holdout), 4)
             AS ae_independent,
           round(abs(t.direct_total * {_HF_HOLDOUT}
                     * b.tot_train / f.grand_train
                     - te.actual_holdout), 4) AS ae_topdown,
           round(f.bu_total * {_HF_HOLDOUT}, 4) AS bu_total_fc,
           round(t.direct_total * {_HF_HOLDOUT}, 4) AS direct_total_fc
    FROM base b
    CROSS JOIN totf f CROSS JOIN totses t
    JOIN test te ON b.arm = te.arm
    ORDER BY b.arm
    """,
)
def hierarchical_forecast_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical forecast coherence: per-arm SES forecasts (α=0.3)
    vs the top-down split of the directly-forecast total (historical
    proportions), evaluated on a 7-day holdout, plus the bottom-up
    total (Σ arm SES) next to the direct total forecast — the
    coherence gap between them is WHY reconciliation exists (metric
    trees where the parts don't sum to the whole). Per arm: both
    forecasts, holdout actuals, and absolute errors.

    Determinism: daily counts are exact integers; each SES fold runs
    in day order (−1 sentinel initializes to the first value); the
    bottom-up total folds arms in name order; proportions are exact
    integer ratios applied once.

    Scale: one map-side-combined (arm, day) aggregate; 6 independent
    bounded folds (5 arms + total) — the per-series-sequential,
    cross-series-parallel shape that scales to millions of series.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("arm"),
        F.col("ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    cutoff = daily.agg(
        F.date_sub(F.max("day"), _HF_HOLDOUT).alias("c")
    ).collect()[0][0]
    ses_fold = (
        f"""
        aggregate(transform(array_sort(collect_list(struct(day, x))),
            s -> CAST(s.x AS DOUBLE)), CAST(-1.0 AS DOUBLE),
          (a, v) -> CASE WHEN a < 0 THEN v
                    ELSE {_HF_ALPHA} * v + (1 - {_HF_ALPHA}) * a END)
        """
    )
    train = daily.filter(F.col("day") <= F.lit(cutoff))
    base = train.groupBy("arm").agg(
        F.expr(ses_fold).alias("ses"),
        F.sum("x").cast("bigint").alias("tot_train"),
    )
    test = (
        daily.filter(F.col("day") > F.lit(cutoff))
        .groupBy("arm")
        .agg(F.sum("x").cast("bigint").alias("actual_holdout"))
    )
    totf = base.agg(
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(arm, ses))),
              s -> s.ses), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("bu_total"),
        F.sum("tot_train").cast("bigint").alias("grand_train"),
    )
    totdaily = daily.groupBy("day").agg(
        F.sum("x").cast("bigint").alias("x")
    )
    totses = totdaily.filter(F.col("day") <= F.lit(cutoff)).agg(
        F.expr(ses_fold).alias("direct_total")
    )
    fc_ind = F.col("ses") * _HF_HOLDOUT
    fc_td = (
        F.col("direct_total")
        * _HF_HOLDOUT
        * F.col("tot_train")
        / F.col("grand_train")
    )
    return (
        base.crossJoin(F.broadcast(totf))
        .crossJoin(F.broadcast(totses))
        .join(test, "arm")
        .select(
            "arm",
            F.round(fc_ind, 4).alias("fc_independent"),
            F.round(fc_td, 4).alias("fc_topdown"),
            "actual_holdout",
            F.round(F.abs(fc_ind - F.col("actual_holdout")), 4).alias(
                "ae_independent"
            ),
            F.round(F.abs(fc_td - F.col("actual_holdout")), 4).alias(
                "ae_topdown"
            ),
            F.round(F.col("bu_total") * _HF_HOLDOUT, 4).alias(
                "bu_total_fc"
            ),
            F.round(F.col("direct_total") * _HF_HOLDOUT, 4).alias(
                "direct_total_fc"
            ),
        )
        .orderBy("arm")
    )


_LSH_CONFIGS = [(8, 4), (16, 2), (4, 8)]  # (bands, rows) — 32 hashes each


@query(
    "lsh_s_curve_planner",
    oracle=f"""
    WITH corpus AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), cfg AS (
      SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)})
        AS t(bands, rows_per_band)
    ), grid AS (
      SELECT g.s FROM (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9]) AS s) g
    )
    SELECT c.bands, c.rows_per_band,
           round(g.s, 1) AS jaccard_s,
           round(1 - power(1 - power(g.s, c.rows_per_band), c.bands), 6)
             AS p_candidate,
           round(power(1.0 / c.bands, 1.0 / c.rows_per_band), 6)
             AS s_threshold,
           co.n_docs,
           CAST(round((1 - power(1 - power(g.s, c.rows_per_band),
                                 c.bands)) * co.n_docs) AS BIGINT)
             AS exp_candidates_per_doc_at_s
    FROM cfg c CROSS JOIN grid g CROSS JOIN corpus co
    ORDER BY c.bands, c.rows_per_band, jaccard_s
    """,
)
def lsh_s_curve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter planner for the minhash dedup family: for each
    (bands b, rows r) split of 32 minhashes, the S-curve
    P(candidate | s) = 1 − (1 − s^r)^b over a Jaccard grid, the
    threshold s* = (1/b)^(1/r) where the curve inflects, and the
    expected per-doc candidate volume if the whole corpus sat at
    similarity s — the analytic sizing that picks
    `dedup_minhash_lsh`'s 8×4 (s* ≈ 0.59) over recall-heavy 16×2
    (s* ≈ 0.25) or precision-heavy 4×8 (s* ≈ 0.84) BEFORE paying for
    a data pass.

    Determinism: pure closed-form doubles over constant grids; the
    only data touch is the corpus count.

    Scale: one count aggregate; 27 constant rows of arithmetic. The
    planner is how you keep the REAL minhash job's candidate volume
    linear — mis-sized bands are the classic way LSH quietly goes
    quadratic.
    """
    n_docs = load(spark, sf_dir, "documents").count()
    cfg = spark.createDataFrame(
        list(_LSH_CONFIGS), "bands int, rows_per_band int"
    )
    grid = spark.createDataFrame(
        [(round(0.1 * i, 1),) for i in range(1, 10)], "s double"
    )
    p_cand = 1 - F.pow(
        1 - F.pow(F.col("s"), F.col("rows_per_band")), F.col("bands")
    )
    return (
        cfg.crossJoin(F.broadcast(grid))
        .select(
            "bands",
            "rows_per_band",
            F.round("s", 1).alias("jaccard_s"),
            F.round(p_cand, 6).alias("p_candidate"),
            F.round(
                F.pow(
                    1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")
                ),
                6,
            ).alias("s_threshold"),
            F.lit(n_docs).cast("bigint").alias("n_docs"),
            F.round(p_cand * n_docs)
            .cast("bigint")
            .alias("exp_candidates_per_doc_at_s"),
        )
        .orderBy("bands", "rows_per_band", "jaccard_s")
    )
