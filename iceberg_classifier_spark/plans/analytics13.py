"""Analytics wave 13: k-group rank testing, observational causal
adjustment, and cluster-jackknife uncertainty.

Kruskal-Wallis is the k-group extension of `mann_whitney_u` — computed
here entirely from a value histogram (doubled midranks stay integer),
never a global rank over rows. IPW/stratified ATE is the standard
observational-causal adjustment when treatment correlates with
covariates; with discrete cells the propensity is a closed-form count
ratio, so the whole estimator is exact cell arithmetic. The delete-one-
cluster jackknife is THE variance estimate for ratio metrics under
clustered sampling (and the shape of leave-one-out ablation sweeps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load


@query(
    "kruskal_wallis_priority",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderpriority AS g, {DELAY_SQL} AS t
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), hist AS (
      SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM obs GROUP BY g, t
    ), byval AS (
      SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM hist GROUP BY t
    ), ranked AS (
      SELECT t, ct,
             2 * (CAST(sum(ct) OVER (ORDER BY t) AS BIGINT) - ct) + ct + 1
               AS r2
      FROM byval
    ), grp AS (
      SELECT h.g,
             CAST(sum(h.c) AS BIGINT) AS n_g,
             CAST(sum(h.c * r.r2) AS BIGINT) AS r2_g
      FROM hist h JOIN ranked r ON h.t = r.t
      GROUP BY h.g
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((r2_g / 2.0) * (r2_g / 2.0) / n_g ORDER BY g)),
               (a, v) -> a + v) AS sum_rr
      FROM grp
    ), ties AS (
      SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS DOUBLE)
        AS tie3 FROM byval
    )
    SELECT n,
           CAST((SELECT count(*) FROM grp) AS BIGINT) AS k_groups,
           round(12.0 / (n * (n + 1.0)) * sum_rr - 3.0 * (n + 1), 6)
             AS h_stat,
           round(1.0 - tie3 * 1.0 / (CAST(n AS DOUBLE) * n * n - n), 6)
             AS tie_correction,
           round((12.0 / (n * (n + 1.0)) * sum_rr - 3.0 * (n + 1))
                 / (1.0 - tie3 * 1.0 / (CAST(n AS DOUBLE) * n * n - n)), 6)
             AS h_corrected,
           CASE WHEN (12.0 / (n * (n + 1.0)) * sum_rr - 3.0 * (n + 1))
                     / (1.0 - tie3 * 1.0
                        / (CAST(n AS DOUBLE) * n * n - n)) > 9.487729
                THEN 1 ELSE 0 END AS reject_05
    FROM tot, ties
    """,
)
def kruskal_wallis_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five order priorities ship on the
    same delay distribution? Computed 100%-from-histogram: per distinct
    delay value the DOUBLED midrank 2R = 2·(cum−c) + c + 1 is an exact
    integer, so each group's rank sum R_g is exact int64; H =
    12/(N(N+1))·Σ R_g²/n_g − 3(N+1) with the tie correction
    1 − Σ(t³−t)/(N³−N), against the χ²₄ 95% critical value (k=5
    groups). The k-group sibling of `mann_whitney_u` (analytics4.py).

    Determinism: ranks and tie terms are exact integers from the ≤61-
    value histogram; the 5-term Σ R_g²/n_g folds in group-name order.

    Scale: one map-side-combined groupBy((group, value)) over the fact
    join — never a global rank over rows (the midrank table is the
    value histogram); everything after is ≤(5·61)-row arithmetic.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("g"),
        ship_delay().alias("t"),
    )
    hist = obs.groupBy("g", "t").agg(F.count(F.lit(1)).alias("c"))
    byval = hist.groupBy("t").agg(F.sum("c").alias("ct"))
    wv = Window.orderBy("t")
    ranked = byval.select(
        "t",
        (
            2 * (F.sum("ct").over(wv) - F.col("ct")) + F.col("ct") + 1
        ).alias("r2"),
    )
    grp = (
        hist.join(ranked, "t")
        .groupBy("g")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2_g"),
        )
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(g,
                (r2_g / 2.0) * (r2_g / 2.0) / n_g))), s -> s.col2),
              CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("sum_rr"),
    )
    # the 60-day cap concentrates ~half the fact rows on t=60, so ct^3
    # crosses int64 at 10x scale (sf1 sweep crash) — widen the operand,
    # then one identical exact->double conversion per engine
    ties = byval.agg(
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        )
        .cast("double")
        .alias("tie3")
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1.0)) * F.col("sum_rr") - 3.0 * (
        F.col("n") + 1
    )
    corr = 1.0 - F.col("tie3") * 1.0 / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    return tot.crossJoin(ties).select(
        "n",
        "k_groups",
        F.round(h, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h / corr, 6).alias("h_corrected"),
        F.when(h / corr > 9.487729, 1).otherwise(0).alias("reject_05"),
    )


@query(
    "ipw_ate_cells",
    oracle=f"""
    WITH obs AS (
      SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             {DELAY_SQL} AS y,
             c.c_mktsegment AS seg,
             CAST(extract(month FROM CAST(o.o_orderdate AS DATE))
               AS BIGINT) AS mon
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT seg, mon,
             CAST(sum(tr) AS BIGINT) AS n1,
             CAST(count(*) - sum(tr) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN tr = 1 THEN y ELSE 0 END) AS BIGINT)
               AS sy1,
             CAST(sum(CASE WHEN tr = 0 THEN y ELSE 0 END) AS BIGINT)
               AS sy0
      FROM obs GROUP BY seg, mon
    ), ok AS (SELECT * FROM cells WHERE n1 > 0 AND n0 > 0),
    folds AS (
      SELECT
        CAST(sum(n1 + n0) AS BIGINT) AS n,
        CAST(sum(n1) AS BIGINT) AS n1t,
        CAST(sum(n0) AS BIGINT) AS n0t,
        CAST((SELECT count(*) FROM cells) AS BIGINT) AS n_cells,
        CAST((SELECT count(*) FROM cells) - count(*) AS BIGINT)
          AS n_dropped,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list((n1 + n0) * (sy1 * 1.0 / n1 - sy0 * 1.0 / n0)
               ORDER BY seg, mon)), (a, v) -> a + v) AS strat_num,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(sy1 * (n1 + n0) * 1.0 / n1 ORDER BY seg, mon)),
          (a, v) -> a + v) AS ipw1_num,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(sy0 * (n1 + n0) * 1.0 / n0 ORDER BY seg, mon)),
          (a, v) -> a + v) AS ipw0_num,
        CAST(sum(sy1) AS BIGINT) AS sy1t,
        CAST(sum(sy0) AS BIGINT) AS sy0t
      FROM ok
    )
    SELECT n, n_cells, n_dropped,
           round(sy1t * 1.0 / n1t - sy0t * 1.0 / n0t, 6) AS naive_diff,
           round(strat_num / n, 6) AS ate_stratified,
           round(ipw1_num / n - ipw0_num / n, 6) AS ate_ipw
    FROM folds
    """,
)
def ipw_ate_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational ATE of urgent priority on ship delay with discrete
    confounder cells (market segment × order month): reports the naive
    treated-vs-control difference, the stratified estimate
    Σ_c (n_c/N)(ȳ₁c − ȳ₀c), and the cell-propensity IPW estimate
    (weights 1/p̂_c and 1/(1−p̂_c) with p̂_c = n₁c/n_c — for which the
    IPW mean reduces to Σ_c sy₁c·n_c/n₁c / N, exact cell arithmetic).
    Cells missing either arm are dropped (positivity violation) and
    counted. The adjustment set every experimentation platform runs
    when treatment isn't randomized.

    Determinism: per-cell (n₁, n₀, Σy₁, Σy₀) are exact int64; the
    ≤60-cell folds run in (segment, month) order on both engines.

    Scale: one map-side-combined groupBy(cell) over the star join
    (customer dimension broadcasts); estimators are ≤60-row folds.
    With continuous covariates the cells become hashed feature buckets
    — same plan shape.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cu = load(spark, sf_dir, "customer")
    obs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .select(
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("bigint")
            .alias("tr"),
            ship_delay().alias("y"),
            F.col("c_mktsegment").alias("seg"),
            F.month(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("mon"),
        )
    )
    cells = obs.groupBy("seg", "mon").agg(
        F.sum("tr").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("tr")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy1"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy0"),
    )
    n_cells_all = cells.count()
    ok = cells.filter((F.col("n1") > 0) & (F.col("n0") > 0))

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(seg, mon,
                {expr}))), s -> s.col3), CAST(0.0 AS DOUBLE),
              (a, v) -> a + v)
            """
        )

    folds = ok.agg(
        F.sum(F.col("n1") + F.col("n0")).cast("bigint").alias("n"),
        F.sum("n1").cast("bigint").alias("n1t"),
        F.sum("n0").cast("bigint").alias("n0t"),
        F.lit(n_cells_all).cast("bigint").alias("n_cells"),
        (F.lit(n_cells_all) - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_dropped"),
        fold(
            "(n1 + n0) * (sy1 * 1.0 / n1 - sy0 * 1.0 / n0)"
        ).alias("strat_num"),
        fold("sy1 * (n1 + n0) * 1.0 / n1").alias("ipw1_num"),
        fold("sy0 * (n1 + n0) * 1.0 / n0").alias("ipw0_num"),
        F.sum("sy1").cast("bigint").alias("sy1t"),
        F.sum("sy0").cast("bigint").alias("sy0t"),
    )
    return folds.select(
        "n",
        "n_cells",
        "n_dropped",
        F.round(
            F.col("sy1t") * 1.0 / F.col("n1t")
            - F.col("sy0t") * 1.0 / F.col("n0t"),
            6,
        ).alias("naive_diff"),
        F.round(F.col("strat_num") / F.col("n"), 6).alias("ate_stratified"),
        F.round(
            F.col("ipw1_num") / F.col("n") - F.col("ipw0_num") / F.col("n"),
            6,
        ).alias("ate_ipw"),
    )


@query(
    "jackknife_cluster_ratio",
    oracle="""
    WITH li AS (
      SELECT n.n_name AS cluster,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
               AS BIGINT) AS rev_cents,
             CAST(round(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    ), cl AS (
      SELECT cluster, CAST(sum(rev_cents) AS BIGINT) AS y,
             CAST(sum(qty) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM li GROUP BY cluster
    ), tot AS (
      SELECT CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS g
      FROM cl
    ), loo AS (
      SELECT c.cluster, c.n_rows, t.g,
             t.sy * 1.0 / t.sx AS r_full,
             (t.sy - c.y) * 1.0 / (t.sx - c.x) AS r_loo
      FROM cl c CROSS JOIN tot t
    ), mean_loo AS (
      SELECT g, max(r_full) AS r_full,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(r_loo ORDER BY cluster)), (a, v) -> a + v) / g
               AS r_bar
      FROM loo GROUP BY g
    ), devs AS (
      SELECT l.g, m.r_full,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list((l.r_loo - m.r_bar) * (l.r_loo - m.r_bar)
                    ORDER BY l.cluster)), (a, v) -> a + v) AS ssq
      FROM loo l JOIN mean_loo m ON l.g = m.g
      GROUP BY l.g, m.r_full
    )
    SELECT g AS n_clusters,
           round(r_full / 100.0, 6) AS ratio_full,
           round((g - 1.0) / g * ssq / 10000.0, 6) AS var_jack,
           round(sqrt((g - 1.0) / g * ssq) / 100.0, 6) AS se_jack
    FROM devs
    """,
)
def jackknife_cluster_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-cluster jackknife for a ratio metric: revenue-per-unit
    (Σ net revenue / Σ quantity) with supplier NATION as the sampling
    cluster — recompute the ratio with each nation held out,
    var̂ = (g−1)/g · Σ (R₍ᵢ₎ − R̄)², the standard error every clustered
    A/B readout needs (row-level variance is wrong when rows within a
    cluster correlate). Delete-one-GROUP (not delete-one-row) keeps the
    whole computation on the ≤25-row cluster summary — the row-level
    jackknife of a ratio doesn't distribute, the cluster one does.

    Determinism: per-cluster (Σy, Σx) are exact int64 cents/units; the
    25 leave-one-out ratios and their moments fold in cluster-name
    order on both engines.

    Scale: one map-side-combined groupBy(cluster) over the star join
    (supplier/nation dims broadcast); the LOO expansion is
    clusters × 1 closed-form arithmetic — no refit, no resample pass.
    """
    li = load(spark, sf_dir, "lineitem")
    su = load(spark, sf_dir, "supplier")
    na = load(spark, sf_dir, "nation")
    rows = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .select(
            F.col("n_name").alias("cluster"),
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            ).alias("rev_cents"),
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("qty"),
        )
    )
    cl = rows.groupBy("cluster").agg(
        F.sum("rev_cents").cast("bigint").alias("y"),
        F.sum("qty").cast("bigint").alias("x"),
    )
    tot = cl.agg(
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("x").cast("bigint").alias("sx"),
        F.count(F.lit(1)).cast("bigint").alias("g"),
    )
    loo = cl.crossJoin(F.broadcast(tot)).select(
        "cluster",
        "g",
        (F.col("sy") * 1.0 / F.col("sx")).alias("r_full"),
        (
            (F.col("sy") - F.col("y")) * 1.0 / (F.col("sx") - F.col("x"))
        ).alias("r_loo"),
    )
    mean_loo = loo.groupBy("g").agg(
        F.max("r_full").alias("rf"),
        (
            F.expr(
                """
                aggregate(transform(array_sort(collect_list(struct(cluster,
                    r_loo))), s -> s.r_loo), CAST(0.0 AS DOUBLE),
                  (a, v) -> a + v)
                """
            )
            / F.col("g")
        ).alias("r_bar"),
    )
    joined = (
        loo.drop("r_full")
        .join(mean_loo.withColumnRenamed("g", "g2"), F.col("g") == F.col("g2"))
        .withColumnRenamed("rf", "r_full")
    )
    agg = joined.groupBy("g", "r_full", "r_bar").agg(
        F.expr(
            """
            aggregate(transform(array_sort(collect_list(struct(cluster,
                (r_loo - r_bar) * (r_loo - r_bar)))), s -> s.col2),
              CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            """
        ).alias("ssq")
    )
    var_jack = (F.col("g") - 1.0) / F.col("g") * F.col("ssq")
    return agg.select(
        F.col("g").alias("n_clusters"),
        F.round(F.col("r_full") / 100.0, 6).alias("ratio_full"),
        F.round(var_jack / 10000.0, 6).alias("var_jack"),
        F.round(F.sqrt(var_jack) / 100.0, 6).alias("se_jack"),
    )


# ---------------------------------------------------------------------------
# Viterbi decoding of a 2-state activity regime HMM
# ---------------------------------------------------------------------------

_V_LSTAY = "ln(0.9)"
_V_LSW = "ln(0.1)"
# flat DOUBLE[] Viterbi state: [lp0, lp1] || path0 || path1 — DuckDB 1.0's
# list_reduce drops LIST fields inside a STRUCT accumulator (scalar fields
# fold fine), so the state is one flat double list on both engines.


@query(
    "viterbi_regime_decode",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), stats AS (
      SELECT CAST(sum(x) AS BIGINT) * 1.0 / count(*) AS m,
             greatest(1.0, sqrt((CAST(sum(x * x) AS BIGINT)
               - CAST(sum(x) AS BIGINT) * 1.0 * sum(x) / count(*))
               * 1.0 / count(*))) AS sig
      FROM daily
    ), seq AS (
      SELECT list(struct_pack(day := day, x := x) ORDER BY day) AS days,
             max(m) AS m, max(sig) AS sig
      FROM daily CROSS JOIN stats
    ), folded AS (
      SELECT days, m, sig,
        list_reduce(
          list_prepend(CAST([] AS DOUBLE[]),
            list_transform(days, s -> [CAST(s.x AS DOUBLE)])),
          (a, v) -> CASE WHEN len(a) = 0 THEN [
              ln(0.5) - (v[1] - 0.8 * m) * (v[1] - 0.8 * m)
                        / (2 * sig * sig),
              ln(0.5) - (v[1] - 1.2 * m) * (v[1] - 1.2 * m)
                        / (2 * sig * sig),
              CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)]
            ELSE
              list_concat(list_concat(list_concat(list_concat(
                [CASE WHEN a[1] + {_V_LSTAY} >= a[2] + {_V_LSW}
                      THEN a[1] + {_V_LSTAY} ELSE a[2] + {_V_LSW} END
                 - (v[1] - 0.8 * m) * (v[1] - 0.8 * m) / (2 * sig * sig),
                 CASE WHEN a[1] + {_V_LSW} >= a[2] + {_V_LSTAY}
                      THEN a[1] + {_V_LSW} ELSE a[2] + {_V_LSTAY} END
                 - (v[1] - 1.2 * m) * (v[1] - 1.2 * m) / (2 * sig * sig)],
                CASE WHEN a[1] + {_V_LSTAY} >= a[2] + {_V_LSW}
                  THEN list_slice(a, 3, 2 + (len(a) - 2) // 2)
                  ELSE list_slice(a, 3 + (len(a) - 2) // 2, len(a)) END),
                [CAST(0 AS DOUBLE)]),
                CASE WHEN a[1] + {_V_LSW} >= a[2] + {_V_LSTAY}
                  THEN list_slice(a, 3, 2 + (len(a) - 2) // 2)
                  ELSE list_slice(a, 3 + (len(a) - 2) // 2, len(a)) END),
                [CAST(1 AS DOUBLE)])
          END) AS st
      FROM seq
    ), path AS (
      SELECT days, m,
             CASE WHEN st[1] >= st[2]
                  THEN list_slice(st, 3, 2 + (len(st) - 2) // 2)
                  ELSE list_slice(st, 3 + (len(st) - 2) // 2, len(st)) END
               AS p,
             round(greatest(st[1], st[2]), 4) AS best_logprob
      FROM folded
    )
    SELECT u.s.day AS day, u.s.x AS daily_count,
           CAST(u.s.st AS BIGINT) AS regime,
           round(CASE WHEN u.s.st = 0 THEN 0.8 * m ELSE 1.2 * m END, 4)
             AS regime_mean,
           best_logprob
    FROM path, unnest(list_transform(range(1, len(days) + 1),
      i -> struct_pack(day := days[CAST(i AS INTEGER)].day,
                       x := days[CAST(i AS INTEGER)].x,
                       st := p[CAST(i AS INTEGER)]))) AS u(s)
    ORDER BY day
    """,
)
def viterbi_regime_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Viterbi decoding of a 2-state Gaussian-emission HMM over the
    daily event-count series: low regime μ₀ = 0.8·mean, high regime
    μ₁ = 1.2·mean (σ from the series' own exact moments), sticky
    transitions (stay 0.9 / switch 0.1) — the max-product dynamic
    program that labels each day with its most-likely latent regime,
    the workhorse behind regime segmentation and state-conditioned
    monitoring. The fold carries [lp₀, lp₁] AND both survivor paths
    (Viterbi's backpointer trellis collapsed to the two live paths a
    2-state chain needs), encoded as one flat DOUBLE[] because DuckDB's
    list_reduce mis-folds LIST fields inside STRUCT accumulators.

    Determinism: the series is day-keyed (≤366 elements); emissions,
    transitions, and argmax comparisons are identical double
    expressions folded in day order on both engines (ties prefer the
    from-state-0 / stay branch via >=).

    Scale: the fact table collapses to per-day counts map-side; the
    dynamic program runs once over the bounded day dimension (partition
    by series/metric for fleets of chains — each fold is independent).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    seq = daily.agg(
        F.expr("array_sort(collect_list(struct(day, x)))").alias("days"),
        (F.sum("x").cast("bigint") * 1.0 / F.count(F.lit(1))).alias("m"),
        F.greatest(
            F.lit(1.0),
            F.sqrt(
                (
                    F.sum(F.col("x") * F.col("x")).cast("bigint")
                    - F.sum("x").cast("bigint")
                    * 1.0
                    * F.sum("x")
                    / F.count(F.lit(1))
                )
                * 1.0
                / F.count(F.lit(1))
            ),
        ).alias("sig"),
    )
    lstay, lsw = "ln(0.9)", "ln(0.1)"
    folded = seq.select(
        "days",
        "m",
        F.expr(
            f"""
            aggregate(transform(days, s -> CAST(s.x AS DOUBLE)),
              CAST(array() AS ARRAY<DOUBLE>),
              (a, v) -> CASE WHEN size(a) = 0 THEN array(
                  ln(0.5) - (v - 0.8 * m) * (v - 0.8 * m)
                            / (2 * sig * sig),
                  ln(0.5) - (v - 1.2 * m) * (v - 1.2 * m)
                            / (2 * sig * sig),
                  CAST(0 AS DOUBLE), CAST(1 AS DOUBLE))
                ELSE
                  concat(
                    array(
                      CASE WHEN a[0] + {lstay} >= a[1] + {lsw}
                           THEN a[0] + {lstay} ELSE a[1] + {lsw} END
                      - (v - 0.8 * m) * (v - 0.8 * m) / (2 * sig * sig),
                      CASE WHEN a[0] + {lsw} >= a[1] + {lstay}
                           THEN a[0] + {lsw} ELSE a[1] + {lstay} END
                      - (v - 1.2 * m) * (v - 1.2 * m) / (2 * sig * sig)),
                    CASE WHEN a[0] + {lstay} >= a[1] + {lsw}
                      THEN slice(a, 3, (size(a) - 2) div 2)
                      ELSE slice(a, 3 + (size(a) - 2) div 2,
                                 (size(a) - 2) div 2) END,
                    array(CAST(0 AS DOUBLE)),
                    CASE WHEN a[0] + {lsw} >= a[1] + {lstay}
                      THEN slice(a, 3, (size(a) - 2) div 2)
                      ELSE slice(a, 3 + (size(a) - 2) div 2,
                                 (size(a) - 2) div 2) END,
                    array(CAST(1 AS DOUBLE)))
              END)
            """
        ).alias("st"),
    )
    path = folded.select(
        "days",
        "m",
        F.expr(
            """
            CASE WHEN st[0] >= st[1]
                 THEN slice(st, 3, (size(st) - 2) div 2)
                 ELSE slice(st, 3 + (size(st) - 2) div 2,
                            (size(st) - 2) div 2) END
            """
        ).alias("p"),
        F.round(F.greatest(F.expr("st[0]"), F.expr("st[1]")), 4).alias(
            "best_logprob"
        ),
    )
    rows = path.select(
        "m",
        "best_logprob",
        F.posexplode(F.expr("arrays_zip(days, p)")).alias("i", "z"),
    )
    return rows.select(
        F.col("z.days.day").alias("day"),
        F.col("z.days.x").alias("daily_count"),
        F.col("z.p").cast("bigint").alias("regime"),
        F.round(
            F.when(F.col("z.p") == 0, 0.8 * F.col("m")).otherwise(
                1.2 * F.col("m")
            ),
            4,
        ).alias("regime_mean"),
        "best_logprob",
    ).orderBy("day")
