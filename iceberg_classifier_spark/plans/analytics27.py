"""Analytics wave 27: equivalence testing, meta-analysis pooling, and
intraclass correlation.

TOST is how "the new path is NO WORSE than the old one" gets tested
properly (absence of significance is not equivalence). DerSimonian-
Laird random-effects pooling is THE meta-analysis estimator — here
pooling per-segment treatment effects with heterogeneity τ². ICC(1)
quantifies how much outcome variance lives BETWEEN groups — the
number that decides whether clustered standard errors
(`jackknife_cluster_ratio`) are needed at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import DELAY_SQL, ship_delay
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_TOST_MARGIN = 0.5  # equivalence margin (days)
_Z05 = 1.644854  # one-sided 5%


@query(
    "tost_equivalence_test",
    oracle=f"""
    WITH obs AS (
      SELECT CAST(o_orderkey % 2 AS BIGINT) AS arm, {DELAY_SQL} AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), g AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM obs GROUP BY arm
    ), wide AS (
      SELECT max(CASE WHEN arm = 1 THEN n END) AS n1,
             max(CASE WHEN arm = 1 THEN s1 END) AS s11,
             max(CASE WHEN arm = 1 THEN s2 END) AS s21,
             max(CASE WHEN arm = 0 THEN n END) AS n0,
             max(CASE WHEN arm = 0 THEN s1 END) AS s10,
             max(CASE WHEN arm = 0 THEN s2 END) AS s20
      FROM g
    ), stats AS (
      SELECT n1, n0,
             s11 * 1.0 / n1 - s10 * 1.0 / n0 AS diff,
             sqrt((s21 - s11 * 1.0 * s11 / n1) / (n1 - 1.0) / n1
                  + (s20 - s10 * 1.0 * s10 / n0) / (n0 - 1.0) / n0)
               AS se
      FROM wide
    )
    SELECT n1 AS n_arm1, n0 AS n_arm0,
           round(diff, 6) AS mean_diff,
           round(se, 6) AS se_diff,
           round((diff + {_TOST_MARGIN}) / se, 4) AS t_lower,
           round((diff - {_TOST_MARGIN}) / se, 4) AS t_upper,
           CASE WHEN (diff + {_TOST_MARGIN}) / se > {_Z05}
                 AND (diff - {_TOST_MARGIN}) / se < -{_Z05}
                THEN 1 ELSE 0 END AS equivalent_05,
           CASE WHEN abs(diff / se) > 1.959964 THEN 1 ELSE 0 END
             AS different_05
    FROM stats
    """,
)
def tost_equivalence_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-one-sided-tests (TOST) equivalence on ship delay between the
    order-parity arms with margin δ = ±0.5 days: equivalence holds
    when BOTH (diff+δ)/se > z and (diff−δ)/se < −z at one-sided 5% —
    alongside the ordinary difference test, exposing all four
    verdicts (equivalent, different, both, neither). The non-
    inferiority machinery "no significant difference ⇒ same" gets
    wrong — absence of evidence is not equivalence, and TOST is the
    fix every launch-review checklist should require.

    Determinism: arm sufficient statistics are exact integers; both
    t-ratios are closed-form doubles.

    Scale: one map-side-combined groupBy(arm) — two rows of
    arithmetic after a single fact pass.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        (F.col("o_orderkey") % 2).cast("bigint").alias("arm"),
        ship_delay().alias("y"),
    )
    g = obs.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    wide = g.agg(
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s1"))).alias("s11"),
        F.max(F.when(F.col("arm") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s1"))).alias("s10"),
        F.max(F.when(F.col("arm") == 0, F.col("s2"))).alias("s20"),
    )
    diff = F.col("s11") * 1.0 / F.col("n1") - F.col("s10") * 1.0 / F.col(
        "n0"
    )
    se = F.sqrt(
        (F.col("s21") - F.col("s11") * 1.0 * F.col("s11") / F.col("n1"))
        / (F.col("n1") - 1.0)
        / F.col("n1")
        + (F.col("s20") - F.col("s10") * 1.0 * F.col("s10") / F.col("n0"))
        / (F.col("n0") - 1.0)
        / F.col("n0")
    )
    t_lo = (diff + _TOST_MARGIN) / se
    t_hi = (diff - _TOST_MARGIN) / se
    return wide.select(
        F.col("n1").alias("n_arm1"),
        F.col("n0").alias("n_arm0"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("se_diff"),
        F.round(t_lo, 4).alias("t_lower"),
        F.round(t_hi, 4).alias("t_upper"),
        F.when((t_lo > _Z05) & (t_hi < -_Z05), 1)
        .otherwise(0)
        .alias("equivalent_05"),
        F.when(F.abs(diff / se) > 1.959964, 1)
        .otherwise(0)
        .alias("different_05"),
    )


@query(
    "meta_analysis_dl",
    oracle=f"""
    WITH obs AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS tr,
             {DELAY_SQL} AS y
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ), g AS (
      SELECT seg, tr, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM obs GROUP BY seg, tr
    ), studies AS (
      SELECT seg,
             max(CASE WHEN tr = 1 THEN s1 * 1.0 / n END)
               - max(CASE WHEN tr = 0 THEN s1 * 1.0 / n END) AS eff,
             max(CASE WHEN tr = 1 THEN
               (s2 - s1 * 1.0 * s1 / n) / (n - 1.0) / n END)
             + max(CASE WHEN tr = 0 THEN
               (s2 - s1 * 1.0 * s1 / n) / (n - 1.0) / n END) AS v
      FROM g GROUP BY seg
    ), fixed AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(1.0 / v ORDER BY seg)), (a, b) -> a + b) AS sw,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(eff / v ORDER BY seg)), (a, b) -> a + b) AS swe,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(eff * eff / v ORDER BY seg)), (a, b) -> a + b)
               AS swe2,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(1.0 / (v * v) ORDER BY seg)), (a, b) -> a + b)
               AS sw2
      FROM studies
    ), het AS (
      SELECT k, sw, swe, sw2,
             swe2 - swe * swe / sw AS q,
             greatest((swe2 - swe * swe / sw - (k - 1))
                      / (sw - sw2 / sw), 0.0) AS tau2
      FROM fixed
    ), rand AS (
      SELECT h.k, h.q, h.tau2,
             f2.swe / f2.sw AS mu_fixed,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(s.eff / (s.v + h.tau2) ORDER BY s.seg)),
               (a, b) -> a + b)
             / list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(1.0 / (s.v + h.tau2) ORDER BY s.seg)),
                 (a, b) -> a + b) AS mu_random,
             1.0 / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(1.0 / (s.v + h.tau2) ORDER BY s.seg)),
                 (a, b) -> a + b)) AS se_random
      FROM studies s CROSS JOIN het h CROSS JOIN fixed f2
      GROUP BY h.k, h.q, h.tau2, f2.swe / f2.sw
    )
    SELECT k AS n_studies,
           round(mu_fixed, 6) AS effect_fixed,
           round(mu_random, 6) AS effect_random,
           round(se_random, 6) AS se_random,
           round(q, 6) AS cochran_q_het,
           round(tau2, 6) AS tau_squared,
           round(greatest((q - (k - 1)) / q, 0.0) * 100, 2)
             AS i_squared_pct
    FROM rand
    """,
)
def meta_analysis_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DerSimonian-Laird random-effects meta-analysis of the urgent-
    priority effect on ship delay across market segments: each segment
    is a "study" (effect = mean difference, variance from Welch SEs);
    fixed-effect inverse-variance pooling, Cochran's Q heterogeneity,
    τ² by the DL moment estimator, I², and the random-effects pooled
    effect with its SE — the pooling machinery behind "does this
    effect replicate across segments/regions/sites", which a naive
    grand-pooled regression silently assumes away (τ² = 0).

    Determinism: per-study sufficient statistics are exact integers;
    every pooling fold runs in segment order.

    Scale: one map-side-combined groupBy((segment, arm)); all
    meta-arithmetic on the ≤|segments|-row study frame.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cu = load(spark, sf_dir, "customer")
    obs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.col("o_orderpriority") == "1-URGENT")
            .cast("bigint")
            .alias("tr"),
            ship_delay().alias("y"),
        )
    )
    g = obs.groupBy("seg", "tr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    mean_e = F.max(
        F.when(F.col("tr") == 1, F.col("s1") * 1.0 / F.col("n"))
    ) - F.max(F.when(F.col("tr") == 0, F.col("s1") * 1.0 / F.col("n")))
    var_e = F.max(
        F.when(
            F.col("tr") == 1,
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
            / (F.col("n") - 1.0)
            / F.col("n"),
        )
    ) + F.max(
        F.when(
            F.col("tr") == 0,
            (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
            / (F.col("n") - 1.0)
            / F.col("n"),
        )
    )
    studies = g.groupBy("seg").agg(
        mean_e.alias("eff"), var_e.alias("v")
    )

    def fold(expr: str) -> F.Column:
        return F.expr(
            f"""
            aggregate(transform(array_sort(collect_list(struct(seg,
                ({expr}) AS vv))), s -> s.vv), CAST(0.0 AS DOUBLE),
              (a, b) -> a + b)
            """
        )

    fixed = studies.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        fold("1.0 / v").alias("sw"),
        fold("eff / v").alias("swe"),
        fold("eff * eff / v").alias("swe2"),
        fold("1.0 / (v * v)").alias("sw2"),
    )
    het = fixed.select(
        "k",
        "sw",
        "swe",
        (F.col("swe2") - F.col("swe") * F.col("swe") / F.col("sw")).alias(
            "q"
        ),
        F.greatest(
            (
                F.col("swe2")
                - F.col("swe") * F.col("swe") / F.col("sw")
                - (F.col("k") - 1)
            )
            / (F.col("sw") - F.col("sw2") / F.col("sw")),
            F.lit(0.0),
        ).alias("tau2"),
    )
    rand = (
        studies.crossJoin(F.broadcast(het))
        .groupBy("k", "q", "tau2", "sw", "swe")
        .agg(
            fold("eff / (v + tau2)").alias("swe_r"),
            fold("1.0 / (v + tau2)").alias("sw_r"),
        )
    )
    return rand.select(
        F.col("k").alias("n_studies"),
        F.round(F.col("swe") / F.col("sw"), 6).alias("effect_fixed"),
        F.round(F.col("swe_r") / F.col("sw_r"), 6).alias("effect_random"),
        F.round(1.0 / F.sqrt(F.col("sw_r")), 6).alias("se_random"),
        F.round("q", 6).alias("cochran_q_het"),
        F.round("tau2", 6).alias("tau_squared"),
        F.round(
            F.greatest(
                (F.col("q") - (F.col("k") - 1)) / F.col("q"), F.lit(0.0)
            )
            * 100,
            2,
        ).alias("i_squared_pct"),
    )


@query(
    "intraclass_correlation",
    oracle=f"""
    WITH obs AS (
      SELECT o_custkey AS grp, {DELAY_SQL} AS y
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS s1,
             CAST(sum(y * y) AS BIGINT) AS s2
      FROM obs GROUP BY grp
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(s1) AS BIGINT) AS s1t,
             CAST(sum(s2) AS BIGINT) AS s2t,
             CAST(sum(s1 * s1 * 1000000 // n) AS BIGINT) AS wss6,
             CAST(sum(n * n) AS BIGINT) AS snn
      FROM g
    ), ms AS (
      SELECT k, nt,
             (wss6 / 1000000.0 - s1t * 1.0 * s1t / nt) / (k - 1) AS msb,
             (s2t - wss6 / 1000000.0) / (nt - k) AS msw,
             (nt - snn * 1.0 / nt) / (k - 1) AS k0
      FROM tot
    )
    SELECT k AS n_groups, nt AS n_obs,
           round(msb, 6) AS ms_between,
           round(msw, 6) AS ms_within,
           round(k0, 4) AS avg_group_size_k0,
           round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1,
           round(1.0 + (k0 - 1)
                 * greatest((msb - msw) / (msb + (k0 - 1) * msw), 0.0),
                 4) AS design_effect
    FROM ms
    """,
)
def intraclass_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way intraclass correlation ICC(1) of ship delay with
    customers as clusters: from the ANOVA decomposition, ICC =
    (MSB − MSW)/(MSB + (k₀−1)·MSW) with the unbalanced-design k₀ =
    (N − Σnᵢ²/N)/(k−1), plus the design effect 1 + (k₀−1)·ICC — the
    number that says how correlated observations are within a cluster
    and therefore how much row-level standard errors lie (DEFF ≈ 1:
    rows are effectively independent; large: use
    `jackknife_cluster_ratio`-style cluster inference).

    Determinism: all sufficient statistics are exact integers — the
    within-group Σsᵢ²/nᵢ accumulates as the ×10⁶ truncated integer
    (`fixed_effects_within`'s trick) so millions of groups sum
    without float order sensitivity.

    Scale: one map-side-combined groupBy(customer) + one integer
    re-aggregate — the same single-pass shape as the within
    estimator.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    obs = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("grp"),
        ship_delay().cast("bigint").alias("y"),
    )
    g = obs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("s1").cast("bigint").alias("s1t"),
        F.sum("s2").cast("bigint").alias("s2t"),
        F.sum(F.expr("s1 * s1 * 1000000 div n"))
        .cast("bigint")
        .alias("wss6"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("snn"),
    )
    msb = (
        F.col("wss6") / 1000000.0
        - F.col("s1t") * 1.0 * F.col("s1t") / F.col("nt")
    ) / (F.col("k") - 1)
    msw = (F.col("s2t") - F.col("wss6") / 1000000.0) / (
        F.col("nt") - F.col("k")
    )
    k0 = (F.col("nt") - F.col("snn") * 1.0 / F.col("nt")) / (
        F.col("k") - 1
    )
    icc = (msb - msw) / (msb + (k0 - 1) * msw)
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_obs"),
        F.round(msb, 6).alias("ms_between"),
        F.round(msw, 6).alias("ms_within"),
        F.round(k0, 4).alias("avg_group_size_k0"),
        F.round(icc, 6).alias("icc1"),
        F.round(
            1.0 + (k0 - 1) * F.greatest(icc, F.lit(0.0)), 4
        ).alias("design_effect"),
    )
