"""Causal/sketch/instance-model wave 55: coarsened exact matching,
Bloom false-positive calibration, and leave-one-out k-NN regression.

- `coarsened_exact_matching_att` — CEM (Iacus-King-Porro) estimate
  of the URGENT-priority effect on order value: strata =
  (market segment x order year), keep only strata containing both
  groups, reweight controls to the treated distribution, ATT =
  treated-weighted mean of within-stratum differences. Pure
  histogram algebra — the matching-family member next to
  `ipw_ate_cells` (weighting) and `difference_in_differences`
  (panel).
- `bloom_fpp_calibration` — build a real 1024-bit / 3-hash Bloom
  filter of the first 200 customer keys with the portable md5 hash
  family, probe 800 non-members, and report the OBSERVED false
  positive rate against the (1 - e^(-kn/m))^k theory and the
  actual bit occupancy.
- `knn_loo_regression_daily` — leave-one-out 5-NN regression of
  daily revenue on daily order count over the bounded calendar
  frame, with RMSE compared against the closed-form OLS line —
  instance-based learning, exactly evaluable.

Determinism: strata/bit/neighbor selections are exact integer
comparisons (neighbor ties break on day distance then day); stratum
and prediction means quantize to micro-units before global
aggregation.

Scale: CEM is ONE fact pass to the bounded strata frame; the Bloom
build/probe frames are key-bounded with the bit table broadcast;
k-NN's pair join is calendar-bounded (~5.8M light rows) — blocked
by construction, never fact-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.plans.pipeline_ops import _duck_hex_fold
from iceberg_classifier_spark.sources.tables import load


@query(
    "coarsened_exact_matching_att",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
             CASE WHEN o.o_orderpriority = '1-URGENT'
                  THEN 1 ELSE 0 END AS t,
             CAST(round(o.o_totalprice) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')
    ), strata AS (
      SELECT seg, yr,
             CAST(sum(t) AS BIGINT) AS n_t,
             CAST(sum(1 - t) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
               AS s_t,
             CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
               AS s_c
      FROM base GROUP BY 1, 2
    ), matched AS (
      SELECT seg, yr, n_t, n_c,
             CAST(round((s_t * 1.0 / n_t - s_c * 1.0 / n_c)
               * 1000000) AS BIGINT) AS diff_micro
      FROM strata WHERE n_t > 0 AND n_c > 0
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata,
             CAST(sum(n_t) AS BIGINT) AS n_treated_matched,
             CAST(sum(n_c) AS BIGINT) AS n_control_matched,
             sum(n_t * diff_micro) * 1.0 / sum(n_t) / 1000000.0
               AS att
      FROM matched
    ), pruned AS (
      SELECT CAST(count(*) AS BIGINT) AS n_strata_pruned,
             CAST(COALESCE(sum(n_t), 0) AS BIGINT) AS n_treated_pruned
      FROM strata WHERE n_t = 0 OR n_c = 0
    )
    SELECT t.n_strata, t.n_treated_matched, t.n_control_matched,
           p.n_strata_pruned, p.n_treated_pruned,
           round(t.att, 6) AS att_dollars
    FROM tot t CROSS JOIN pruned p
    """,
)
def coarsened_exact_matching_att(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coarsened exact matching (Iacus-King-Porro) for the effect of
    URGENT vs LOW priority on order value: coarsen covariates to
    (market segment x order year) strata, PRUNE strata lacking
    common support (no treated or no control), and estimate
    ATT = sum over kept strata of n_t * (mean_t - mean_c) / sum n_t
    — controls implicitly reweighted to the treated covariate
    distribution. Reports the pruning census, the honesty signal
    matching buys over raw comparison. Completes the causal toolkit
    next to `ipw_ate_cells` (inverse weighting),
    `regression_discontinuity`, `iv_wald_estimate`, and
    `difference_in_differences`.

    Determinism: stratum moments are exact int64; within-stratum
    differences quantize to micro-dollars before the treated-
    weighted exact aggregation.

    Scale: ONE joined fact pass (customer dim broadcastable)
    map-side combining to the ~35-row strata frame; matching and
    the ATT are algebra on that bounded frame — CEM at 100 TB costs
    one aggregation, unlike per-unit nearest-neighbor matching.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.year(F.col("o_orderdate").cast("date"))
            .cast("bigint")
            .alias("yr"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("t"),
            F.round(F.col("o_totalprice")).cast("bigint").alias("y"),
        )
    )
    strata = base.groupBy("seg", "yr").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s_c"),
    )
    matched = strata.where((F.col("n_t") > 0) & (F.col("n_c") > 0)).select(
        "n_t",
        "n_c",
        F.round(
            (F.col("s_t") * 1.0 / F.col("n_t") - F.col("s_c") * 1.0 / F.col("n_c"))
            * 1000000
        )
        .cast("bigint")
        .alias("diff_micro"),
    )
    tot = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("n_t").cast("bigint").alias("n_treated_matched"),
        F.sum("n_c").cast("bigint").alias("n_control_matched"),
        (
            F.sum(F.col("n_t") * F.col("diff_micro"))
            * 1.0
            / F.sum("n_t")
            / 1000000.0
        ).alias("att"),
    )
    pruned = strata.where((F.col("n_t") == 0) | (F.col("n_c") == 0)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_pruned"),
        F.coalesce(F.sum("n_t"), F.lit(0))
        .cast("bigint")
        .alias("n_treated_pruned"),
    )
    return tot.crossJoin(F.broadcast(pruned)).select(
        "n_strata",
        "n_treated_matched",
        "n_control_matched",
        "n_strata_pruned",
        "n_treated_pruned",
        F.round("att", 6).alias("att_dollars"),
    )


_BF_BITS = 1024
_BF_K = 3
_BF_MEMBERS = 200
_BF_PROBES = 800


def _bf_bit_sql(expr: str, j: int) -> str:
    # portable hash -> bit index: md5 of "<j>:<key>", 13 hex chars,
    # mod m (same family as dp_noisy_counts)
    salted = f"'{j}:' || {expr}"
    return f"CAST({_duck_hex_fold(salted, 13)} % {_BF_BITS} AS BIGINT)"


@query(
    "bloom_fpp_calibration",
    oracle=f"""
    WITH members AS (
      SELECT c_custkey AS ck FROM customer
      WHERE c_custkey % 5 = 0 ORDER BY c_custkey LIMIT {_BF_MEMBERS}
    ), probes AS (
      SELECT c_custkey AS ck FROM customer
      WHERE c_custkey % 5 <> 0 ORDER BY c_custkey LIMIT {_BF_PROBES}
    ), nm AS (
      SELECT CAST(count(*) AS BIGINT) AS n_members FROM members
    ), bits AS (
      SELECT DISTINCT b FROM (
        {" UNION ALL ".join(
            "SELECT " + _bf_bit_sql("CAST(ck AS VARCHAR)", j) + " AS b FROM members"
            for j in range(_BF_K)
        )}
      )
    ), occupancy AS (
      SELECT CAST(count(*) AS BIGINT) AS bits_set FROM bits
    ), probe_bits AS (
      {" UNION ALL ".join(
          "SELECT ck, " + _bf_bit_sql("CAST(ck AS VARCHAR)", j) + " AS b FROM probes"
          for j in range(_BF_K)
      )}
    ), hits AS (
      SELECT p.ck,
             CAST(sum(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_set
      FROM probe_bits p LEFT JOIN bits ON bits.b = p.b
      GROUP BY p.ck
    ), fp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(CASE WHEN n_set = {_BF_K} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_false_pos
      FROM hits
    )
    SELECT CAST({_BF_BITS} AS BIGINT) AS m_bits,
           CAST({_BF_K} AS BIGINT) AS k_hashes,
           nm.n_members,
           o.bits_set,
           f.n_probes,
           f.n_false_pos,
           round(f.n_false_pos * 1.0 / f.n_probes, 6) AS observed_fpp,
           round(pow(1.0 - exp(-{_BF_K}.0 * nm.n_members
                 / {_BF_BITS}.0), {_BF_K}), 6) AS predicted_fpp,
           round(pow(o.bits_set * 1.0 / {_BF_BITS}, {_BF_K}), 6)
             AS occupancy_fpp
    FROM occupancy o CROSS JOIN fp f CROSS JOIN nm
    """,
)
def bloom_fpp_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Bloom filter calibration with the portable md5 hash
    family: insert the first {_BF_MEMBERS} customer keys into a real
    {_BF_BITS}-bit / {_BF_K}-hash filter (bit j of key x =
    md5('j:' || x) mod m — both engines derive identical bits),
    probe {_BF_PROBES} disjoint keys, and compare the OBSERVED false
    positive rate to both the classical (1 - e^(-kn/m))^k formula
    and the sharper occupancy-based (bits_set/m)^k estimate. The
    measured counterpart of `bloom_semijoin_reduction` (which uses
    Spark's built-in filter as an opaque reducer).

    Determinism: every bit index is an exact integer hash; the
    member/probe sets are key-ordered LIMITs; all counts exact.

    Scale: the bit table is <= m rows and broadcasts to the probe
    side; build and probe are each one hash pass over key-bounded
    frames — the same cost profile the filter has in production.
    """
    c = load(spark, sf_dir, "customer")
    members = (
        c.where(F.col("c_custkey") % 5 == 0)
        .select(F.col("c_custkey").alias("k"))
        .orderBy("k")
        .limit(_BF_MEMBERS)
    )
    probes = (
        c.where(F.col("c_custkey") % 5 != 0)
        .select(F.col("c_custkey").alias("k"))
        .orderBy("k")
        .limit(_BF_PROBES)
    )

    def bit(j: int) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{j}:"), F.col("k").cast("string")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            % _BF_BITS
        )

    bits = None
    for j in range(_BF_K):
        part = members.select(bit(j).alias("b"))
        bits = part if bits is None else bits.unionByName(part)
    bits = bits.distinct()
    occupancy = bits.agg(
        F.count(F.lit(1)).cast("bigint").alias("bits_set")
    )
    probe_bits = None
    for j in range(_BF_K):
        part = probes.select("k", bit(j).alias("b"))
        probe_bits = (
            part if probe_bits is None else probe_bits.unionByName(part)
        )
    hits = (
        probe_bits.join(
            F.broadcast(bits.withColumn("present", F.lit(1))), "b", "left"
        )
        .groupBy("k")
        .agg(
            F.sum(F.coalesce(F.col("present"), F.lit(0)))
            .cast("bigint")
            .alias("n_set")
        )
    )
    fp = hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("n_set") == _BF_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    nm = members.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        occupancy.crossJoin(F.broadcast(fp))
        .crossJoin(F.broadcast(nm))
        .select(
            F.lit(_BF_BITS).cast("bigint").alias("m_bits"),
            F.lit(_BF_K).cast("bigint").alias("k_hashes"),
            "n_members",
            "bits_set",
            "n_probes",
            "n_false_pos",
            F.round(
                F.col("n_false_pos") * 1.0 / F.col("n_probes"), 6
            ).alias("observed_fpp"),
            F.round(
                F.pow(
                    1.0
                    - F.exp(
                        -float(_BF_K) * F.col("n_members") / float(_BF_BITS)
                    ),
                    float(_BF_K),
                ),
                6,
            ).alias("predicted_fpp"),
            F.round(
                F.pow(F.col("bits_set") * 1.0 / _BF_BITS, float(_BF_K)), 6
            ).alias("occupancy_fpp"),
        )
    )


_KNN_K = 5


@query(
    "knn_loo_regression_daily",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), nbrs AS (
      SELECT a.d, a.y AS y_true, b.y AS y_nbr,
             row_number() OVER (PARTITION BY a.d
               ORDER BY abs(a.x - b.x), abs(a.d - b.d), b.d) AS rk
      FROM daily a JOIN daily b ON a.d <> b.d
    ), pred AS (
      SELECT d, max(y_true) AS y_true,
             CAST(round(avg(y_nbr * 1.0) * 1000000) AS BIGINT)
               AS yhat_micro
      FROM nbrs WHERE rk <= {_KNN_K} GROUP BY d
    ), knn AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sqrt(sum(pow(y_true - yhat_micro / 1000000.0, 2))
                  / count(*)) AS rmse_knn
      FROM pred
    ), ols AS (
      SELECT (sum(CAST(x AS DOUBLE) * y) - sum(x) * 1.0 * sum(y)
                / count(*))
             / (sum(CAST(x AS DOUBLE) * x) - sum(x) * 1.0 * sum(x)
                / count(*)) AS beta,
             sum(y) * 1.0 / count(*) AS ybar,
             sum(x) * 1.0 / count(*) AS xbar
      FROM daily
    ), ols_rmse AS (
      SELECT sqrt(sum(pow(y - (o.ybar + o.beta * (x - o.xbar)), 2))
                  / count(*)) AS rmse_ols
      FROM daily CROSS JOIN ols o
    )
    SELECT k.n AS n_days,
           CAST({_KNN_K} AS BIGINT) AS k_neighbors,
           round(k.rmse_knn, 6) AS rmse_knn_k,
           round(r.rmse_ols, 6) AS rmse_ols_k,
           round(k.rmse_knn / r.rmse_ols, 6) AS rmse_ratio
    FROM knn k CROSS JOIN ols_rmse r
    """,
)
def knn_loo_regression_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out {_KNN_K}-NN regression of daily revenue on daily
    order count: each day's prediction averages the revenues of its
    {_KNN_K} nearest days by count distance (self excluded, ties
    broken by day distance then day), with LOO RMSE compared to the
    closed-form OLS line on the same frame. k-NN beating OLS flags
    nonlinearity `nadaraya_watson_regression` would smooth through
    at a fixed bandwidth; losing flags variance from tiny
    neighborhoods — instance-based learning, exactly evaluated.

    Determinism: neighbor ranking is exact integer comparison with a
    full tie-break chain; per-day predictions quantize to
    micro-units before the RMSE.

    Scale: the pair join is calendar x calendar (~5.8M light
    integer rows — the `kendall_tau_daily` precedent), bounded by
    the date range regardless of corpus size; everything else is
    single aggregations.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("y"),
    ).cache()
    a, b = daily.alias("a"), daily.alias("b")
    nbrs = a.join(F.broadcast(b), F.col("a.d") != F.col("b.d")).select(
        F.col("a.d").alias("d"),
        F.col("a.y").alias("y_true"),
        F.col("b.y").alias("y_nbr"),
        F.row_number()
        .over(
            Window.partitionBy("a.d").orderBy(
                F.abs(F.col("a.x") - F.col("b.x")),
                F.abs(F.col("a.d") - F.col("b.d")),
                F.col("b.d"),
            )
        )
        .alias("rk"),
    )
    pred = (
        nbrs.where(F.col("rk") <= _KNN_K)
        .groupBy("d")
        .agg(
            F.max("y_true").alias("y_true"),
            F.round(F.avg(F.col("y_nbr") * 1.0) * 1000000)
            .cast("bigint")
            .alias("yhat_micro"),
        )
    )
    knn = pred.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sqrt(
            F.sum(
                F.pow(
                    F.col("y_true") - F.col("yhat_micro") / 1000000.0, 2
                )
            )
            / F.count(F.lit(1))
        ).alias("rmse_knn"),
    )
    ols = daily.agg(
        (
            (
                F.sum(F.col("x").cast("double") * F.col("y"))
                - F.sum("x") * 1.0 * F.sum("y") / F.count(F.lit(1))
            )
            / (
                F.sum(F.col("x").cast("double") * F.col("x"))
                - F.sum("x") * 1.0 * F.sum("x") / F.count(F.lit(1))
            )
        ).alias("beta"),
        (F.sum("y") * 1.0 / F.count(F.lit(1))).alias("ybar"),
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("xbar"),
    )
    ols_rmse = daily.crossJoin(F.broadcast(ols)).agg(
        F.sqrt(
            F.sum(
                F.pow(
                    F.col("y")
                    - (
                        F.col("ybar")
                        + F.col("beta") * (F.col("x") - F.col("xbar"))
                    ),
                    2,
                )
            )
            / F.count(F.lit(1))
        ).alias("rmse_ols")
    )
    return knn.crossJoin(F.broadcast(ols_rmse)).select(
        F.col("n").alias("n_days"),
        F.lit(_KNN_K).cast("bigint").alias("k_neighbors"),
        F.round("rmse_knn", 6).alias("rmse_knn_k"),
        F.round("rmse_ols", 6).alias("rmse_ols_k"),
        F.round(F.col("rmse_knn") / F.col("rmse_ols"), 6).alias(
            "rmse_ratio"
        ),
    )
