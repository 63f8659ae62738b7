"""Anomaly/directional wave 61: Seasonal-Hybrid-ESD and circular
statistics.

- `seasonal_hybrid_esd` — the industry-standard time-series anomaly
  pipeline (Twitter's S-H-ESD): remove the weekly seasonal component
  with exact per-DOW medians, center by the exact residual median,
  then run 5 generalized-ESD rounds — each recomputes the MEDIAN/MAD
  of the REMAINING days (robust, so earlier outliers cannot mask
  later ones), extracts the max studentized deviate, and tests it
  against the normal-approximated ESD critical value (shared Acklam
  quantile).
- `circular_stats_dow` — directional statistics of order timing on
  the weekly circle: mean direction (atan2 of the resultant),
  resultant length R-bar, circular variance, and the Rayleigh
  uniformity test z = n R-bar^2 with its standard p approximation.

Determinism: all medians/MADs are exact order statistics with
(value, day) tie-breaks; trig sums span exact integer DOW counts;
Acklam/Rayleigh closed forms are identical text both engines.

Scale: both reduce the fact table to the bounded calendar/DOW frame
in ONE pass; each ESD round is three ordered windows + one
TakeOrdered over <=2.4k rows (Spark truncates per-round lineage
with localCheckpoint, the iterative-algorithm pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.plans.privstat import _acklam_inv_norm
from iceberg_classifier_spark.sources.tables import load

_ESD_K = 5
_ESD_ALPHA = 0.05


def _esd_oracle() -> str:
    head = """
    WITH daily AS MATERIALIZED (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1
    ), dowmed AS MATERIALIZED (
      SELECT dow, val AS med FROM (
        SELECT d % 7 AS dow, y AS val,
               row_number() OVER (PARTITION BY d % 7 ORDER BY y, d)
                 AS rn,
               count(*) OVER (PARTITION BY d % 7) AS n
        FROM daily
      ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), resid0 AS MATERIALIZED (
      SELECT d, CAST(y - med AS DOUBLE) AS e
      FROM daily JOIN dowmed ON dowmed.dow = daily.d % 7
    ), cmed AS MATERIALIZED (
      SELECT val FROM (
        SELECT e AS val, row_number() OVER (ORDER BY e, d) AS rn,
               count(*) OVER () AS n
        FROM resid0
      ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), rem0 AS MATERIALIZED (
      SELECT d, e - (SELECT val FROM cmed) AS e FROM resid0
    )"""
    steps = []
    for k in range(1, _ESD_K + 1):
        p = k - 1
        zq = _acklam_inv_norm(
            f"1.0 - {_ESD_ALPHA} / (2.0 * (SELECT n FROM nn{k}))"
        )
        steps.append(f"""
    , nn{k} AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM rem{p}
    ), med{k} AS MATERIALIZED (
      SELECT val FROM (
        SELECT e AS val, row_number() OVER (ORDER BY e, d) AS rn,
               count(*) OVER () AS n
        FROM rem{p}
      ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), mad{k} AS MATERIALIZED (
      SELECT val FROM (
        SELECT abs(e - (SELECT val FROM med{k})) AS val,
               row_number() OVER (
                 ORDER BY abs(e - (SELECT val FROM med{k})), d) AS rn,
               count(*) OVER () AS n
        FROM rem{p}
      ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), out{k} AS MATERIALIZED (
      SELECT CAST({k} AS BIGINT) AS k, d, e,
             abs(e - (SELECT val FROM med{k}))
               / (1.4826 * (SELECT val FROM mad{k})) AS stat,
             (SELECT n FROM nn{k}) AS n,
             ({zq}) AS z
      FROM rem{p}
      ORDER BY abs(e - (SELECT val FROM med{k})) DESC, d
      LIMIT 1
    ), rem{k} AS MATERIALIZED (
      SELECT r.d, r.e FROM rem{p} r
      WHERE r.d <> (SELECT d FROM out{k})
    )""")
    union = " UNION ALL ".join(
        f"SELECT k, d, e, stat, n, z FROM out{k}"
        for k in range(1, _ESD_K + 1)
    )
    return head + "".join(steps) + f"""
    SELECT k AS esd_round, d AS outlier_day,
           round(e, 6) AS residual,
           round(stat, 6) AS test_stat,
           round((n - 1) / sqrt(CAST(n AS DOUBLE))
                 * sqrt(z * z / (n - 2 + z * z)), 6)
             AS critical_value,
           CAST(stat > (n - 1) / sqrt(CAST(n AS DOUBLE))
                * sqrt(z * z / (n - 2 + z * z)) AS BOOLEAN)
             AS significant
    FROM ({union}) ORDER BY esd_round
    """


@query("seasonal_hybrid_esd", oracle=_esd_oracle())
def seasonal_hybrid_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-Hybrid-ESD anomaly detection on daily revenue
    (Hochenbaum-Vallis-Kejariwal): subtract exact per-day-of-week
    medians (the seasonal component), center by the exact residual
    median, then {_ESD_K} generalized-ESD rounds — each recomputes
    the MEDIAN and MAD of the still-remaining days (robust location/
    scale, immune to the masking that sinks one-shot Grubbs),
    extracts the maximum studentized deviate, and compares it to
    the ESD critical value (normal-approximated via the shared
    Acklam quantile — at ~2.4k df the t/normal gap is <1e-3 of the
    critical value). The multi-outlier upgrade of
    `grubbs_outlier_test` and the robust cousin of
    `seasonal_anomaly_zscore`.

    Determinism: every median/MAD is an exact order statistic with
    (value, day) tie-breaks; critical values are identical closed
    forms; the per-round argmax is a TakeOrdered.

    Scale: ONE fact pass to the calendar frame; each round is three
    ordered windows plus a TakeOrdered over <=2.4k rows, with
    eager localCheckpoint truncating the per-round lineage (each
    round consumes the remaining-frame several times — the NMF
    iterative pattern).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice")).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )

    def exact_median(df: DataFrame, col: str, out: str) -> DataFrame:
        wall = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        ranked = df.select(
            F.col(col).alias("val"),
            F.row_number().over(Window.orderBy(col, "d")).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        return ranked.where(
            F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint")
        ).select(F.col("val").alias(out))

    wdow = Window.partitionBy("dow")
    ranked = daily.select(
        "d",
        "y",
        (F.col("d") % 7).alias("dow"),
    ).select(
        "d",
        "y",
        "dow",
        F.row_number().over(wdow.orderBy("y", "d")).alias("rn"),
        F.count(F.lit(1)).over(
            wdow.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    dowmed = ranked.where(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("bigint")
    ).select("dow", F.col("y").alias("med"))
    resid0 = (
        daily.withColumn("dow", F.col("d") % 7)
        .join(F.broadcast(dowmed), "dow")
        .select("d", (F.col("y") - F.col("med")).cast("double").alias("e"))
    )
    cmed = exact_median(resid0, "e", "cm")
    rem = (
        resid0.crossJoin(F.broadcast(cmed))
        .select("d", (F.col("e") - F.col("cm")).alias("e"))
        .localCheckpoint(eager=True)
    )
    outs = []
    for k in range(1, _ESD_K + 1):
        nn = rem.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        med = exact_median(rem, "e", "med")
        devs = rem.crossJoin(F.broadcast(med)).select(
            "d", "e", F.abs(F.col("e") - F.col("med")).alias("dev")
        )
        mad = exact_median(
            devs.select("d", F.col("dev").alias("e")), "e", "mad"
        )
        out = (
            devs.crossJoin(F.broadcast(mad))
            .crossJoin(F.broadcast(nn))
            .orderBy(F.desc("dev"), "d")
            .limit(1)
            .select(
                F.lit(k).cast("bigint").alias("esd_round"),
                F.col("d").alias("outlier_day"),
                F.round("e", 6).alias("residual"),
                (F.col("dev") / (1.4826 * F.col("mad"))).alias("stat"),
                "n",
                F.expr(
                    _acklam_inv_norm(f"1.0 - {_ESD_ALPHA} / (2.0 * n)")
                ).alias("z"),
            )
            .localCheckpoint(eager=True)
        )
        outs.append(out)
        rem = (
            rem.join(
                F.broadcast(out.select(F.col("outlier_day").alias("d"))),
                "d",
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    allout = outs[0]
    for x in outs[1:]:
        allout = allout.unionByName(x)
    crit = (
        (F.col("n") - 1)
        / F.sqrt(F.col("n").cast("double"))
        * F.sqrt(
            F.col("z") * F.col("z") / (F.col("n") - 2 + F.col("z") * F.col("z"))
        )
    )
    return allout.select(
        "esd_round",
        "outlier_day",
        "residual",
        F.round("stat", 6).alias("test_stat"),
        F.round(crit, 6).alias("critical_value"),
        (F.col("stat") > crit).alias("significant"),
    ).orderBy("esd_round")


@query(
    "circular_stats_dow",
    oracle="""
    WITH ang AS (
      SELECT (date_diff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) % 7)
               * 2.0 * 3.141592653589793 / 7.0 AS theta
      FROM orders
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(cos(theta)) AS c,
             sum(sin(theta)) AS s
      FROM ang
    )
    SELECT n AS n_orders,
           round(atan2(s, c), 6) AS mean_direction_rad,
           round(atan2(s, c) * 7.0 / (2.0 * 3.141592653589793), 6)
             AS mean_dow,
           round(sqrt(c * c + s * s) / n, 6) AS resultant_r,
           round(1.0 - sqrt(c * c + s * s) / n, 6) AS circular_var,
           round(n * pow(sqrt(c * c + s * s) / n, 2), 6)
             AS rayleigh_z,
           round(exp(-n * pow(sqrt(c * c + s * s) / n, 2)), 6)
             AS rayleigh_p,
           CAST(exp(-n * pow(sqrt(c * c + s * s) / n, 2)) < 0.05
             AS BOOLEAN) AS nonuniform_5pct
    FROM mom
    """,
)
def circular_stats_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional statistics of order timing on the weekly circle:
    each order maps to angle 2 pi dow/7; the resultant vector gives
    the mean direction (the 'average day of week' computed
    correctly — arithmetic means are meaningless on a circle),
    resultant length R-bar, circular variance 1 - R-bar, and the
    Rayleigh uniformity test z = n R-bar^2 with the first-order
    p ~ e^(-z). The circular complement of `seasonal_dow_index`
    (per-day level indices) — one test says whether weekly phase
    concentration exists at all.

    Determinism: angles take 7 exact values, so the trig sums are
    integer-weighted sums of 7 constants; all outputs are closed
    forms rounded 6dp.

    Scale: ONE stateless fact pass into a 3-number moment row —
    map-side combinable end to end.
    """
    o = load(spark, sf_dir, "orders")
    theta = (order_day() % 7) * 2.0 * 3.141592653589793 / 7.0
    mom = o.select(theta.alias("theta")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.cos("theta")).alias("c"),
        F.sum(F.sin("theta")).alias("s"),
    )
    r = F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s")) / F.col("n")
    z = F.col("n") * F.pow(r, 2)
    return mom.select(
        F.col("n").alias("n_orders"),
        F.round(F.atan2(F.col("s"), F.col("c")), 6).alias(
            "mean_direction_rad"
        ),
        F.round(
            F.atan2(F.col("s"), F.col("c")) * 7.0 / (2.0 * 3.141592653589793),
            6,
        ).alias("mean_dow"),
        F.round(r, 6).alias("resultant_r"),
        F.round(1.0 - r, 6).alias("circular_var"),
        F.round(z, 6).alias("rayleigh_z"),
        F.round(F.exp(-z), 6).alias("rayleigh_p"),
        (F.exp(-z) < 0.05).alias("nonuniform_5pct"),
    )
