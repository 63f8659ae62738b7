"""Warehouse wave 2 — partition-layout runtime behaviors and the
pandas-UDAF escape hatch: dynamic partition pruning (DPP), dynamic
partition OVERWRITE semantics, and an Arrow-batched grouped aggregate
for math no built-in aggregate expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import fixture_dir, load

_DPP_DAYS = ("2024-01-05", "2024-01-12", "2024-01-19")


def _day_partitioned_events(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Stage events as a day-partitioned parquet table plus a tiny
    campaign-day dim table (once per testdata fingerprint)."""
    def build(path: str) -> None:
        e = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        e.write.mode("overwrite").partitionBy("day").parquet(path + "/fact")
        spark.createDataFrame(
            [
                (d, lbl, True)
                for d, lbl in zip(
                    _DPP_DAYS, ("launch", "campaign", "holiday")
                )
            ],
            "day_s STRING, label STRING, active BOOLEAN",
        ).select(
            F.to_date("day_s").alias("day"), "label", "active"
        ).write.mode("overwrite").parquet(path + "/dim")

    return fixture_dir(sf_dir, kind, "events", build)


@query(
    "dpp_prune_join",
    oracle=f"""
    WITH dim AS (
      SELECT * FROM (VALUES
        (DATE '{_DPP_DAYS[0]}', 'launch'),
        (DATE '{_DPP_DAYS[1]}', 'campaign'),
        (DATE '{_DPP_DAYS[2]}', 'holiday')) AS t(day, label)
    )
    SELECT d.label, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 10000) AS BIGINT)) AS BIGINT)
             AS value_micro
    FROM events e
    JOIN dim d ON CAST(date_trunc('day', e.ts) AS DATE) = d.day
    GROUP BY 1 ORDER BY 1
    """,
)
def dpp_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is stored day-partitioned
    and joined to a tiny 3-day dim — at planning time the filter is
    unknown, so Spark injects a runtime subquery that reads the dim FIRST
    and prunes fact partitions before the scan (the `dynamicpruning`
    expression in the plan, asserted by test). This is THE mechanism that
    makes star joins touch 3/365ths of a 100 TB fact table.

    The oracle ignores layout (DuckDB scans flat parquet) — value
    equality proves pruning lost no rows.
    """
    path = _day_partitioned_events(spark, sf_dir, "dpp_events_v2")
    fact = spark.read.parquet(path + "/fact")
    # the dim must be a FILTERED scan with a LIKELY-SELECTIVE predicate
    # for the DPP rule to arm: a LocalRelation filter would be constant-
    # folded away, and a bare boolean attribute fails Catalyst's
    # isLikelySelective test — an IN list on a stored dim passes both
    dim = (
        spark.read.parquet(path + "/dim")
        .where(F.col("label").isin("launch", "campaign", "holiday"))
        .select("day", "label")
    )
    return (
        fact.join(dim, "day")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("value_micro"),
        )
        .orderBy("label")
    )


_OVW_DAY = "2024-01-15"


@query(
    "dynamic_partition_overwrite",
    oracle=f"""
    WITH base AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type
      FROM events
    ), final AS (
      SELECT day, event_type FROM base
      WHERE day <> DATE '{_OVW_DAY}'
      UNION ALL
      SELECT day, event_type FROM base
      WHERE day = DATE '{_OVW_DAY}' AND event_type = 'purchase'
    )
    SELECT CAST(day AS VARCHAR) AS day, CAST(count(*) AS BIGINT) AS n_events
    FROM final
    WHERE day BETWEEN DATE '{_OVW_DAY}' - 1 AND DATE '{_OVW_DAY}' + 1
    GROUP BY day ORDER BY day
    """,
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition OVERWRITE (partitionOverwriteMode=dynamic): a
    day-partitioned table has ONE day's partition replaced by a curated
    subset (purchases only) — and only that partition; static mode would
    have wiped every other day. The read-back over the target day ±1
    proves neighbors survived intact — the idempotent daily-backfill
    pattern every warehouse job uses.

    Scale: the overwrite rewrites exactly one partition's files; the
    neighbor partitions are never opened (partition pruning on the
    read-back too).
    """
    def build(path: str) -> None:
        e = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        e.write.mode("overwrite").partitionBy("day").parquet(path)
        curated = e.where(
            (F.col("day") == F.lit(_OVW_DAY).cast("date"))
            & (F.col("event_type") == "purchase")
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            curated.write.mode("overwrite").partitionBy("day").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    r = spark.read.parquet(fixture_dir(sf_dir, "dynovw_events", "events", build))
    lo = F.lit(_OVW_DAY).cast("date") - 1
    hi = F.lit(_OVW_DAY).cast("date") + 1
    return (
        r.where(F.col("day").between(lo, hi))
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .orderBy("day")
    )


@query(
    "pandas_udaf_geomean",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT priority, CAST(count(*) AS BIGINT) AS n,
           round(exp(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(ln(CAST(cents AS DOUBLE)) ORDER BY cents)),
                 (a, v) -> a + v) / count(*)), 6) AS geomean_cents
    FROM o GROUP BY 1 ORDER BY 1
    """,
)
def pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Arrow-batched UDAF): the geometric
    mean of order values per priority — the escape hatch for aggregates
    no built-in expresses, at ~Arrow speed instead of row-at-a-time.
    Determinism discipline: the kernel folds math.log (glibc libm — the
    same library DuckDB's ln binds) over VALUE-SORTED floats in a
    sequential Python loop, bit-matching the oracle's ordered
    list_reduce; numpy's vectorized log/sum are deliberately avoided
    (different summation tree + SIMD log ⇒ last-ulp drift).

    Scale: partial aggregation applies per Arrow batch group-slice; the
    shuffle carries (priority, cents) pairs — combinable like any agg.
    """
    import math

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType given explicitly: this module postpones annotation
    # evaluation, so signature-based inference can't see pd.Series/float
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_fold(v):
        acc = 0.0
        for x in sorted(v.tolist()):
            acc += math.log(float(x))
        return math.exp(acc / len(v))

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # a GROUPED_AGG pandas UDF cannot share an agg with JVM aggregates —
    # the count rides in from a second combinable agg on the same shuffle
    # key, joined broadcast on the |priorities| dimension
    geo = o.groupBy("priority").agg(
        F.round(geo_fold("cents"), 6).alias("geomean_cents")
    )
    cnt = o.groupBy("priority").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        geo.join(F.broadcast(cnt), "priority")
        .select("priority", "n", "geomean_cents")
        .orderBy("priority")
    )
