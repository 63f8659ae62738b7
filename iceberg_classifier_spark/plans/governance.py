"""Data-governance operators: snapshot time travel and right-to-be-
forgotten delete propagation.

Both are table-format / compliance features a lakehouse engine owes its
users: versioned reads against an Iceberg-style metadata pointer, and a
cascading purge across the fact graph driven by a deletion-request
dimension.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import fixture_dir, load


@query(
    "snapshot_time_travel",
    oracle="""
    WITH v1 AS (SELECT c_custkey, c_mktsegment FROM customer),
    v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN 'AUTOMOBILE'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 97 != 0
    ), s1 AS (
      SELECT c_mktsegment AS segment, count(*) AS n FROM v1 GROUP BY 1
    ), s2 AS (
      SELECT c_mktsegment AS segment, count(*) AS n FROM v2 GROUP BY 1
    )
    SELECT coalesce(s1.segment, s2.segment) AS segment,
           CAST(coalesce(s1.n, 0) AS BIGINT) AS n_v1,
           CAST(coalesce(s2.n, 0) AS BIGINT) AS n_v2,
           CAST(coalesce(s2.n, 0) - coalesce(s1.n, 0) AS BIGINT) AS delta
    FROM s1 FULL OUTER JOIN s2 ON s1.segment = s2.segment
    ORDER BY segment
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style snapshot time travel, emulated on plain parquet: two
    committed versions of the customer dimension live as immutable
    snapshot directories under a JSON metadata pointer (version →
    path, committed order), exactly the table-format contract — readers
    pick a snapshot by version, never by overwriting files. v2 applies a
    deterministic churn (10%% segment reassignments, ~1%% deletions); the
    query reads BOTH versions through the manifest and reports the
    per-segment drift an audit would ask of `AS OF VERSION 1` vs current.

    Scale: snapshots are written once per dataset fingerprint and read as
    ordinary parquet (full predicate/column pushdown); the manifest is a
    single tiny JSON read driver-side — the same metadata-pointer
    indirection real table formats use, so swapping in Iceberg changes
    only the reader.
    """
    def build(path: str) -> None:
        c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        v1 = c
        v2 = c.where(F.col("c_custkey") % 97 != 0).select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.lit("AUTOMOBILE"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
        )
        v1.write.mode("overwrite").parquet(os.path.join(path, "v1"))
        v2.write.mode("overwrite").parquet(os.path.join(path, "v2"))
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(
                {"current": 2, "snapshots": {"1": "v1", "2": "v2"}}, f
            )

    path = fixture_dir(sf_dir, "timetravel", "customer", build)
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)

    def read_version(v: int) -> DataFrame:
        return spark.read.parquet(
            os.path.join(path, manifest["snapshots"][str(v)])
        )

    s1 = read_version(1).groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n1")
    )
    s2 = read_version(manifest["current"]).groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(F.count(F.lit(1)).alias("n2"))
    return (
        s1.join(s2, "segment", "full_outer")
        .select(
            "segment",
            F.coalesce("n1", F.lit(0)).cast("bigint").alias("n_v1"),
            F.coalesce("n2", F.lit(0)).cast("bigint").alias("n_v2"),
            (F.coalesce("n2", F.lit(0)) - F.coalesce("n1", F.lit(0)))
            .cast("bigint")
            .alias("delta"),
        )
        .orderBy("segment")
    )


@query(
    "gdpr_delete_propagation",
    oracle="""
    WITH req AS (SELECT c_custkey FROM customer WHERE c_custkey % 53 = 0),
    del_o AS (
      SELECT o_orderkey FROM orders JOIN req ON o_custkey = c_custkey
    ), c AS (
      SELECT 'customer' AS tbl, (SELECT count(*) FROM customer) AS before,
             (SELECT count(*) FROM req) AS purged
    ), o AS (
      SELECT 'orders' AS tbl, (SELECT count(*) FROM orders) AS before,
             (SELECT count(*) FROM del_o) AS purged
    ), l AS (
      SELECT 'lineitem' AS tbl, (SELECT count(*) FROM lineitem) AS before,
             (SELECT count(*) FROM lineitem JOIN del_o
              ON l_orderkey = o_orderkey) AS purged
    )
    SELECT tbl, CAST(before AS BIGINT) AS rows_before,
           CAST(purged AS BIGINT) AS rows_purged,
           CAST(before - purged AS BIGINT) AS rows_after
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
    ORDER BY tbl
    """,
)
def gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade: a deletion-request dimension (the
    deterministic 1-in-53 custkey slice standing in for a requests table)
    propagates through the fact graph — customers → their orders → those
    orders' lineitems — and the audit reports rows before / purged /
    after per table, the evidence trail a GDPR/CCPA erasure run must
    produce.

    Scale: the request dim broadcasts into a semi-join on customers and
    orders; the order-key set for the lineitem purge is itself the result
    of a broadcast join, re-broadcast because deletion batches are small
    by construction (regulatory requests, not table-scale). For a mass
    purge, the same plan flips to shuffle semi-joins — only join strategy
    changes, not the cascade.
    """
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    req = cust.where(F.col("c_custkey") % 53 == 0).select("c_custkey")
    del_o = orders.join(
        F.broadcast(req), orders.o_custkey == req.c_custkey
    ).select("o_orderkey")

    def audit(tbl: str, full: DataFrame, purged: DataFrame) -> DataFrame:
        b = full.agg(F.count(F.lit(1)).alias("rows_before"))
        p = purged.agg(F.count(F.lit(1)).alias("rows_purged"))
        return (
            b.crossJoin(F.broadcast(p))
            .select(
                F.lit(tbl).alias("tbl"),
                F.col("rows_before").cast("bigint"),
                F.col("rows_purged").cast("bigint"),
                (F.col("rows_before") - F.col("rows_purged"))
                .cast("bigint")
                .alias("rows_after"),
            )
        )

    li_purged = li.join(F.broadcast(del_o), li.l_orderkey == del_o.o_orderkey)
    return (
        audit("customer", cust, req)
        .unionByName(audit("orders", orders, del_o))
        .unionByName(audit("lineitem", li, li_purged))
        .orderBy("tbl")
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------

_KANON_K = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS nation,
             CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
             c_mktsegment AS sensitive
      FROM customer
    ), cls AS (
      SELECT nation, bal_bucket, CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT sensitive) AS BIGINT) AS l_div
      FROM q GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n FROM cls)
    SELECT CAST(length(printf('%b', sz)) - 1 AS INTEGER) AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
             AS n_below_k,
           CAST(min(l_div) AS BIGINT) AS min_l_diversity,
           CAST(sum(sz) * 1000000 // max(tot.n) AS BIGINT) AS share_ppm
    FROM cls CROSS JOIN tot
    GROUP BY 1 ORDER BY 1
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of a quasi-identifier release:
    customers keyed by (nation, $1000 balance bucket) form equivalence
    classes; the report histograms class sizes by floor(log2), counts the
    customers re-identifiable under k<{_KANON_K} (the rows a release
    would have to generalize or suppress), and tracks the minimum
    l-diversity of the sensitive attribute (market segment) per size
    tier — a class can be k-anonymous yet still leak the sensitive value
    if every member shares it. The privacy-engineering companion to
    gdpr_delete_propagation (deletion) and dp_noisy_counts (noise):
    this one measures the released table's intrinsic linkage risk.

    Scale: one map-side-combined groupBy on the quasi-identifier; the
    histogram and shares run on the class dimension. Exact integers
    throughout.
    """
    q = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").alias(
            "bal_bucket"
        ),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cls = q.groupBy("nation", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.countDistinct("sensitive").cast("bigint").alias("l_div"),
    )
    tot = cls.agg(F.sum("sz").cast("bigint").alias("n"))
    return (
        cls.crossJoin(F.broadcast(tot))
        .groupBy(
            (F.floor(F.log2("sz"))).cast("int").alias("size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_customers"),
            F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_below_k"),
            F.min("l_div").cast("bigint").alias("min_l_diversity"),
            F.expr("CAST(sum(sz) * 1000000 div max(n) AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("size_bucket")
    )
