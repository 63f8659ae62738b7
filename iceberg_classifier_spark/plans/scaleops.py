"""Scale-pattern operators: time-series gap-fill with interpolation
(hypertable-rollup style), skew-salted join, analytic window suite, and a
partitioned-sink + partition-pruning read-back.

Each query here demonstrates a technique that matters specifically at
100 TB — bounded-state resampling, hot-key dispersion, single-shuffle
analytics, and storage-layout pruning — while staying exactly
oracle-checkable at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_BUCKET = 600  # 10-minute resample grain


@query(
    "events_gapfill",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / {_BUCKET}) * {_BUCKET} AS BIGINT) AS epoch,
             value
      FROM events
    ), agg AS (
      SELECT event_type, epoch, round(sum(value), 4) AS v, count(*) AS n
      FROM b GROUP BY 1, 2
    ), rng AS (SELECT min(epoch) AS mn, max(epoch) AS mx FROM b),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(rng.mn, rng.mx, {_BUCKET})) AS epoch
      FROM (SELECT DISTINCT event_type FROM events) t, rng
    ), j AS (
      SELECT s.event_type, s.epoch, a.v, a.n
      FROM spine s LEFT JOIN agg a USING (event_type, epoch)
    ), f AS (
      SELECT *,
        last_value(CASE WHEN v IS NOT NULL
                        THEN struct_pack(e := epoch, v := v) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY epoch
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        first_value(CASE WHEN v IS NOT NULL
                         THEN struct_pack(e := epoch, v := v) END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY epoch
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
      FROM j
    )
    SELECT event_type, epoch AS bucket_epoch,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           coalesce(v, pv.v + (nx.v - pv.v) * (epoch - pv.e)
                              / (nx.e - pv.e), pv.v, nx.v) AS v_filled,
           (v IS NULL) AS is_gap
    FROM f ORDER BY event_type, epoch
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a 10-minute grid with gap-fill: missing
    buckets get LINEAR interpolation between the nearest measured
    neighbours (edges fall back to nearest-value fill) — the
    TimescaleDB-style ``time_bucket_gapfill + interpolate`` rollup.

    Scale: the raw table collapses to |series|×|buckets| partial sums
    (map-side combined) before any window runs; the spine is generated,
    never stored; interpolation is two IGNORE-NULLS window passes over the
    already-tiny resampled frame. For spines too long for one partition,
    re-chunk by (series, day) and stitch boundaries — the raw-data shuffle
    is unchanged. Epoch seconds (not timestamps) cross the engine boundary
    so no timezone semantics are in play.
    """
    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / _BUCKET) * _BUCKET).alias("epoch"),
        "value",
    )
    # bucket sums are rounded BEFORE interpolation so both engines feed the
    # interpolator bit-identical doubles (2-decimal inputs → exact at 4dp);
    # midpoints can land exactly on a rounding boundary, so the inputs must
    # match exactly, not just to within float-summation noise
    agg = b.groupBy("event_type", "epoch").agg(
        F.round(F.sum("value"), 4).alias("v"), F.count(F.lit(1)).alias("n")
    )
    rng = b.agg(F.min("epoch").alias("mn"), F.max("epoch").alias("mx"))
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx", F.lit(_BUCKET))).alias("epoch"),
        )
    )
    j = spine.join(agg, ["event_type", "epoch"], "left")
    mk = F.when(F.col("v").isNotNull(), F.struct(F.col("epoch").alias("e"), F.col("v")))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("epoch")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the nearest FOLLOWING measurement via a running frame over DESC order:
    # Spark executes a (1, unboundedFollowing) first_value frame by
    # re-aggregating from scratch per row — O(rows²) per partition — while
    # both running frames here are a single O(rows) pass
    w_next = (
        Window.partitionBy("event_type")
        .orderBy(F.desc("epoch"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pv = F.last(mk, ignorenulls=True).over(w_prev)
    nx = F.last(mk, ignorenulls=True).over(w_next)
    interp = pv["v"] + (nx["v"] - pv["v"]) * (F.col("epoch") - pv["e"]) / (
        nx["e"] - pv["e"]
    )
    return (
        j.withColumn("pv", pv)
        .withColumn("nx", nx)
        .select(
            "event_type",
            F.col("epoch").alias("bucket_epoch"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            # no final rounding: interpolated midpoints sit exactly on
            # rounding-half boundaries, where Spark (BigDecimal HALF_UP) and
            # DuckDB (double multiply-then-round) disagree. With 4dp-rounded
            # bucket sums as inputs, both engines evaluate the identical
            # expression tree → bit-identical IEEE doubles, no rounding needed
            F.coalesce(F.col("v"), interp, pv["v"], nx["v"]).alias("v_filled"),
            F.col("v").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "bucket_epoch")
    )


_SALTS = 8


@query(
    "skew_salted_join",
    oracle="""
    WITH ut AS (
      SELECT user_id, sum(value) AS user_total FROM events GROUP BY 1
    )
    SELECT e.event_type, count(*) AS n_events,
           round(sum(e.value / ut.user_total), 6) AS weighted_sum
    FROM events e JOIN ut USING (user_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe fact⋈dim join via salting: the dim side is replicated
    across 8 salts, the fact side picks a deterministic salt from a row
    hash, and the join key becomes (user_id, salt) — so one whale user's
    rows spread over 8 reducers instead of melting one. The result is
    bit-identical to the plain join (the oracle computes the plain join).

    Scale: this is the manual fallback when AQE skew-join splitting can't
    apply (e.g. the skewed side feeds a window, or a non-shuffle join
    boundary). Salt count trades dim duplication for parallelism; 8× a
    small dim is noise, 8× fewer straggler seconds is not.
    """
    e = load(spark, sf_dir, "events")
    ut = e.groupBy("user_id").agg(F.sum("value").alias("user_total"))
    salted_dim = ut.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    )
    fact = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)).cast("int"))
    return (
        fact.join(salted_dim, ["user_id", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") / F.col("user_total")), 6).alias(
                "weighted_sum"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "customer_window_suite",
    oracle="""
    WITH r AS (
      SELECT c_custkey, c_nationkey, c_acctbal,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY c_nationkey) AS nn,
             lag(c_acctbal) OVER w AS prev_bal,
             sum(c_acctbal) OVER (PARTITION BY c_nationkey ORDER BY
               c_acctbal, c_custkey ROWS UNBOUNDED PRECEDING) AS rb
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_custkey,
           c_nationkey AS nation,
           round(c_acctbal, 2) AS acctbal,
           CAST(rn AS BIGINT) AS rnk,
           CASE WHEN nn = 1 THEN 0.0 ELSE
             CAST((2 * (rn - 1) * 1000000 + (nn - 1)) // (2 * (nn - 1))
                  AS DOUBLE) / 1000000 END AS pct_rank,
           CAST((2 * rn * 1000000 + nn) // (2 * nn) AS DOUBLE) / 1000000
             AS cume,
           round(c_acctbal - prev_bal, 2) AS step_up,
           round(rb, 2) AS running_bal
    FROM r ORDER BY nation, rnk
    """,
)
def customer_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window function suite (rank / percent_rank / cume_dist /
    lag delta / running sum) over one window spec — everything computes in
    a SINGLE shuffle on the partition key because every function shares the
    (nation, balance, custkey) sort. The unique (balance, custkey) sort key
    makes rank-family outputs tie-free and deterministic across engines —
    and lets percent_rank/cume_dist be emitted as exact-integer HALF_UP
    ratios of (row_number, partition count) instead of round(double, 6):
    the round-6 sf0.1 parity sweep caught a cume value landing exactly on
    a .5 six-decimal boundary, where the two engines' double rounding
    split 1e-6 apart. rank() == row_number() here by key uniqueness.
    """
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("c_nationkey")
    base = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("nn"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.sum("c_acctbal").over(wsum).alias("rb"),
    )
    return (
        base.select(
            "c_custkey",
            F.col("c_nationkey").alias("nation"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("rn").cast("bigint").alias("rnk"),
            # row_number() is IntegerType in Spark (BIGINT in DuckDB), so
            # the ×2×1,000,000 must widen rn first: a window partition of
            # ~1,074+ rows wraps int32 — crashed under ANSI at organic sf1
            # (6k customers/nation), silent garbage without ANSI
            F.when(F.col("nn") == 1, F.lit(0.0))
            .otherwise(
                F.expr(
                    "CAST((2 * CAST(rn - 1 AS BIGINT) * 1000000 + (nn - 1))"
                    " div (2 * (nn - 1)) AS DOUBLE)"
                )
                / 1000000
            )
            .alias("pct_rank"),
            (
                F.expr(
                    "CAST((2 * CAST(rn AS BIGINT) * 1000000 + nn)"
                    " div (2 * nn) AS DOUBLE)"
                )
                / 1000000
            ).alias("cume"),
            F.round(F.col("c_acctbal") - F.col("prev_bal"), 2).alias(
                "step_up"
            ),
            F.round("rb", 2).alias("running_bal"),
        )
        .orderBy("nation", "rnk")
    )


@query(
    "partitioned_prune_readback",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, event_type,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def partitioned_prune_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-parquet sink + partition-pruned read-back: events are
    written partitioned by event_date (the storage layout a 100 TB event
    store lives in), then a one-week range query reads back ONLY the seven
    matching directories — `.explain` shows the range in PartitionFilters
    with the other ~23 days never opened. The oracle runs the same range
    aggregate against the original table, proving the round-trip is
    lossless.
    """
    from iceberg_classifier_spark.sources.sinks import write_parquet
    from iceberg_classifier_spark.sources.tables import fixture_dir

    def build(path: str) -> None:
        e = load(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        write_parquet(e, path, partition_by=["event_date"])

    path = fixture_dir(sf_dir, "part_demo", "events", build)
    r = spark.read.parquet(path).where(
        F.col("event_date").between("2024-01-10", "2024-01-16")
    )
    return (
        r.groupBy(F.col("event_date").cast("string").alias("event_date"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


@query(
    "csv_roundtrip",
    oracle="""
    SELECT o_orderstatus, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price,
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS min_date,
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS max_date
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round-trip: orders is exported as a distributed
    multi-part CSV directory (header, ISO dates) and read back with an
    EXPLICIT DDL schema — never inferSchema, which would cost an extra
    full scan and can mistype columns — then aggregated; the oracle runs
    the same aggregate on the original table, proving the text round-trip
    is lossless (doubles survive via shortest-representation printing,
    summed as exact integer cents).
    """
    from iceberg_classifier_spark.sources.tables import fixture_dir

    def build(path: str) -> None:
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_orderdate"),
        )
        o.write.mode("overwrite").option("header", True).csv(path)

    path = fixture_dir(sf_dir, "csv_demo", "orders", build)
    r = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
        " o_orderdate date"
    ).option("header", True).csv(path)
    return (
        r.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0,
                2,
            ).alias("total_price"),
            F.min("o_orderdate").cast("string").alias("min_date"),
            F.max("o_orderdate").cast("string").alias("max_date"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip with predicate pushdown: orders is
    written as zlib ORC and read back with a date filter that reaches the
    ORC reader's search argument (row-group stats skip cold stripes, the
    columnar projection reads only 3 of 6 columns); the oracle applies the
    same filter to the original table, proving the round-trip + pushdown
    path is lossless.
    """
    from iceberg_classifier_spark.sources.tables import fixture_dir

    def build(path: str) -> None:
        o = load(spark, sf_dir, "orders")
        o.write.mode("overwrite").option("compression", "zlib").orc(path)

    path = fixture_dir(sf_dir, "orc_demo", "orders", build)
    r = spark.read.orc(path).where(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        r.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "compact_small_files",
    oracle="""
    SELECT 'after' AS stage, 4 AS n_files, count(*) AS n_rows,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
             AS sum_value
    FROM events
    UNION ALL
    SELECT 'before', 64, count(*),
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
    FROM events
    ORDER BY stage
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction (table maintenance): a 64-way fragmented
    write is compacted to 4 files with a round-robin repartition, and the
    report proves both layouts hold exactly the same data (row count +
    cents-exact value sum) with the promised file counts.

    Scale: the small-files problem dominates streaming sinks at 100 TB —
    per-file open/footer costs and scheduler pressure grow with file
    count, not bytes. Compaction is one shuffle-less-than-a-sort
    (RoundRobinPartitioning); production systems drive the target file
    count from bytes/file (e.g. 512 MB), not a constant.
    """
    from iceberg_classifier_spark.sources.tables import fixture_dir

    def build(root: str) -> None:
        e = load(spark, sf_dir, "events")
        e.repartition(64).write.mode("overwrite").parquet(f"{root}/frag")
        spark.read.parquet(f"{root}/frag").repartition(4).write.mode(
            "overwrite"
        ).parquet(f"{root}/compacted")

    root = fixture_dir(sf_dir, "compact_demo", "events", build)
    frag = f"{root}/frag"
    compacted = f"{root}/compacted"

    def report(path: str, stage: str) -> DataFrame:
        d = spark.read.parquet(path)
        # input_file_name() is non-deterministic, so it must be projected
        # before it can feed an aggregate
        n_files = (
            d.select(F.input_file_name().alias("f"))
            .distinct()
            .agg(F.count(F.lit(1)).cast("int").alias("n_files"))
        )
        return (
            d.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    / 100.0,
                    2,
                ).alias("sum_value"),
            )
            .crossJoin(F.broadcast(n_files))
            .select(
                F.lit(stage).alias("stage"), "n_files", "n_rows", "sum_value"
            )
        )

    return report(compacted, "after").unionAll(report(frag, "before")).orderBy(
        "stage"
    )


@query(
    "zorder_cluster",
    oracle="""
    WITH r AS (
      SELECT min(o_custkey) AS minc, max(o_custkey) AS maxc,
             min(CAST(o_orderdate AS DATE)) AS mind,
             max(CAST(o_orderdate AS DATE)) AS maxd
      FROM orders
    ), g AS (
      SELECT ((o_custkey - r.minc) * 256) // (r.maxc - r.minc + 1) AS xb,
             (date_diff('day', r.mind, CAST(o_orderdate AS DATE)) * 256)
               // (date_diff('day', r.mind, r.maxd) + 1) AS yb,
             o_custkey,
             date_diff('day', r.mind, CAST(o_orderdate AS DATE)) AS day_off,
             r.maxc - r.minc AS crange, date_diff('day', r.mind, r.maxd) AS drange
      FROM orders, r
    ), z AS (
      SELECT *,
             list_sum(list_transform(generate_series(0, 7),
               i -> (((xb >> i) & 1) << (2 * i + 1)) + (((yb >> i) & 1) << (2 * i))))
               AS zval
      FROM g
    )
    SELECT CAST(zval >> 12 AS BIGINT) AS bucket, count(*) AS n,
           min(o_custkey) AS cust_lo, max(o_custkey) AS cust_hi,
           CAST(min(day_off) AS BIGINT) AS day_lo,
           CAST(max(day_off) AS BIGINT) AS day_hi,
           round((max(o_custkey) - min(o_custkey)) * 1.0 / any_value(crange), 6)
             AS cust_span_frac,
           round((max(day_off) - min(day_off)) * 1.0 / any_value(drange), 6)
             AS day_span_frac
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (custkey, orderdate): each
    dimension normalized to 8 bits, bits interleaved into a 16-bit z-value,
    rows assigned to 16 z-range buckets. The report shows every bucket
    spanning ~25% of BOTH dimensions — the multi-dimensional locality that
    makes file-level min/max skipping work for predicates on EITHER column
    (single-dim range layout gives 1/16 on one dim, 100% on the other).

    Scale: this is the Delta/Iceberg OPTIMIZE ZORDER kernel — computing z is
    a map-only integer expression; writing clustered files is then just
    ``repartitionByRange(zval)``. Min/max normalization uses one tiny
    pre-aggregate broadcast; all bucket arithmetic is exact integers, so
    the oracle matches bit-for-bit including the span fractions.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("od")
    )
    r = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("od").alias("mind"),
        F.max("od").alias("maxd"),
    )
    g = o.crossJoin(F.broadcast(r)).select(
        "o_custkey",
        F.floor(
            ((F.col("o_custkey") - F.col("minc")) * 256)
            / (F.col("maxc") - F.col("minc") + 1)
        ).alias("xb"),
        F.datediff("od", "mind").alias("day_off"),
        F.floor(
            (F.datediff("od", "mind").cast("long") * 256)
            / (F.datediff("maxd", "mind") + 1)
        ).alias("yb"),
        (F.col("maxc") - F.col("minc")).alias("crange"),
        F.datediff("maxd", "mind").alias("drange"),
    )
    zval = None
    for i in range(8):
        term = F.shiftleft(F.shiftright(F.col("xb"), i).bitwiseAND(1), 2 * i + 1) + (
            F.shiftleft(F.shiftright(F.col("yb"), i).bitwiseAND(1), 2 * i)
        )
        zval = term if zval is None else zval + term
    z = g.withColumn("zval", zval)
    return (
        z.groupBy(F.shiftright("zval", 12).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").alias("cust_lo"),
            F.max("o_custkey").alias("cust_hi"),
            F.min("day_off").cast("bigint").alias("day_lo"),
            F.max("day_off").cast("bigint").alias("day_hi"),
            F.round(
                (F.max("o_custkey") - F.min("o_custkey"))
                * 1.0
                / F.any_value("crange"),
                6,
            ).alias("cust_span_frac"),
            F.round(
                (F.max("day_off") - F.min("day_off")) * 1.0 / F.any_value("drange"),
                6,
            ).alias("day_span_frac"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Zone-map (row-group min/max) pruning audit
# ---------------------------------------------------------------------------

_ZM_ROWS = 4096  # simulated row-group size (rows per file chunk)
_ZM_LO = 10_000_00  # predicate: cents in [lo, hi)
_ZM_HI = 20_000_00


@query(
    "rowgroup_stats_pruning",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ), spans AS (
      SELECT 'insertion' AS layout, k // {_ZM_ROWS} AS fid, c FROM o
      UNION ALL
      SELECT 'clustered' AS layout, c // 400000 AS fid, c FROM o
    ), zm AS (
      SELECT layout, fid, min(c) AS mn, max(c) AS mx,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN c >= {_ZM_LO} AND c < {_ZM_HI}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM spans GROUP BY 1, 2
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN mx < {_ZM_LO} OR mn >= {_ZM_HI}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           round(sum(CASE WHEN mx < {_ZM_LO} OR mn >= {_ZM_HI}
                          THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS skip_frac,
           CAST(sum(CASE WHEN mx < {_ZM_LO} OR mn >= {_ZM_HI}
                         THEN 0 ELSE n END) AS BIGINT) AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matching
    FROM zm GROUP BY 1 ORDER BY 1
    """,
)
def rowgroup_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit — the quantified answer to 'why cluster?':
    simulate per-file min/max column statistics (parquet row-group /
    Iceberg manifest zone maps) under two physical layouts — insertion
    order (files = orderkey ranges) and value-clustered (files = order-
    value ranges, what a sort/Z-order compaction produces) — and report,
    for the same range predicate, how many files each layout can skip
    WITHOUT reading them and how many rows survive to the scan. The
    clustered layout prunes all but the overlapping value range; the
    insertion layout scans nearly everything — this differential is the
    whole economic case for clustering 100 TB tables.

    Scale: zone maps aggregate map-side (two counters per file); the
    audit never touches row data after the one grouped pass — exactly how
    an engine's manifest-level planning works.
    """
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    spans = o.select(
        F.lit("insertion").alias("layout"),
        F.expr(f"k div {_ZM_ROWS}").alias("fid"),
        "c",
    ).unionByName(
        o.select(
            F.lit("clustered").alias("layout"),
            F.expr("c div 400000").alias("fid"),
            "c",
        )
    )
    in_pred = (F.col("c") >= _ZM_LO) & (F.col("c") < _ZM_HI)
    zm = spans.groupBy("layout", "fid").agg(
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(in_pred.cast("bigint")).cast("bigint").alias("n_match"),
    )
    skipped = (F.col("mx") < _ZM_LO) | (F.col("mn") >= _ZM_HI)
    return (
        zm.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(skipped.cast("bigint")).cast("bigint").alias("n_skipped"),
            F.round(
                F.sum(skipped.cast("bigint")) * 1.0 / F.count(F.lit(1)), 6
            ).alias("skip_frac"),
            F.sum(F.when(skipped, 0).otherwise(F.col("n")))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Bitmap-index activity rollup (roaring-bitmap shape, 64-bit words)
# ---------------------------------------------------------------------------


@query(
    "bitmap_user_activity",
    oracle="""
    WITH b AS (
      SELECT date_trunc('month', ts) AS month, date_trunc('day', ts) AS day,
             user_id // 32 AS word,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
                  AS BIGINT) AS bits
      FROM events GROUP BY 1, 2, 3
    ), daily AS (
      SELECT month, day, CAST(sum(bit_count(bits)) AS BIGINT) AS dau
      FROM b GROUP BY 1, 2
    ), monthly AS (
      SELECT month,
             CAST(sum(bit_count(mbits)) AS BIGINT) AS mau
      FROM (SELECT month, word, CAST(bit_or(bits) AS BIGINT) AS mbits
            FROM b GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT d.month, CAST(count(*) AS BIGINT) AS n_days,
           CAST(min(d.dau) AS BIGINT) AS min_dau,
           CAST(max(d.dau) AS BIGINT) AS max_dau,
           CAST(max(m.mau) AS BIGINT) AS mau,
           round(avg(d.dau) / max(m.mau), 6) AS stickiness
    FROM daily d JOIN monthly m USING (month)
    GROUP BY 1 ORDER BY 1
    """,
)
def bitmap_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index DAU/MAU rollup: each (day, 32-user word) holds one
    int64 bitmap built with bit_or(1 << user%32) (32-bit packing keeps
    the shift off the sign bit, which DuckDB rejects); daily actives are
    popcounts, and MONTHLY actives come from OR-ing the daily word
    bitmaps before popcounting — set union as pure bitwise algebra, the
    roaring-bitmap construction every interactive analytics store uses
    for distinct-user rollups. Stickiness = avg DAU / MAU per month.
    Everything is exact integer arithmetic.

    Scale: the bitmap build is one map-side-combinable groupBy whose
    state is |users|/32 words per day — OR and popcount are
    associative, so week/month/quarter rollups reuse the same word
    frames without ever re-touching events; compare the plain
    countDistinct, which must re-shuffle raw user ids per grain.
    """
    e = load(spark, sf_dir, "events")
    b = (
        e.groupBy(
            F.date_trunc("month", F.col("ts")).alias("month"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.expr("user_id div 32").alias("word"),
        )
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(user_id % 32 AS INT)))"
            )
            .cast("bigint")
            .alias("bits")
        )
    )
    daily = b.groupBy("month", "day").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("dau")
    )
    monthly = (
        b.groupBy("month", "word")
        .agg(F.expr("bit_or(bits)").cast("bigint").alias("mbits"))
        .groupBy("month")
        .agg(F.sum(F.bit_count("mbits")).cast("bigint").alias("mau"))
    )
    return (
        daily.join(monthly, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.min("dau").cast("bigint").alias("min_dau"),
            F.max("dau").cast("bigint").alias("max_dau"),
            F.max("mau").cast("bigint").alias("mau"),
            F.round(F.avg("dau") / F.max("mau"), 6).alias("stickiness"),
        )
        .orderBy("month")
    )
