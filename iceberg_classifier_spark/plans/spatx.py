"""Spatial/storage wave 67: Gi* hotspots and LSM write amplification.

- `getis_ord_gi_star` — the Getis-Ord Gi* LOCAL hotspot statistic
  over the full 12x36 ten-degree grid of synthetic customer
  locations (the `geo_radius_pairs` coordinate scheme): per cell,
  the 3x3-neighborhood sum standardized against the global field
  gives an inferential z-score (which `geo_cell_hotspots`' raw
  neighbor counts cannot), top hotspots reported. Empty cells
  participate as zeros — required for valid Gi* inference.
- `lsm_compaction_model_replay` — a leveled LSM tree (L0..L3, 10x
  fan-out thresholds) replayed over the daily ingest stream: every
  flush and cascading level merge charges its bytes, yielding the
  measured WRITE AMPLIFICATION — the storage-engine cost model
  behind `cow_vs_mor_write_amplification` (per-commit) and
  `compact_small_files` (one-shot), here as level dynamics.

Determinism: counts/coordinates are exact integer LCG values; Gi*
z-scores are closed forms of exact moments; the LSM fold is the
identical cascade template over the day-pinned stream.

Scale: Gi* reduces customers to the fixed 432-cell grid in ONE pass
and joins a 9-offset dimension; the LSM fold walks the bounded
calendar frame (level state is O(levels), the real engine's shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.operators.timeline import order_day
from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_GI_CELL = 10000000 * 10  # 10-degree cells in microdegrees
_GI_ROWS = 12
_GI_COLS = 36
_GI_TOPK = 10


@query(
    "getis_ord_gi_star",
    oracle=f"""
    WITH pts AS (
      SELECT (c_custkey * 48271) % 120000000 AS lat,
             (c_custkey * 69621) % 360000000 AS lon
      FROM customer
    ), counts AS (
      SELECT CAST(lat // {_GI_CELL} AS BIGINT) AS r,
             CAST(lon // {_GI_CELL} AS BIGINT) AS cc,
             CAST(count(*) AS BIGINT) AS x
      FROM pts GROUP BY 1, 2
    ), grid AS (
      SELECT r.r, c.cc, COALESCE(k.x, 0) AS x
      FROM generate_series(0, {_GI_ROWS - 1}) r(r)
      CROSS JOIN generate_series(0, {_GI_COLS - 1}) c(cc)
      LEFT JOIN counts k ON k.r = r.r AND k.cc = c.cc
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) * 1.0 / count(*) AS xbar,
             sqrt(sum(CAST(x AS DOUBLE) * x) / count(*)
                  - pow(sum(x) * 1.0 / count(*), 2)) AS s
      FROM grid
    ), neigh AS (
      SELECT g.r, g.cc,
             CAST(count(*) AS BIGINT) AS w,
             CAST(sum(h.x) AS BIGINT) AS nsum,
             max(g.x) AS x_self
      FROM grid g
      JOIN (SELECT dr, dc FROM generate_series(-1, 1) a(dr)
            CROSS JOIN generate_series(-1, 1) b(dc)) o ON TRUE
      JOIN grid h ON h.r = g.r + o.dr AND h.cc = g.cc + o.dc
      GROUP BY g.r, g.cc
    ), scored AS (
      SELECT n.r, n.cc, n.x_self, n.nsum, n.w,
             (n.nsum - m.xbar * n.w)
             / (m.s * sqrt((m.n * n.w - CAST(n.w AS DOUBLE) * n.w)
                           / (m.n - 1))) AS z
      FROM neigh n CROSS JOIN mom m
    )
    SELECT CAST(r AS BIGINT) AS cell_row, CAST(cc AS BIGINT) AS cell_col,
           CAST(x_self AS BIGINT) AS cell_count,
           CAST(nsum AS BIGINT) AS neighborhood_count,
           CAST(w AS BIGINT) AS n_neighbors,
           round(z, 6) AS gi_star_z,
           CAST(z > 1.644854 AS BOOLEAN) AS hotspot_5pct
    FROM scored
    ORDER BY round(z, 6) DESC, cell_row, cell_col
    LIMIT {_GI_TOPK}
    """,
)
def getis_ord_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* local hotspot detection on the full
    {_GI_ROWS}x{_GI_COLS} ten-degree grid of synthetic customer
    locations: each cell's 3x3-neighborhood count (self included,
    edges truncated) standardizes against the global field as
    z = (sum - xbar W) / (S sqrt((nW - W^2)/(n-1))) — LOCAL
    inference `morans_i_cells`' single global index cannot give,
    and a significance scale `geo_cell_hotspots`' raw sums lack.
    Empty cells enter as zeros (dropping them biases xbar and
    breaks the null). Top-{_GI_TOPK} hotspots reported, ordered by
    the ROUNDED z (sister cells tie exactly; raw-float order would
    be engine-dependent).

    Determinism: coordinates are exact integer LCG residues; counts
    and moments are exact; z is one closed form rounded 6dp.

    Scale: ONE pass reduces customers to <=432 occupied cells; the
    full grid is a fixed dimension frame; the neighborhood join is
    grid x 9 offsets — all bounded regardless of customer count.
    """
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        ((F.col("c_custkey") * 48271) % 120000000).alias("lat"),
        ((F.col("c_custkey") * 69621) % 360000000).alias("lon"),
    )
    counts = pts.groupBy(
        F.floor(F.col("lat") / _GI_CELL).cast("bigint").alias("r"),
        F.floor(F.col("lon") / _GI_CELL).cast("bigint").alias("cc"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    rows = spark.range(0, _GI_ROWS).select(F.col("id").alias("r"))
    cols = spark.range(0, _GI_COLS).select(F.col("id").alias("cc"))
    grid = (
        rows.crossJoin(cols)
        .join(counts, ["r", "cc"], "left")
        .select("r", "cc", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .cache()
    )
    mom = grid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("x") * 1.0 / F.count(F.lit(1))).alias("xbar"),
        F.sqrt(
            F.sum(F.col("x").cast("double") * F.col("x"))
            / F.count(F.lit(1))
            - F.pow(F.sum("x") * 1.0 / F.count(F.lit(1)), 2)
        ).alias("s"),
    )
    dr = spark.range(-1, 2).select(F.col("id").alias("dr"))
    dc = spark.range(-1, 2).select(F.col("id").alias("dc"))
    offsets = dr.crossJoin(dc)
    h = grid.select(
        F.col("r").alias("hr"), F.col("cc").alias("hc"), F.col("x").alias("hx")
    )
    neigh = (
        grid.crossJoin(F.broadcast(offsets))
        .join(
            F.broadcast(h),
            (F.col("hr") == F.col("r") + F.col("dr"))
            & (F.col("hc") == F.col("cc") + F.col("dc")),
        )
        .groupBy("r", "cc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("w"),
            F.sum("hx").cast("bigint").alias("nsum"),
            F.max("x").alias("x_self"),
        )
    )
    z = (F.col("nsum") - F.col("xbar") * F.col("w")) / (
        F.col("s")
        * F.sqrt(
            (F.col("n") * F.col("w") - F.col("w").cast("double") * F.col("w"))
            / (F.col("n") - 1)
        )
    )
    return (
        neigh.crossJoin(F.broadcast(mom))
        .select(
            F.col("r").alias("cell_row"),
            F.col("cc").alias("cell_col"),
            F.col("x_self").cast("bigint").alias("cell_count"),
            F.col("nsum").alias("neighborhood_count"),
            F.col("w").alias("n_neighbors"),
            F.round(z, 6).alias("gi_star_z"),
            (z > 1.644854).alias("hotspot_5pct"),
        )
        .orderBy(F.desc("gi_star_z"), "cell_row", "cell_col")
        .limit(_GI_TOPK)
    )


# leveled-LSM thresholds ($k ingest units): L0 flushes into L1 past
# T0, L1 into L2 past T1, L2 into L3 past T2 (10x fan-out)
_LSM_T0 = 200000.0
_LSM_T1 = 2000000.0
_LSM_T2 = 20000000.0


def _lsm_step(a_fmt: str, sz: str) -> str:
    """Leveled-compaction cascade. Accumulator: [l0, l1, l2, l3,
    written, ingested, m0, m1, m2]. Ingest lands in L0 (flush
    charges its bytes); any level past threshold merges wholesale
    into the next (charging level + target bytes), evaluated top
    down in the same day.
    """
    def a(i: int) -> str:
        return a_fmt.format(i=i)

    l0p = f"({a(1)} + {sz})"
    m0 = f"({l0p} >= {_LSM_T0})"
    l1p = f"(CASE WHEN {m0} THEN {a(2)} + {l0p} ELSE {a(2)} END)"
    m1 = f"({l1p} >= {_LSM_T1})"
    l2p = f"(CASE WHEN {m1} THEN {a(3)} + {l1p} ELSE {a(3)} END)"
    m2 = f"({l2p} >= {_LSM_T2})"
    l3p = f"(CASE WHEN {m2} THEN {a(4)} + {l2p} ELSE {a(4)} END)"
    written = (
        f"{a(5)} + {sz}"
        f" + CASE WHEN {m0} THEN {l0p} + {a(2)} ELSE 0.0 END"
        f" + CASE WHEN {m1} THEN {l1p} + {a(3)} ELSE 0.0 END"
        f" + CASE WHEN {m2} THEN {l2p} + {a(4)} ELSE 0.0 END"
    )
    return (
        f"CASE WHEN {m0} THEN 0.0 ELSE {l0p} END,"
        f" CASE WHEN {m1} THEN 0.0 ELSE {l1p} END,"
        f" CASE WHEN {m2} THEN 0.0 ELSE {l2p} END,"
        f" {l3p},"
        f" {written},"
        f" {a(6)} + {sz},"
        f" {a(7)} + CASE WHEN {m0} THEN 1.0 ELSE 0.0 END,"
        f" {a(8)} + CASE WHEN {m1} THEN 1.0 ELSE 0.0 END,"
        f" {a(9)} + CASE WHEN {m2} THEN 1.0 ELSE 0.0 END"
    )


_LSM_DUCK = _lsm_step("a[{i}]", "b[2]")
_LSM_SPARK = _lsm_step("element_at(a, {i})", "element_at(x, 2)")


@query(
    "lsm_compaction_model_replay",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS d,
             CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))
               AS DOUBLE) / 1000.0) AS BIGINT) AS sz
      FROM orders GROUP BY 1
    ), folded AS (
      SELECT list_reduce(
               list_prepend(
                 [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
                 list([CAST(d AS DOUBLE), CAST(sz AS DOUBLE)]
                      ORDER BY d)),
               (a, b) -> [{_LSM_DUCK}]) AS acc
      FROM daily
    )
    SELECT CAST(acc[6] AS BIGINT) AS ingested_k,
           CAST(acc[5] AS BIGINT) AS written_k,
           round(acc[5] / acc[6], 6) AS write_amplification,
           CAST(acc[7] AS BIGINT) AS l0_merges,
           CAST(acc[8] AS BIGINT) AS l1_merges,
           CAST(acc[9] AS BIGINT) AS l2_merges,
           CAST(acc[1] AS BIGINT) AS l0_resident_k,
           CAST(acc[2] AS BIGINT) AS l1_resident_k,
           CAST(acc[3] AS BIGINT) AS l2_resident_k,
           CAST(acc[4] AS BIGINT) AS l3_resident_k
    FROM folded
    """,
)
def lsm_compaction_model_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leveled LSM-tree compaction replayed over the daily ingest
    stream ($1k revenue units as bytes): each day flushes into L0,
    and any level crossing its threshold ({_LSM_T0:.0f} /
    {_LSM_T1:.0f} / {_LSM_T2:.0f} — 10x fan-out) merges wholesale
    into the next, charging source+target bytes. The measured WRITE
    AMPLIFICATION (written/ingested) is THE cost that sizes
    RocksDB-style storage; emits per-level merge counts and
    resident sizes. The level-dynamics complement of
    `cow_vs_mor_write_amplification` (per-commit strategies) and
    `compact_small_files` (one-shot bin packing).

    Determinism: ingest sizes are exact int64; the cascade is the
    identical template both engines fold in day order; all byte
    counters stay integer-valued doubles.

    Scale: the fold walks the bounded calendar frame with O(levels)
    state — exactly the memory profile of the real engine; at
    production scale each shard folds its own stream (per-key
    stateful shape).
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(order_day().alias("d")).agg(
        F.expr(
            "CAST(round(CAST(sum(CAST(round(o_totalprice) AS BIGINT))"
            " AS DOUBLE) / 1000.0) AS BIGINT)"
        ).alias("sz")
    )
    folded = daily.agg(
        F.expr(
            "aggregate("
            " array_sort(collect_list(array(CAST(d AS DOUBLE),"
            "                               CAST(sz AS DOUBLE)))),"
            " array(0D, 0D, 0D, 0D, 0D, 0D, 0D, 0D, 0D),"
            f" (a, x) -> array({_LSM_SPARK}))"
        ).alias("acc")
    )
    return folded.select(
        F.element_at("acc", 6).cast("bigint").alias("ingested_k"),
        F.element_at("acc", 5).cast("bigint").alias("written_k"),
        F.round(
            F.element_at("acc", 5) / F.element_at("acc", 6), 6
        ).alias("write_amplification"),
        F.element_at("acc", 7).cast("bigint").alias("l0_merges"),
        F.element_at("acc", 8).cast("bigint").alias("l1_merges"),
        F.element_at("acc", 9).cast("bigint").alias("l2_merges"),
        F.element_at("acc", 1).cast("bigint").alias("l0_resident_k"),
        F.element_at("acc", 2).cast("bigint").alias("l1_resident_k"),
        F.element_at("acc", 3).cast("bigint").alias("l2_resident_k"),
        F.element_at("acc", 4).cast("bigint").alias("l3_resident_k"),
    )
