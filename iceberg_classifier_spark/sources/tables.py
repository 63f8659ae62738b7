"""Parquet star-schema loader.

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file (or directory) per table under a
scale-factor directory. Loading is lazy (Spark scans are deferred) and the
schema is whatever the files carry; column pruning + predicate pushdown are
left to Catalyst, so callers should select/filter on the returned frames
directly rather than materializing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic SF.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_LTZ at µs precision.

    The driver's events parquet has carried the timestamp as either
    TIMESTAMP(NANOS) (arriving as long ns under
    spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (arriving as TIMESTAMP_NTZ, which
    unix_micros/window/watermark reject). Both normalize to the same UTC
    instant DuckDB's naive timestamp uses, since the session timezone is
    pinned to UTC.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        # integer `div`, not `/`: float division of an ~1.7e18 ns epoch
        # loses µs precision in double.
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast("timestamp_ltz"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_ts(df)
    return df


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load + right-size for CPU-heavy per-row kernels (shingling, crypto
    hashing, tokenization).

    A parquet file with a single row group is unsplittable, so the scan —
    and every narrow transform fused onto it — runs as ONE task no matter
    how many cores the cluster has. When the scan yields fewer partitions
    than half the default parallelism, a round-robin repartition spreads
    rows across all cores before the expensive kernel; the shuffled bytes
    are just the raw rows, a fraction of the downstream hash work it
    unlocks. On production layouts (many files / many row groups) the
    scan is already parallel and this no-ops — the repartition only fires
    on pathological layouts, so it never adds a corpus-wide shuffle at
    100 TB.
    """
    df = load(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def parquet_column_bounds(sf_dir: str, name: str, column: str):
    """(min, max) of a column from parquet FOOTER statistics — no Spark
    job, so plan-time eligibility checks (e.g. "do these ids fit an int64
    pack?") cost ~ms even inside a timed bench run. Returns None when any
    row group lacks min/max stats, when a bound is not an integer (string
    ids), when the table directory holds a subdirectory (a partitioned
    layout whose nested files this probe does not read), or when the probe
    fails; callers must fall back to an always-correct unpacked path."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    try:
        if os.path.isdir(path):
            entries = list(os.scandir(path))
            if any(e.is_dir() for e in entries):
                return None
            files = [e.path for e in entries if e.name.endswith(".parquet")]
        else:
            files = [path]
        lo, hi = None, None
        for f in files:
            md = pq.read_metadata(f)
            idx = md.schema.names.index(column)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if type(lo) is not int or type(hi) is not int:
            return None
        return lo, hi
    except Exception:  # noqa: BLE001 — stats probe must never break a plan
        return None


def fixture_dir(sf_dir: str, kind: str, table: str, build) -> str:
    """Path of the fixture ``kind`` derived from ``table``, staged once in
    a temp directory. Keyed on the source file's real path and its
    (mtime, size) fingerprint: regenerated testdata never reuses a stale
    fixture, a relative ``sf_dir`` shares the stage of its absolute form,
    and two checkouts with the same frame basename never share one.
    ``build(path)`` writes the fixture into a fresh private directory that
    is renamed into place when it returns, so a killed or concurrent
    build is never read half-written."""
    import hashlib
    import shutil
    import tempfile
    import uuid

    src = os.path.realpath(table_path(sf_dir, table))
    st = os.stat(src)
    key = f"{src}|{st.st_mtime_ns}|{st.st_size}".encode()
    path = os.path.join(
        tempfile.gettempdir(),
        f"icebergspark_{kind}_{hashlib.sha256(key).hexdigest()[:16]}",
    )
    if os.path.isdir(path):
        return path
    tmp = f"{path}.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp)
        if not os.path.isdir(path):  # not a stage another caller renamed first
            raise
    return path
