"""Streaming queries exposed through the driver contract."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.streaming.events import (
    drain,
    drain_to_table,
    file_stream,
    hourly_counts_stream,
    staged_stream,
    twice,
)


@query(
    "streaming_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start, event_type
    """,
)
def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermark+window aggregation drained with the
    availableNow trigger — must equal the batch answer exactly (streaming
    correctness property), which is what the SQL oracle asserts."""
    return hourly_counts_stream(spark, sf_dir).orderBy("hour_start", "event_type")


@query(
    "streaming_sessions",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                  ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
)
def streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session_window sessionization (30-min gap),
    drained with availableNow — must equal the batch lag+cumsum answer,
    which is what the SQL oracle computes."""
    from iceberg_classifier_spark.streaming.events import session_stream

    return session_stream(spark, sf_dir).orderBy("user_id", "session_start")


@query(
    "streaming_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value,
           min(event_id) AS first_event_id
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming aggregate (applyInPandasWithState) — the
    per-user final state must equal the batch GROUP BY answer."""
    from iceberg_classifier_spark.streaming.events import user_stats_stateful_stream

    return user_stats_stateful_stream(spark, sf_dir).orderBy("user_id")


@query(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id FROM events ORDER BY user_id",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over an unbounded stream
    keeps per-key state and emits each key once — the streaming half of the
    dedup suite. Drained with availableNow; the emitted key set must equal
    batch DISTINCT. In production pair with withWatermark to bound state
    (dropDuplicatesWithinWatermark)."""
    deduped = (
        staged_stream(spark, sf_dir).select("user_id").dropDuplicates(["user_id"])
    )
    return drain_to_table(spark, deduped, "append").orderBy("user_id")


@query(
    "streaming_static_join",
    oracle="""
    WITH dim(event_type, weight) AS (VALUES
      ('click', 1.0), ('view', 0.5), ('purchase', 5.0),
      ('signup', 3.0), ('error', 0.0))
    SELECT e.event_type, d.weight, count(*) AS n_events,
           round(sum(e.value * d.weight), 4) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the unbounded event stream joins a
    broadcast static dimension (per-type weights) batch-by-batch — no
    stream-stream state, no watermark needed for the join itself. Drained
    with availableNow; the weighted per-type totals must equal the batch
    join, which is what the oracle computes.

    Scale: the static side broadcasts once per (re)load, so the streaming
    hot path stays shuffle-free until the final keyed aggregation — the
    standard shape for dimension enrichment in a 100 TB/day ingest.
    """
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0),
         ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = staged_stream(spark, sf_dir).select("event_type", "value")
    enriched = stream.join(F.broadcast(dim), "event_type")
    agg = enriched.groupBy("event_type", "weight").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
    )
    return drain_to_table(spark, agg, "complete").orderBy("event_type")


@query(
    "streaming_late_data",
    oracle="""
    WITH recent AS (
      SELECT ts FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
    ), wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM recent)
    SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_events
    FROM recent, wm
    GROUP BY 1, wm.w
    HAVING date_trunc('hour', min(ts)) + INTERVAL 1 HOUR <= wm.w
    ORDER BY 1
    """,
)
def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data handling: early-day events arriving two batches
    after the watermark passed them are dropped; append mode emits exactly
    the finalized windows of the on-time data — which is what the oracle
    computes (hourly counts of on-time events whose window closed before
    the final watermark)."""
    from iceberg_classifier_spark.streaming.events import late_data_stream

    return late_data_stream(spark, sf_dir).orderBy("hour_start")


@query(
    "streaming_foreachbatch_upsert",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2)
             AS sum_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch micro-batch MERGE: three chronological batches upsert
    per-user partials (exact integer cents) into a versioned parquet state
    store; the final store must equal the batch GROUP BY — which is what
    the oracle computes."""
    from iceberg_classifier_spark.streaming.events import upsert_state_stream

    return upsert_state_stream(spark, sf_dir).orderBy("user_id")


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within 1h)
    with watermark-bounded state, drained over three chronological
    micro-batches — the emitted pair set must equal the batch interval
    self-join, which is what the oracle computes."""
    from iceberg_classifier_spark.streaming.events import attribution_join_stream

    return attribution_join_stream(spark, sf_dir).orderBy(
        "purchase_id", "click_id"
    )


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1 ORDER BY event_type
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark: the
    feed REALLY carries duplicates (the staged source holds two copies of
    every event file, the at-least-once delivery failure mode), and the
    event-id dedup keeps only state younger than the watermark — unlike
    plain dropDuplicates, whose key state grows forever. Every duplicate
    here arrives within the 2-hour tolerance, so the drained per-type
    totals must equal batch aggregation over the UNIQUE events, which is
    what the oracle computes.

    Scale: this is the production dedup for 100 TB/day at-least-once
    feeds — state is bounded by (keys seen within the watermark), not by
    stream history; the dedup itself is one hash exchange on the key.
    """
    # one file per micro-batch: the duplicate copy must arrive in a LATER
    # batch than the original, otherwise dropDuplicatesWithinWatermark only
    # ever dedups within a single batch and the watermark-bounded state
    # eviction this op exists to demonstrate never runs
    deduped = (
        staged_stream(spark, sf_dir, split=twice)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return drain_to_table(spark, deduped, "complete").orderBy("event_type")


@query(
    "streaming_checkpoint_restart",
    oracle="""
    WITH twice AS (
      SELECT e.* FROM events e, (SELECT unnest([1, 2]) AS copy) c
    )
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 4) AS sum_value, TRUE AS exactly_once
    FROM twice GROUP BY 1 ORDER BY event_type
    """,
)
def streaming_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery / exactly-once restart: run 1 drains file A
    into a parquet sink under a checkpointLocation and terminates; file B
    then arrives; run 2 is a NEW query on the SAME checkpoint — Spark's
    offset log must skip the already-committed A and process ONLY B.
    The sink therefore holds every event exactly twice (A + B are two
    copies of the feed): ``exactly_once`` is computed from the REAL sink
    (min = max = 2 occurrences per event_id — a re-processed A would read
    3, a lost offset 1), and the per-type totals equal the oracle's
    twice-replicated batch aggregate.

    Scale: this is THE production streaming property — restart after
    failure without duplicates or loss; the checkpoint (offset log +
    sink metadata log) is what makes a 100 TB/day pipeline restartable.
    """
    import os
    import shutil
    import tempfile

    from iceberg_classifier_spark.sources.tables import table_path

    # every call gets its own source, checkpoint and sink: nothing a
    # previous call committed is read back, and nothing outlives the call
    run = tempfile.mkdtemp(prefix="ckpt_restart_")
    try:
        src, ckpt, out = (os.path.join(run, d) for d in ("src", "chk", "out"))
        os.makedirs(src)
        stream = file_stream(spark, sf_dir, "events", src).select(
            "event_id", "event_type", "value"
        )
        # run 1 processes A, commits offsets and terminates; run 2 is a new
        # query on the SAME checkpoint and must process only B
        for part in ("a_orig.parquet", "b_copy.parquet"):
            shutil.copyfile(
                os.path.realpath(table_path(sf_dir, "events")),
                os.path.join(src, part),
            )
            drain(
                spark,
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt),
            )
        sink = spark.read.parquet(out)
        per_id = sink.groupBy("event_id").agg(F.count(F.lit(1)).alias("c"))
        eo = per_id.agg(
            ((F.min("c") == 2) & (F.max("c") == 2)).alias("exactly_once")
        )
        # one row per event type: collected, so the run directory can go
        result = (
            sink.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .crossJoin(F.broadcast(eo))
            .select("event_type", "n_events", "sum_value", "exactly_once")
        )
        rows = result.collect()
        schema = result.schema
    finally:
        shutil.rmtree(run, ignore_errors=True)
    return spark.createDataFrame(rows, schema).orderBy("event_type")


@query(
    "streaming_transform_with_state",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value,
           round(max(value), 4) AS max_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas custom stateful operator
    (arbitrary typed state + timers on the RocksDB state store — the
    successor API to applyInPandasWithState): per-user ValueState running
    aggregate drained with availableNow; the final state must equal the
    batch GROUP BY, which is what the oracle asserts. Gated on protobuf
    (the API's state-server dependency): absent, the identical state
    machine runs on applyInPandasWithState, so the oracle holds on every
    environment.

    Scale: state lives in per-partition RocksDB instances keyed by the
    grouping key — state size bounds memory via spill-to-disk, and
    changelog checkpointing makes recovery incremental; the operator
    shape is identical on an unbounded production stream.
    """
    from iceberg_classifier_spark.streaming.events import (
        transform_with_state_stream,
    )

    return transform_with_state_stream(spark, sf_dir).orderBy("user_id")
