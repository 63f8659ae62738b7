"""PySpark 4 Python DataSource API surface: a custom partitioned JSONL
source registered with ``spark.dataSource.register`` and driven through
``spark.read.format(...)`` — the extension point for ingesting formats and
systems Spark has no built-in connector for.

The demo stages events as JSON-lines text (Jackson writes doubles with
shortest round-trip repr, so the values survive exactly), then reads them
back through the custom source — one InputPartition per file — and
aggregates. The oracle runs the same aggregate on the ORIGINAL table: a
lossless-roundtrip proof, not a file-order-dependent check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_classifier_spark.plans.registry import query
from iceberg_classifier_spark.sources.tables import load

_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"


@query(
    "python_datasource_jsonl",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def python_datasource_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (pyspark.sql.datasource): JSONL reader with
    one InputPartition per staged file, registered and consumed via the
    standard ``spark.read.format("jsonl_py")`` path, then aggregated; the
    oracle aggregates the pre-roundtrip table (exact integer cents), so any
    loss or duplication in the connector fails the hash.

    Scale: ``partitions()`` enumerates splits on the driver (cheap listing)
    and each executor parses its files with Arrow's vectorized JSON reader,
    yielding RecordBatches straight into Spark — the same split/enumerate
    shape as a JVM FileSourceScan with no per-row Python in the scan, so
    parallelism tracks file count; the aggregate after it is ordinary
    map-side-combined Spark.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    from iceberg_classifier_spark.sources.tables import fixture_dir

    def build(path: str) -> None:
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        ev.select(
            F.to_json(
                F.struct("event_id", "user_id", "event_type", "value")
            ).alias("value")
        ).repartition(4).write.mode("overwrite").text(path)

    path = fixture_dir(sf_dir, "jsonl_src", "events", build)

    class JsonlSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_py"

        def schema(self) -> str:
            return _SCHEMA

        def reader(self, schema):
            return JsonlReader(self.options["path"])

    class JsonlReader(DataSourceReader):
        def __init__(self, path: str):
            self.path = path

        def partitions(self):
            import glob

            return [
                InputPartition(p) for p in sorted(glob.glob(self.path + "/part-*"))
            ]

        def read(self, partition):
            # yield Arrow RecordBatches (not Python tuples): the file is
            # parsed by Arrow's vectorized JSON reader and handed to Spark
            # zero-copy — no per-row Python in the scan
            import pyarrow as pa
            from pyarrow import json as pa_json

            schema = pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("value", pa.float64()),
                ]
            )
            tbl = pa_json.read_json(
                partition.value,
                parse_options=pa_json.ParseOptions(explicit_schema=schema),
            )
            yield from tbl.to_batches()

    spark.dataSource.register(JsonlSource)
    src = (
        spark.read.format("jsonl_py").schema(_SCHEMA).option("path", path).load()
    )
    return (
        src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "python_datasource_writer",
    oracle="""
    SELECT o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_total
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write half of the Python DataSource API: orders stream through a
    custom sink (one file per task, a WriterCommitMessage per partition,
    driver-side commit), then the files are read back and aggregated; the
    oracle aggregates the source table, so the sink must be exactly-once
    and lossless.

    Scale: write tasks are embarrassingly parallel; the two-phase
    task-message → driver-commit protocol is what makes speculative retries
    and task failures safe (only committed messages count) — the same
    contract JVM FileFormatWriter implements, exposed to Python for systems
    Spark has no native sink for.
    """
    import os
    import shutil

    from pyspark import TaskContext
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    tag = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/icebergspark_pysink_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    class SinkMsg(WriterCommitMessage):
        def __init__(self, path: str, n: int):
            self.path, self.n = path, n

    class LineSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "line_sink_py"

        def writer(self, schema, overwrite):
            return LineSinkWriter(self.options["path"])

    class LineSinkWriter(DataSourceWriter):
        def __init__(self, path: str):
            self.path = path

        def write(self, it):
            pid = TaskContext.get().partitionId()
            p = os.path.join(self.path, f"part-{pid:05d}.txt")
            n = 0
            with open(p, "w") as f:
                for row in it:
                    f.write(f"{row.o_orderkey},{row.priority},{row.cents}\n")
                    n += 1
            return SinkMsg(p, n)

        def commit(self, messages):
            pass  # all task files already in place; nothing to finalize

        def abort(self, messages):
            for m in messages:
                if m is not None and os.path.exists(m.path):
                    os.remove(m.path)

    spark.dataSource.register(LineSink)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    o.repartition(4).write.format("line_sink_py").mode("append").option(
        "path", path
    ).save()
    back = spark.read.text(path).select(F.split("value", ",").alias("p")).select(
        F.col("p")[1].alias("priority"), F.col("p")[2].cast("bigint").alias("cents")
    )
    return (
        back.groupBy("priority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents_total"))
        .orderBy("priority")
    )


@query(
    "python_datasource_stream_counts",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def python_datasource_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Python DataSource API
    (DataSourceStreamReader): a custom micro-batch source over the events
    table that advances its offset one row-range chunk per batch,
    enumerates one InputPartition per chunk on the driver, and parses
    rows on executors with Arrow — then drains through a memory sink and
    aggregates. The final aggregate must equal the batch answer however
    the rows were split into micro-batches, which is what the oracle
    asserts (exact integer cents).

    availableNow isn't supported by Python micro-batch streams (Spark
    falls back to one batch), so the drain runs a fast processing-time
    trigger and stops once every chunk is committed — the offsets, chunk
    contents, and therefore the result are deterministic.

    Scale: offsets/partition enumeration are driver-side metadata only;
    each executor reads its row range straight from the parquet footer
    offsets via Arrow (no per-row Python), the same contract a Kafka
    micro-batch source implements.
    """
    import time

    import pyarrow.parquet as pq
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    from iceberg_classifier_spark.sources.tables import table_path

    src_path = table_path(sf_dir, "events")
    total_rows = pq.ParquetFile(src_path).metadata.num_rows
    chunk = max(1, total_rows // 4)

    class EventsStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "events_stream_py"

        def schema(self) -> str:
            return "event_type string, value double"

        def streamReader(self, schema):
            return EventsStreamReader(self.options["path"], int(self.options["chunk"]))

    class RangePartition(InputPartition):
        def __init__(self, path, start, end):
            self.path, self.start, self.end = path, start, end

    class EventsStreamReader(DataSourceStreamReader):
        def __init__(self, path: str, chunk: int):
            self.path, self.chunk = path, chunk
            self.total = pq.ParquetFile(path).metadata.num_rows

        def initialOffset(self):
            return {"row": 0}

        def latestOffset(self):
            # advance one chunk per micro-batch until the table is drained
            if not hasattr(self, "_hi"):
                self._hi = 0
            self._hi = min(self._hi + self.chunk, self.total)
            return {"row": self._hi}

        def partitions(self, start, end):
            return [RangePartition(self.path, start["row"], end["row"])]

        def read(self, partition):
            import pyarrow.parquet as _pq

            tbl = _pq.read_table(
                partition.path, columns=["event_type", "value"]
            ).slice(partition.start, partition.end - partition.start)
            yield from tbl.to_batches()

        def commit(self, end):
            pass

    spark.dataSource.register(EventsStreamSource)
    import uuid as _uuid

    sink = f"pystream_{_uuid.uuid4().hex[:8]}"
    from iceberg_classifier_spark.streaming.events import streaming_shuffle

    stream = (
        spark.readStream.format("events_stream_py")
        .option("path", src_path)
        .option("chunk", str(chunk))
        .load()
    )
    with streaming_shuffle(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(sink).count() >= total_rows:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )
