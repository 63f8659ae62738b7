"""Re-record ``eventlog.jsonl``, the fixture of ``test_eventlog.py``.

    python3 perfbench/tests/data/record_eventlog.py

Runs on local[2] with an uncompressed event log: an eager one-stage job
under job group ``pb/0/0/build``, a two-stage aggregate over an Arrow
Python UDF under ``pb/1/0/exec``, and one streaming micro-batch (which
runs under its own job group). Only job, stage and task events are kept,
without call sites, paths or plan text.
"""

import glob
import json
import os
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
}


def slim(ev: dict) -> dict:
    """Keep what the reader uses; drop call sites, paths and plan text."""
    ev.pop("Task Executor Metrics", None)
    ev.pop("Stage Infos", None)
    if "Properties" in ev:
        ev["Properties"] = {
            k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"
        }
    if "Stage Info" in ev:
        ev["Stage Info"] = {"Stage ID": ev["Stage Info"]["Stage ID"]}
    return ev


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true"
            f" --conf spark.eventLog.dir=file://{tmp}"
            " --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false"
            f" --conf spark.local.dir={tmp}"
            " pyspark-shell"
        )
        import pandas as pd
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext

        @F.pandas_udf("long")
        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1

        sc.setJobGroup("pb/0/0/build", "eager")
        sc.parallelize(range(10), 2).sum()
        sc.setJobGroup("pb/1/0/exec", "query")
        df = spark.range(0, 1000, numPartitions=2).select(
            (plus_one("id") % 7).alias("k")
        )
        df.groupBy("k").count().write.format("noop").mode("overwrite").save()
        sc.setJobGroup("pb/idle/0/none", "stream")
        src = os.path.join(tmp, "src")
        spark.range(0, 100, numPartitions=1).write.parquet(src)
        q = (
            spark.readStream.schema("id long")
            .parquet(src)
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.stop()
        (path,) = glob.glob(os.path.join(tmp, "local-*"))
        with open(path) as f, open(os.path.join(HERE, "eventlog.jsonl"), "w") as out:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] in KEEP:
                    out.write(json.dumps(slim(ev)) + "\n")


if __name__ == "__main__":
    main()
