#!/usr/bin/env python3
"""Count the streaming queries and micro-batches each streaming builder runs.

Builds every registered query whose name starts with ``streaming_`` (plus
``python_datasource_stream_counts``) once, with a StreamingQueryListener
attached, and records per builder how many streaming queries it started,
how many micro-batches (progress events) they ran, and the input rows of
each batch. A refactor of the streaming plumbing must leave these numbers
unchanged: a split source that stops arriving one part per trigger, or a
restart that skips a drain, shows up here even when the rows still match.

Usage: python scripts/stream_batches.py <sf_dir> [out_json]
Prints one line per builder; writes the JSON only when out_json is given.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_QUIET_LOGS", "1")
    from pyspark.sql.streaming import StreamingQueryListener

    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.session import get_spark

    sf_dir = sys.argv[1]
    spark = get_spark("stream-batches")
    registry = load_all_queries()
    names = sorted(
        n for n in registry
        if n.startswith("streaming_") or n == "python_datasource_stream_counts"
    )
    log = {"started": 0, "terminated": 0, "batches": []}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            log["started"] += 1

        def onQueryProgress(self, event):
            log["batches"].append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            log["terminated"] += 1

    spark.streams.addListener(Listener())
    out = {}
    for name in names:
        log.update(started=0, terminated=0, batches=[])
        rows = registry[name].fn(spark, sf_dir).count()
        # progress and termination events arrive on the async listener bus
        deadline = time.time() + 30
        while log["terminated"] < log["started"] and time.time() < deadline:
            time.sleep(0.1)
        out[name] = {
            "queries": log["started"],
            "batches": len(log["batches"]),
            "batch_rows": list(log["batches"]),
            "rows": rows,
        }
        print(name, json.dumps(out[name]), flush=True)
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as f:
            json.dump({"sf_dir": sf_dir, "builders": out}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
