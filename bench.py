#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "sf_dir": ..., "cpus": ...,
"spark_version": ...}, where ``cpus`` is the session's resolved default
parallelism.

Each query executes its full plan via the noop sink (no driver
materialization, no result-size bias).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _host_load() -> dict:
    """Load stamp for the artifact: /proc/loadavg + concurrent worker-ish
    process count. A concurrent pytest batch contaminated a committed
    bench artifact in round 7 (dedup_minhash_lsh 2.5 s vs 1.2 s idle —
    see BENCH_NOTES.md); the stamp makes that failure mode visible in
    the artifact itself, and the guard below refuses to record numbers
    on a busy host."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as f:
            la = f.read().split()
        out["loadavg_1m"] = float(la[0])
        out["loadavg_5m"] = float(la[1])
    except OSError:
        pass
    procs = 0
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as f:
                    c = f.read().strip()
            except OSError:
                continue
            if c.startswith(("python", "java")):
                procs += 1
    except OSError:
        procs = -1
    out["py_java_procs"] = procs  # includes this bench process itself
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_QUIET_LOGS", "1")

    load_start = _host_load()
    la1 = load_start.get("loadavg_1m", 0.0)
    if la1 > 8.0 and os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
        # strict mode for hand runs; the default still RECORDS (the driver
        # invokes bench unattended — failing its artifact would be worse
        # than stamping a suspect one) but flags host_busy in the output
        print(
            f"bench.py: host busy (loadavg 1m = {la1}); numbers would be "
            "contaminated — rerun when idle or unset SPARK_GRAFT_BENCH_STRICT",
            file=sys.stderr,
        )
        sys.exit(2)
    if la1 > 2.0:
        print(
            f"bench.py: WARNING loadavg 1m = {la1} > 2.0 at start — "
            "treat the recorded numbers as suspect (host_busy flagged)",
            file=sys.stderr,
        )

    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.session import get_spark

    spark = get_spark("bench")
    registry = load_all_queries()
    headline = {n: qd for n, qd in registry.items() if qd.headline}

    # one warmup pass to exclude JVM/codegen cold-start from per-query times
    # (the alphabetically first headline query, whatever the registry order)
    headline[sorted(headline)[0]].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # the warmup query may be cache-bearing: drop its blocks so the first
    # timed query's run-1 (the cold column) starts from a clean cache, the
    # same state every later query gets after the per-query clearCache
    spark.catalog.clearCache()

    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    colds: dict[str, float] = {}
    for name, qd in sorted(headline.items()):
        # best-of-5: the first run may pay codegen/JIT compilation for this
        # query's operators, and single runs carry ±20% scheduler noise on
        # a busy host; the min is the steady-state number. The median is
        # reported alongside so a round-over-round delta can be classified:
        # min moved ⇒ the plan changed; only median moved ⇒ host noise
        # (methodology note per round-4 verdict task 8 — top_customers'
        # +21% was noise on an unchanged plan).
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # run 1 is this query's COLD time: caches were cleared after the
        # previous query, so cache-bearing plans pay their full recompute
        # here (r10 verdict item 2 — the warm min undersells cold cost;
        # additions-only, min-of-5 semantics untouched)
        colds[name] = round(runs[0], 3)
        runs.sort()
        times[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        # drop this query's cached blocks before the next query times —
        # the caller contract __spark_entry__ documents (and sweeps/
        # measure_warm already follow); without it every cache-bearing
        # plan leaks DISK/memory blocks into all later queries' runs.
        # Within one query's 5 runs caches persist as before (min-of-5
        # semantics unchanged); this only stops CROSS-query pressure.
        spark.catalog.clearCache()

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "queries_cold": colds,
        "runs_per_query": 5,
        "method": "min of 5 timed runs per query (the first timed run "
        "absorbs that query's codegen; one global JVM warmup pass runs "
        "before any timing); medians reported to separate plan "
        "regressions from scheduler noise; queries_cold is each query's "
        "timed run 1, so it includes that query's codegen and JIT",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sf_dir": sf_dir,
        "cpus": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "host_load_start": load_start,
        "host_load_end": _host_load(),
        "host_busy": la1 > 2.0,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
