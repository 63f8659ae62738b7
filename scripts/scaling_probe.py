"""Core-scaling probe at a real SF (r10 verdict item 3): run the headline
queries at 8 vs 32 cores on the SAME frame and report per-query min times
and the 8/32 ratio. The driver's sf0.1 probe is scheduler-constant-bound
(every query 0.2-2 s, ratios ~1 regardless of parallelism); at sf1+ a
data-bound query should show ratio >> 1 and a dimension-bound one ~1.

Each core count runs in its own subprocess (fresh JVM, master
local[$cpus] via SPARK_GRAFT_CPUS — the same env the driver's bench
contract uses), min of N runs per query after one warmup pass.

Usage: python scripts/scaling_probe.py <sf_dir> <out_json> [runs=2]
       [names_csv] (default: headline set)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.environ["SPARK_GRAFT_CPUS"] = sys.argv[2]
os.environ.setdefault("SPARK_GRAFT_QUIET_LOGS", "1")
from iceberg_classifier_spark.plans.registry import load_all_queries
from iceberg_classifier_spark.session import get_spark
spark = get_spark("scaling-probe")
sf_dir = sys.argv[3]
registry = load_all_queries()
names = json.loads(sys.argv[4]) if sys.argv[4] != "HEADLINE" else sorted(
    n for n, qd in registry.items() if qd.headline)
runs = int(sys.argv[5])
warm = next(n for n in names if n in registry)
registry[warm].fn(spark, sf_dir).write.format("noop").mode(
    "overwrite").save()
spark.catalog.clearCache()
out = {}
for n in names:
    if n not in registry:
        continue
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        registry[n].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite").save()
        ts.append(time.perf_counter() - t0)
    out[n] = round(min(ts), 3)
    spark.catalog.clearCache()
print("SCALERESULT " + json.dumps(out))
spark.stop()
"""


def run_at(repo: str, cpus: int, sf_dir: str, names: str, runs: int) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, str(cpus), sf_dir, names,
         str(runs)],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    for line in p.stdout.splitlines():
        if line.startswith("SCALERESULT "):
            return json.loads(line[len("SCALERESULT "):])
    raise RuntimeError(f"cpus={cpus}: no result; stderr: {p.stderr[-2000:]}")


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    names = (
        json.dumps(sorted(sys.argv[4].split(",")))
        if len(sys.argv) > 4
        else "HEADLINE"
    )
    try:
        with open("/proc/loadavg") as f:
            load = f.read().split()[0]
    except OSError:
        load = None
    res = {}
    for cpus in (8, 32):
        res[str(cpus)] = run_at(repo, cpus, sf_dir, names, runs)
        print(f"cpus={cpus}: total "
              f"{round(sum(res[str(cpus)].values()), 2)}s", flush=True)
    ratios = {
        n: round(res["8"][n] / res["32"][n], 2) if res["32"].get(n) else None
        for n in res["8"]
    }
    out = {
        "sf_dir": sf_dir,
        "runs": runs,
        "loadavg_start": load,
        "t8": res["8"],
        "t32": res["32"],
        "ratio_8_over_32": ratios,
        "note": "ratio >> 1 = parallelism helps (data-bound); "
        "ratio ~ 1 = per-job constants or dimension-bound at this SF",
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "note"}))


if __name__ == "__main__":
    main()
