"""Interleaved A/B bench between two checkouts of this repo — settles
whether a round-over-round bench delta is a plan regression or host noise
(round-6 verdict task 4: r5-vs-r4 drifted +18% on plans git shows
unchanged).

Method: ``passes`` alternating rounds of (checkout A, checkout B); within
each round every shared headline query runs ``runs`` times via the noop
sink and the per-round min is kept. Interleaving means any slow-host
window hits BOTH checkouts, so a per-query min-of-mins ratio far from 1.0
is attributable to the code, not the host. Each checkout runs in its own
subprocess (fresh JVM) with sys.path pinned to that checkout.

Usage: python scripts/bench_ab.py <dir_a> <dir_b> [passes=3] [runs=3]
(dir = repo root or a `git worktree add` of a past commit)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("SPARK_GRAFT_QUIET_LOGS", "1")
from iceberg_classifier_spark.plans.registry import load_all_queries
from iceberg_classifier_spark.session import get_spark
spark = get_spark("bench-ab")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
registry = load_all_queries()
names = json.loads(sys.argv[2]) if sys.argv[2] != "ALL" else sorted(
    n for n, qd in registry.items() if qd.headline)
runs = int(sys.argv[3])
# global warmup, on the first requested name this checkout registers
warm = next(n for n in names if n in registry)
registry[warm].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for n in names:
    if n not in registry:
        continue
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        registry[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    out[n] = round(min(ts), 3)
print("ABRESULT " + json.dumps(out))
spark.stop()
"""


def run_side(repo: str, names_json: str, runs: int) -> dict[str, float]:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, repo, names_json, str(runs)],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    for line in p.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(f"{repo}: no result; stderr tail: {p.stderr[-2000:]}")


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    acc: dict[str, dict[str, list[float]]] = {}
    # SPARK_GRAFT_AB_NAMES=q1,q2 restricts the A/B to named queries (fast
    # per-change arbitration); default remains the full headline set
    names_env = os.environ.get("SPARK_GRAFT_AB_NAMES", "")
    shared = (
        json.dumps(sorted(names_env.split(","))) if names_env else "ALL"
    )
    for i in range(passes):
        for side, repo in (("a", a), ("b", b)):
            got = run_side(repo, shared, runs)
            if shared == "ALL":
                # restrict both sides to the queries the FIRST side has
                shared = json.dumps(sorted(got))
            for n, t in got.items():
                acc.setdefault(n, {"a": [], "b": []})[side].append(t)
            print(f"pass {i + 1} side {side}: total "
                  f"{round(sum(got.values()), 2)}s", flush=True)
    report = {}
    for n, d in sorted(acc.items()):
        if not d["a"] or not d["b"]:
            continue
        ma, mb = min(d["a"]), min(d["b"])
        report[n] = {
            "a_min": ma,
            "b_min": mb,
            "b_over_a": round(mb / ma, 3) if ma else None,
            "a_all": d["a"],
            "b_all": d["b"],
        }
    print(json.dumps({"a": a, "b": b, "passes": passes, "runs": runs,
                      "queries": report}))


if __name__ == "__main__":
    main()
