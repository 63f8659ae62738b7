#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run

1. reads the frame in ``frames/sf0.1``, a byte copy of the engine's
   reference sf0.1 test frame (``--seed`` changes only the query order);
2. starts ``worker.py`` in its own process with its own ``TMPDIR``,
   ``SPARK_LOCAL_DIRS`` and JVM temp dir, ``SPARK_GRAFT_CPUS`` = the CPUs
   this process may use, and (traced runs only) an uncompressed Spark
   event log;
3. in the worker, sets up once from process start (Python, JVM launch,
   session, registry), then twice more after stopping the session and
   dropping the engine's modules; ``setup_s`` is the median of those
   in-JVM set-ups;
4. times passes over the workload's queries, each query built with its
   registered builder and executed through the noop sink, with
   ``spark.catalog.clearCache()`` between queries. For each pass it takes
   the wall time and the CPU time (user plus system) of every process of
   the run's session: driver Python, JVM and Python workers. The first
   (cold) pass runs the queries in their listed order; it includes JIT
   compilation, codegen and fixture staging. The workload's fixed number
   of warm passes follows, each in an order permuted by ``--seed``.
   ``passes_cpu_s`` is the CPU time of all these passes together: how much
   of the JIT compiler's work falls in which pass changes between runs,
   while its sum varies little. Per-pass wall and CPU times are in the
   context line and, for the traced run, in the per-layer metrics; on a
   shared host wall time also counts the time the run waits for a CPU or
   has it taken by the hypervisor, which CPU time leaves out. ``--seconds`` is recorded in the context line and
   changes nothing;
5. runs one untimed verification pass over the frames the last timed pass
   built: each against its query's DuckDB oracle under the parity rule of
   ``tests/test_oracle_parity.py``, or its rows-only self-check flags.
   Every mismatch, exception or missing registry name counts as a failed
   operation;
6. prints a context line (host, versions, frames, seed, pass counts,
   loadavg, per-query failures) and, last, the result line
   ``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
   metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Exits non-zero without a result line when the engine is not in the
checkout or the worker fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FRAME = os.path.join(HERE, "frames", "sf0.1")
DEADLINE_S = 170.0
RESETUPS = 2

# Two workloads, chosen so that plan-time work and execution split: the
# first does its heavy work while plans are built (an MLlib FP-growth fit, a
# stream drained inside the builder through a Python state function), the
# second in the noop-sink execution of a large pair shuffle. Every run pays
# a fresh JVM and a cold pass, so the query lists are kept short enough for
# the whole benchmark to fit its time budget on a slow 4-core host: the
# cheap pair pass affords three warm passes, the eager pass one.
WORKLOADS = {
    "eager_build": {
        "queries": ["fpgrowth_itemsets", "streaming_user_stats", "log_loss"],
        "warm_passes": 1,
    },
    "pairs": {"queries": ["dedup_ngram_jaccard"], "warm_passes": 3},
}

END_TO_END = {
    "setup_s": "s",
    "passes_cpu_s": "s",
}


def per_layer_units(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name.startswith("pyworker."):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("exec.core_util", "verify.failed_ops", "trace.counters_repeat"):
        return "share"
    return "count"


def fingerprint(frame_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(frame_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(frame_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def worker_env(run_dir: str, cpus: int, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    conf = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        ev = os.path.join(run_dir, "eventlog")
        os.makedirs(ev)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{ev}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_QUIET_LOGS="1",
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONWARNINGS="ignore",
    )
    return env


def run_worker(cfg: dict, env: dict, deadline: float) -> dict:
    cfg_path = os.path.join(cfg["run_dir"], "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(cfg["run_dir"], "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=cfg["run_dir"],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the worker's JVM and Python workers share its process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    result_path = os.path.join(cfg["run_dir"], "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker failed (exit {rc}); log tail:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still takes its worker's process group down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    t_begin = time.monotonic()
    deadline = t_begin + DEADLINE_S

    missing = [
        p
        for p in (
            os.path.join(ROOT, "iceberg_classifier_spark", "__init__.py"),
            os.path.join(ROOT, "tests", "test_oracle_parity.py"),
        )
        if not os.path.exists(p)
    ]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2

    queries = WORKLOADS[args.workload]["queries"]
    frame = {"dir": os.path.relpath(FRAME, ROOT), "fingerprint": fingerprint(FRAME)}

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "root": ROOT,
        "run_dir": run_dir,
        "run_id": os.path.basename(run_dir),
        "workload": args.workload,
        "queries": queries,
        "sf_dir": FRAME,
        "seed": args.seed,
        "trace": bool(args.trace),
        "resetups": RESETUPS,
        "warm_passes": WORKLOADS[args.workload]["warm_passes"],
        "frame_fingerprint": frame["fingerprint"],
        "oracle_cache": os.path.join(WORK, "expected"),
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
    }
    load_start = loadavg()
    ticks_start = cpu_ticks()
    try:
        res = run_worker(cfg, worker_env(run_dir, cpus, bool(args.trace)), deadline)
        if args.trace:
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(
                os.path.join(run_dir, "spans.jsonl"),
                os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl"),
            )
    except Exception as e:  # noqa: BLE001 — reported, and no result line
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = res["passes"]
    timed_failed = sum(len(p["failed"]) for p in passes)
    attempted = (len(passes) + 1) * len(queries)
    failed = timed_failed + len(res["failures"])
    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]

    import pyspark

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": res["cores"],
        "spark_cpus": cpus,
        "spark_version": res["versions"]["spark"],
        "pyspark_version": pyspark.__version__,
        "frame": frame,
        "queries": queries,
        "passes": len(passes),
        "warm_samples": len(passes) - 1,
        "setup_samples": len(res["setups"]) - 1,
        "setups_s": [round(s["setup_s"], 4) for s in res["setups"]],
        "pass_s": [round(p["pass_s"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 2) for p in passes],
        "pass_jit_s": [round(p["jit_s"], 2) for p in passes],
        "timeline_s": res["timeline"],
        "query_s": [{k: round(v, 3) for k, v in p["query_s"].items()} for p in passes],
        "query_cpu_s": [
            {k: round(v, 2) for k, v in p["query_cpu_s"].items()} for p in passes
        ],
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "cpu_steal_share": round(ticks[1] / max(ticks[0], 1), 4),
        "failures": res["failures"],
        "timed_failures": [f for p in passes for f in p["failed"]],
        "notes": "setups_s[0] runs from process start (JVM launch included) and is"
        " left out of setup_s; pass_s is wall time and pass_cpu_s the CPU time of"
        " all engine processes, summed into passes_cpu_s; the cold pass includes"
        " JIT, codegen and fixture staging",
    }
    print("perfbench context " + json.dumps(context))

    if args.trace:
        values = dict(res["layers"])
        values["verify.failed_ops"] = failed / attempted
        metrics = {k: {"value": v, "unit": per_layer_units(k)} for k, v in values.items()}
    else:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in res["setups"][1:]),
            "passes_cpu_s": sum(p["cpu_s"] for p in passes),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
