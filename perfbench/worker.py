"""One benchmark run in a fresh process: set up, time passes, verify.

Started by ``run.py`` with the path of a JSON config; writes
``result.json`` next to it. Not meant to be run by hand.
"""

from __future__ import annotations

import json
import os
import random
import resource
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "iceberg_classifier_spark"


def process_start_epoch() -> float:
    """Wall-clock start time of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """User plus system CPU seconds of every process in this session (the
    worker, its JVM and the JVM's Python workers), reaped children included."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.tracer = None
        self.spark = None
        self.registry: dict = {}
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.progress: list[dict] = []
        self.built: dict = {}  # query → the frame its latest timed run built
        self.app_id = ""
        if cfg["trace"]:
            import spans

            self.tracer = spans.Tracer(cfg["run_id"])
            spans.install_py4j_counter(self.tracer)
            spans.install_ml_wrapper(self.tracer)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name, **attrs)

    # -- set-up -----------------------------------------------------------
    def setup(self, t0: float) -> None:
        """Session and registry from a clean module state; ``t0`` is when
        this set-up started (the process start for the first one)."""
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        with self.span("setup"):
            if self.tracer is not None:
                import spans

                spans.install_layer_wrappers(self.tracer)
            from iceberg_classifier_spark.session import get_spark

            a = time.time()
            with self.span("setup.session"):
                self.spark = get_spark("perfbench")
            b = time.time()
            from iceberg_classifier_spark.plans.registry import load_all_queries

            with self.span("setup.registry"):
                self.registry = load_all_queries()
            c = time.time()
        self.setups.append({"setup_s": c - t0, "session_s": b - a, "registry_s": c - b})

    # -- timed passes -----------------------------------------------------
    def run_query(self, p: int, qi: int, name: str, rec: dict) -> None:
        spark, sf = self.spark, self.cfg["sf_dir"]
        sc = spark.sparkContext
        qd = self.registry[name]
        sc.setJobGroup(f"pb/{p}/{qi}/build", name)
        cpu0 = session_cpu_s()
        t0 = time.perf_counter()
        with self.span("query.build", phase=f"build:{p}", query=name, pass_=p):
            df = qd.fn(spark, sf)
        t1 = time.perf_counter()
        sc.setJobGroup(f"pb/{p}/{qi}/exec", name)
        with self.span("query.exec", phase=f"exec:{p}", query=name, pass_=p):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.built[name] = df
        rec["build_s"] += t1 - t0
        rec["exec_s"] += t2 - t1
        rec["query_s"][name] = t2 - t0
        rec["query_cpu_s"][name] = session_cpu_s() - cpu0
        if self.tracer is not None:
            with self.span("catalyst.probe", phase="probe"):
                rec["catalyst"].append(catalyst_ms(df))

    def timed_passes(self) -> None:
        """The cold pass, then the workload's fixed number of warm passes."""
        cfg = self.cfg
        rng = random.Random(cfg["seed"])
        names = cfg["queries"]
        for p in range(1 + cfg["warm_passes"]):
            # the cold pass keeps the listed order, so the same query pays
            # the first-query JIT cost in every run; warm passes are permuted
            order = list(range(len(names)))
            if p > 0:
                order = rng.sample(order, len(order))
            rec = {"pass": p, "build_s": 0.0, "exec_s": 0.0, "failed": [],
                   "catalyst": [], "query_s": {}, "query_cpu_s": {}}
            with self.span("pass", pass_=p):
                rec["start"] = time.time()
                cpu0, jit0 = session_cpu_s(), self.jit_s()
                for qi in order:
                    self.built.pop(names[qi], None)
                    try:
                        self.run_query(p, qi, names[qi], rec)
                    except Exception as e:  # noqa: BLE001 — counted, never fatal;
                        # a name missing from the registry lands here too
                        rec["failed"].append(f"{names[qi]}: {type(e).__name__}")
                    self.spark.sparkContext.setJobGroup("pb/idle/0/none", "idle")
                    self.spark.catalog.clearCache()
                rec["end"] = time.time()
                rec["cpu_s"] = session_cpu_s() - cpu0
                rec["jit_s"] = self.jit_s() - jit0
            rec["pass_s"] = rec["build_s"] + rec["exec_s"]
            self.passes.append(rec)

    # -- verification -----------------------------------------------------
    def verify(self) -> dict[str, str]:
        """Check the frames the last timed pass built (re-executing them),
        so the outputs checked are those of the plans that were timed."""
        import verify

        cfg = self.cfg
        parity = verify.parity_module(cfg["root"])
        self.spark.sparkContext.setJobGroup("pb/verify/0/none", "verify")
        con = verify.oracle_connection(cfg["sf_dir"])
        failures = {}
        for name in cfg["queries"]:
            why = verify.check(
                name, self.registry, parity, self.built.get(name), con, cfg
            )
            self.spark.catalog.clearCache()
            if why is not None:
                failures[name] = why
        con.close()
        return failures

    def add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    def jit_s(self) -> float:
        """Time the driver JVM's JIT compiler threads have spent compiling."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # flushes and closes the event log
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution, from its phase tracker. Optimization and planning are forced
    here, after the timed write, so they cost the timed pass nothing."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def main() -> None:
    t_proc = process_start_epoch()
    cfg_path = sys.argv[1]
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, HERE)
    sys.path.insert(0, cfg["root"])
    run = Run(cfg)
    run.setup(t_proc)
    for _ in range(cfg["resetups"]):
        run.spark.stop()
        run.setup(time.time())
    if cfg["trace"]:
        run.add_stream_listener()
    marks = {"setup_done": time.time()}
    run.timed_passes()
    marks["passes_done"] = time.time()
    rss = run.peak_rss_mb()  # before the checker's own DuckDB and pandas work
    failures = run.verify()
    marks["verify_done"] = time.time()
    cores = run.spark.sparkContext.defaultParallelism
    versions = {"spark": run.spark.version}
    time.sleep(0.5 if cfg["trace"] else 0.0)  # let listener events drain
    run.shutdown()
    marks["shutdown_done"] = time.time()
    out = {
        "timeline": {k: round(v - t_proc, 3) for k, v in marks.items()},
        "setups": run.setups,
        "passes": run.passes,
        "failures": failures,
        "peak_rss_mb": rss,
        "cores": cores,
        "versions": versions,
        "app_id": run.app_id,
    }
    if run.tracer is not None:
        import layers

        run.tracer.dump(os.path.join(cfg["run_dir"], "spans.jsonl"))
        out["layers"] = layers.per_layer(cfg, run, out)
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
