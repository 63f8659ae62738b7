#!/usr/bin/env python3
"""Capture .explain("formatted") for headline (or named) queries into
plans/$SPARK_GRAFT_PLANS_ROUND/ (default r10), and print a sha256 digest
of each plan's skeleton: the operator tree (the formatted explain up to its
first blank line) with expression IDs (#123) and bracketed attribute lists
removed, so a rename or fresh expression IDs do not hide whether the plan
changed. Next to it, a plan digest covers the whole formatted explain with
only the three tokens that vary between two builds of one commit
normalized: expression IDs (#123), plan_id=N, and checkpoint RDD ids with
their call sites (MapPartitionsRDD[N] at ... :N). Equal plan digests
certify a refactor that leaves every node, expression and attribute as it
was. An existing capture file is never overwritten: the script exits
non-zero naming it, before any plan is built.

Usage: python scripts/capture_plans.py before|after [name ...]
"""
import hashlib, os, re, sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = "Usage: python scripts/capture_plans.py before|after [name ...]"

def skeleton_digest(plan: str) -> str:
    tree = plan.split("\n\n", 1)[0]
    tree = re.sub(r"\[[^\]]*\]", "", re.sub(r"#\d+", "", tree))
    return hashlib.sha256(tree.encode()).hexdigest()

def plan_digest(plan: str) -> str:
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"MapPartitionsRDD\[\d+\] at [^,\]]*?:\d+", "MapPartitionsRDD", plan)
    return hashlib.sha256(plan.encode()).hexdigest()

def main():
    if len(sys.argv) < 2 or sys.argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_QUIET_LOGS", "1")
    from iceberg_classifier_spark.plans.registry import load_all_queries
    from iceberg_classifier_spark.session import get_spark
    reg = load_all_queries()
    todo = names or sorted(n for n, qd in reg.items() if qd.headline)
    rnd = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r10")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    paths = {name: os.path.join(out_dir, f"{name}_{tag}.txt") for name in todo}
    # a capture is committed evidence: never overwrite one
    taken = [p for p in paths.values() if os.path.exists(p)]
    if taken:
        print("capture_plans: refusing to overwrite " + ", ".join(taken), file=sys.stderr)
        sys.exit(1)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    for name in todo:
        df = reg[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        with open(paths[name], "w") as f:
            f.write(plan)
        spark.catalog.clearCache()
        print(f"captured {name}_{tag}: {plan.count('Exchange')} Exchange-mentions, {len(plan)} chars, skeleton sha256 {skeleton_digest(plan)}, plan sha256 {plan_digest(plan)}")
    spark.stop()

if __name__ == "__main__":
    main()
