"""Prove the registry's round() signed-zero rewrite is value-lossless.

For every registered oracle, run the SQL before and after the round
rewrite (``materialize_shared_ctes(qd.raw_oracle)`` vs ``qd.oracle``, which
adds ``normalize_round_signed_zero``) on the same DuckDB views and require:

- identical column names and pandas dtypes (the wrap must not widen
  DECIMAL into DOUBLE or similar — DuckDB types ``DECIMAL(p,s) + 0.0``
  back to ``DECIMAL(p,s)``, this audit proves it holds for all ~600
  oracles, not just the cases spot-checked);
- bit-identical values EXCEPT cells where the raw result is ``-0.0`` and
  the rewritten is ``+0.0`` (the intended normalization) — those are
  counted and reported per query.

Usage: python scripts/audit_round_rewrite.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import iceberg_classifier_spark.plans.registry as reg  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/audit_round_rewrite.json"

    registry = reg.load_all_queries()

    import duckdb

    from iceberg_classifier_spark.sources.tables import TABLES, table_path

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    out: dict[str, object] = {}
    n_pass = n_fail = n_norm = 0
    for name, qd in registry.items():
        if qd.raw_oracle is None:
            continue
        raw_sql = reg.materialize_shared_ctes(qd.raw_oracle)
        new_sql = qd.oracle
        if new_sql == raw_sql:
            out[name] = {"status": "pass", "rounds": 0}
            n_pass += 1
            continue
        try:
            a = con.execute(raw_sql).df()
            b = con.execute(new_sql).df()
        except Exception as exc:  # noqa: BLE001 — record and continue
            out[name] = {"status": f"ERR {type(exc).__name__}: {exc}"[:300]}
            n_fail += 1
            print(name, out[name]["status"], flush=True)
            continue
        errs: list[str] = []
        normalized = 0
        if list(a.columns) != list(b.columns):
            errs.append(f"schema {list(a.columns)} != {list(b.columns)}")
        elif [str(d) for d in a.dtypes] != [str(d) for d in b.dtypes]:
            errs.append(f"dtypes {list(map(str, a.dtypes))} != {list(map(str, b.dtypes))}")
        elif len(a) != len(b):
            errs.append(f"rows {len(a)} != {len(b)}")
        else:
            for c in a.columns:
                ga, gb = a[c], b[c]
                if pd.api.types.is_float_dtype(ga):
                    va = np.asarray(ga, dtype=float)
                    vb = np.asarray(gb, dtype=float)
                    same_bits = (
                        va.view(np.int64) == vb.view(np.int64)
                    ) | (np.isnan(va) & np.isnan(vb))
                    # allowed diff: raw -0.0 → rewritten +0.0
                    norm_cells = (
                        ~same_bits
                        & (va == 0.0)
                        & (vb == 0.0)
                        & np.signbit(va)
                        & ~np.signbit(vb)
                    )
                    normalized += int(norm_cells.sum())
                    bad = ~same_bits & ~norm_cells
                    if bad.any():
                        errs.append(f"{c}: {int(bad.sum())} non-normalization diffs")
                elif (ga.astype(str) != gb.astype(str)).any():
                    errs.append(f"{c}: value mismatch")
        status = "pass" if not errs else "FAIL " + "; ".join(errs)[:300]
        out[name] = {"status": status, "normalized_zeros": normalized}
        if errs:
            n_fail += 1
        else:
            n_pass += 1
        n_norm += normalized
        if errs or normalized:
            print(name, status, "normalized:", normalized, flush=True)

    summary = {
        "sf_dir": sf_dir,
        "pass": n_pass,
        "fail_or_err": n_fail,
        "total_normalized_zero_cells": n_norm,
        "queries": out,
    }
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print("PASS:", n_pass, "FAIL/ERR:", n_fail, "normalized cells:", n_norm)


if __name__ == "__main__":
    main()
