"""Untimed correctness pass: each query against its DuckDB oracle, or the
rows-only self-check flags when it has none.

The rule is the engine's parity gate, ``tests/test_oracle_parity.py``: its
``normalize`` and ``ROWS_ONLY_FLAGS`` are loaded from that file, and
``compare`` makes the same checks as its assertions (schema, row count,
every cell; floats to 1e-9, with signed zeros told apart).

An oracle's result depends only on its SQL and the frame, so it is cached
under the run's oracle cache, keyed by both; the first run on a frame
pays for the oracle, later runs only compare.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pandas as pd


def parity_module(root: str):
    """``tests/test_oracle_parity.py`` of the checkout, loaded by path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_parity", os.path.join(root, "tests", "test_oracle_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(normalize, got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when the frames match under the parity rule, else the reason."""
    got, exp = normalize(got), normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"schema {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} != {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if pd.api.types.is_float_dtype(g) and pd.api.types.is_float_dtype(e):
            if not np.allclose(g, e, rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"{c}: max abs diff {np.nanmax(np.abs(g - e))}"
            gz, ez = np.asarray(g, dtype=float), np.asarray(e, dtype=float)
            if ((gz == 0.0) & (ez == 0.0) & (np.signbit(gz) != np.signbit(ez))).any():
                return f"{c}: signed-zero split"
        elif (g.astype(str) != e.astype(str)).any():
            return f"{c}: {(g.astype(str) != e.astype(str)).sum()} mismatched cells"
    return None


def oracle_connection(sf_dir: str):
    import duckdb

    from iceberg_classifier_spark.sources.tables import TABLES, table_path

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def expected(con, oracle: str, frame_fingerprint: str, cache_dir: str) -> pd.DataFrame:
    key = hashlib.sha256(f"{frame_fingerprint}\n{oracle}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    exp = con.execute(oracle).df()
    os.makedirs(cache_dir, exist_ok=True)
    exp.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check(name: str, registry: dict, parity, df, con, cfg: dict) -> str | None:
    """None when ``df``, the frame the last timed pass built for ``name``,
    passes its check, else why it failed. Never raises."""
    try:
        qd = registry.get(name)
        if qd is None:
            return "not in the registry"
        if df is None:
            return "no frame was built"
        if qd.oracle is not None:
            exp = expected(con, qd.oracle, cfg["frame_fingerprint"], cfg["oracle_cache"])
            return compare(parity.normalize, df.toPandas(), exp)
        flags = parity.ROWS_ONLY_FLAGS.get(name)
        if flags is None:
            return "rows-only query without declared self-check flags"
        rows = df.collect()
        if not rows:
            return "empty result"
        for flag in flags:
            if not all(r[flag] for r in rows):
                return f"self-check flag {flag} is false"
        return None
    except Exception as e:  # noqa: BLE001 — a failing query is a counted failure
        return f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
