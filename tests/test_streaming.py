"""The streaming source and drain: stages resolve their input path, each
call of a builder runs its own queries, and the parity sweep records what
each comparison saw."""

from __future__ import annotations

import importlib.util
import os
import tempfile
from pathlib import Path

import pandas as pd

from iceberg_classifier_spark.plans.streaming_q import (
    streaming_checkpoint_restart,
    streaming_dedup,
)


def test_relative_sf_dir_stages_like_absolute(spark, sf_dir, tmp_path, monkeypatch):
    """A relative frame path stages a readable source: two calls in a fresh
    TMPDIR, then the absolute path, all return the same non-empty rows."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    absolute = os.path.abspath(sf_dir)
    monkeypatch.chdir(os.path.dirname(absolute))
    rel = os.path.basename(absolute)
    got = [streaming_dedup(spark, rel).toPandas() for _ in range(2)]
    want = streaming_dedup(spark, absolute).toPandas()
    assert len(want) > 0
    for g in got:
        pd.testing.assert_frame_equal(g, want)
    # both spellings of the frame share one stage
    stages = [p for p in tmp_path.iterdir() if p.name.startswith("icebergspark_")]
    assert len(stages) == 1


def test_checkpoint_restart_runs_both_drains_every_call(spark, sf_dir, tmp_path, monkeypatch):
    """Each call starts its own two queries: run 1 on A, then run 2 resumes
    the same checkpoint (same query id, new run id) after B arrives. The
    second call starts from a fresh checkpoint (a new query id), so no call
    reads back an earlier call's sink."""
    from pyspark.sql.streaming import StreamingQueryListener

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    started = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.append((event.id, event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        results = []
        for _ in range(2):
            # QueryStartedEvent reaches listeners synchronously at start()
            before = len(started)
            results.append(streaming_checkpoint_restart(spark, sf_dir).toPandas())
            assert len(started) - before == 2
    finally:
        spark.streams.removeListener(listener)
    assert len({run for _, run in started}) == 4
    assert [q for q, _ in started].count(started[0][0]) == 2
    assert len({q for q, _ in started}) == 2
    for r in results:
        assert len(r) > 0 and r["exactly_once"].all()
    pd.testing.assert_frame_equal(results[0], results[1])
    # no call leaves its source, checkpoint or sink behind
    assert not [p for p in tmp_path.iterdir() if p.name.startswith("ckpt_restart_")]


def test_parity_fields_record_what_was_compared():
    """The sweep artifact shows an empty or all-NULL result, and its digest
    does not depend on row order."""
    from tests.test_oracle_parity import normalize

    path = Path(__file__).resolve().parents[1] / "scripts" / "sweep_parity.py"
    spec = importlib.util.spec_from_file_location("sweep_parity", path)
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)

    empty = sweep.result_fields(normalize(pd.DataFrame({"a": [], "b": []})))
    assert (empty["rows"], empty["null_cols"]) == (0, 2)
    df = pd.DataFrame({"a": [2, 1, 3], "b": [None, None, None]})
    fwd = sweep.result_fields(normalize(df))
    rev = sweep.result_fields(normalize(df.iloc[::-1]))
    assert (fwd["rows"], fwd["null_cols"]) == (3, 1)
    assert fwd["digest"] == rev["digest"]
    assert fwd["digest"] != sweep.result_fields(normalize(df.head(2)))["digest"]
