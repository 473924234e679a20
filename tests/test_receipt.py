"""`python -m datalake_project_spark receipt`: one process runs a batch
and a streaming query with the event log on and prints one JSON receipt
per (query, trial), read from that log alone."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT


def test_receipt_reads_phases_stages_and_batches_from_the_event_log(
        tmp_path):
    env = {**os.environ, "DATALAKE_SPARK_SCRATCH": str(tmp_path),
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-m", "datalake_project_spark", "receipt",
         "q_window_topn", "q_stream_tumbling_window",
         "--sf-dir", "/root/testdata/sf0.001", "--trials", "1"],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True,
        timeout=240, check=True).stdout
    got = {r["query"]: r for r in map(json.loads, out.splitlines())}
    assert set(got) == {"q_window_topn", "q_stream_tumbling_window"}

    for r in got.values():
        assert r["trial"] == 1 and r["rows"] > 0
        assert r["build"]["jobs"] + r["execute"]["jobs"] >= 1
        assert r["totals"]["tasks"] >= 1 and r["stages"]
        for k in ("shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes"):
            assert r["totals"][k] >= 0
        assert r["ui_enabled"] is False
        assert r["cpus"] >= 1 and r["master"].startswith("local")

    stream = got["q_stream_tumbling_window"]
    # the availableNow drain runs inside fn(), under the stream's own
    # job group: it lands in the build phase
    assert stream["build"]["jobs"] >= 1
    assert stream["batches"]
    commits = [s["commitTimeMs"] for b in stream["batches"]
               for s in b["state"]]
    assert commits and all(isinstance(c, int) for c in commits)
    assert got["q_window_topn"]["batches"] == []
    # stages are named by their plan operators (the RDD scopes), not by
    # the call site AQE reports for most of them
    names = [s["name"] for s in got["q_window_topn"]["stages"]]
    assert any(op in n for n in names
               for op in ("Exchange", "WholeStageCodegen", "Scan "))
