"""Scratch-root hygiene: prune_stale removes dead keyed caches without
ever deleting a cache that could still be live (ADVICE r6: a markerless
dir — marker write failed, or an unrelated name that matches the keyed
shape — must be age-gated, not swept on every gate/bench start)."""

from __future__ import annotations

import os
import time

import pytest

from datalake_project_spark import scratch


def _mk(root, name, marker_src=None):
    d = root / name
    d.mkdir(parents=True)
    if marker_src is not None:
        (d / ".src").write_text(marker_src)
    return str(d)


def test_prune_removes_dead_marker_keeps_live_marker(tmp_path):
    dead = _mk(tmp_path, "bucketed_deadbeef", str(tmp_path / "gone_input"))
    live = _mk(tmp_path, "ivf_cafebabe", str(tmp_path))  # src exists
    removed = scratch.prune_stale(str(tmp_path))
    assert dead in removed and not os.path.exists(dead)
    assert live not in removed and os.path.exists(live)


def test_prune_age_gates_markerless_dirs(tmp_path):
    """A fresh markerless keyed dir (live cache whose best-effort marker
    write failed) survives the sweep; only one older than the 24 h gate
    is treated as a legacy dead key and removed."""
    fresh = _mk(tmp_path, "pipeline_0123abcd")
    old = _mk(tmp_path, "erasure_4567ef01")
    past = time.time() - scratch._MARKERLESS_MIN_AGE_S - 60
    os.utime(old, (past, past))
    removed = scratch.prune_stale(str(tmp_path))
    assert os.path.exists(fresh) and fresh not in removed
    assert not os.path.exists(old) and old in removed


def test_prune_ignores_non_keyed_names(tmp_path):
    plain = _mk(tmp_path, "notakeyedname")
    past = time.time() - 10 * scratch._MARKERLESS_MIN_AGE_S
    os.utime(plain, (past, past))
    assert scratch.prune_stale(str(tmp_path)) == []
    assert os.path.exists(plain)


def test_build_once_publishes_only_finished_builds(tmp_path, monkeypatch):
    """A build that raises publishes nothing and the next call rebuilds;
    a hit never rebuilds; a rewritten source gets a new key, and pruning
    the old one keeps the ``.src`` marker."""
    monkeypatch.setenv("DATALAKE_SPARK_SCRATCH", str(tmp_path / "scratch"))
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "t.parquet"
    src.write_bytes(b"v1")
    builds = []

    def failing(tmp):
        os.makedirs(tmp)
        (open(os.path.join(tmp, "half0"), "w")).close()
        raise RuntimeError("build failed")

    def build(tmp):
        builds.append(tmp)
        with open(tmp, "w") as fh:
            fh.write(src.read_text())

    with pytest.raises(RuntimeError, match="build failed"):
        scratch.build_once("k", str(sf), [str(src)], failing)
    root = scratch.scratch_dir("k", str(sf))
    assert not [n for n in os.listdir(root) if not n.endswith((".tmp", ".src"))]

    path = scratch.build_once("k", str(sf), [str(src)], build)
    assert scratch.build_once("k", str(sf), [str(src)], build) == path
    assert len(builds) == 1 and open(path).read() == "v1"
    assert sorted(os.listdir(root)) == sorted([".src", os.path.basename(path)])

    src.write_bytes(b"v2!")
    new = scratch.build_once("k", str(sf), [str(src)], build)
    assert new != path and open(new).read() == "v2!" and len(builds) == 2
    assert sorted(os.listdir(root)) == sorted([".src", os.path.basename(new)])
