"""The benchmark's own tests: input determinism, warmup/op disjointness,
the lake truth, span arithmetic, and a smoke run of the runner.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import lakegen, trace, workloads
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_SMOKE = "/root/testdata/sf0.001"


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- determinism -------------------------------------------------------------
def test_generator_is_seed_deterministic():
    a, b, c = lakegen.make_inputs(7), lakegen.make_inputs(7), lakegen.make_inputs(8)
    assert a.lookup == b.lookup
    assert a.payloads(3) == b.payloads(3)
    assert a.truth(3) == b.truth(3)
    assert a.payloads(0) != c.payloads(0)


def test_generator_shapes_and_skew():
    inp = lakegen.make_inputs(3)
    p = inp.payloads(0)
    assert [len(v) if isinstance(v, list) else len(v["items"]) for v in p.values()] == \
        list(lakegen.ACCOUNT_SIZES.values())
    assert isinstance(p["acct_a"], list) and isinstance(p["acct_b"], dict)
    recs = [r for v in inp.records(0).values() for r in v]
    odd = sum(1 for r in recs if not (r["full_name"] or "").strip()
              or not any(ch.isalpha() for ch in r["username"]))
    assert 0.03 < odd / len(recs) < 0.08
    names = [n.lower() for n, _ in inp.lookup]
    assert len(names) == len(set(names)) == lakegen.LOOKUP_SIZE


def test_churn_rates():
    inp = lakegen.make_inputs(5)
    a0, a1 = inp.records(0)["acct_a"], inp.records(1)["acct_a"]
    ids0, ids1 = {r["id"] for r in a0}, {r["id"] for r in a1}
    assert len(ids0 - ids1) == round(len(a0) * lakegen.DELETE_FRAC)
    assert len(ids1 - ids0) == round(len(a0) * lakegen.ADD_FRAC)


def test_pass_order_is_fixed_and_covers_pool():
    pool = [f"q{i}" for i in range(40)]
    assert workloads.pass_order(pool, 0) == workloads.pass_order(list(reversed(pool)), 0)
    assert workloads.pass_order(pool, 0) != workloads.pass_order(pool, 1)
    assert sorted(workloads.pass_order(pool, 1)) == sorted(pool)


@pytest.fixture(scope="module")
def registry():
    pytest.importorskip("pyspark")
    from datalake_project_spark.queries import load_all
    return load_all()


def test_query_mix_warmup_is_registered_and_disjoint_from_ops(registry):
    wl = workloads.make("query_mix")
    wl.plan(registry, seed=11)
    other = workloads.make("query_mix")
    other.plan(registry, seed=12)
    assert [other.next_op() for _ in wl.pool] == [wl.next_op() for _ in wl.pool]
    wl.plan(registry, seed=11)
    assert set(wl.warmup_names) <= set(registry)
    assert not set(wl.warmup_names) & set(wl.pool)
    seen = [wl.next_op() for _ in range(2 * len(wl.pool))]
    assert not set(seen) & set(wl.warmup_names)
    assert sorted(seen[:len(wl.pool)]) == sorted(wl.pool)
    # the pool keeps its three shares: analytics, operators, streaming
    mods = {registry[n].fn.__module__.rsplit(".", 1)[-1] for n in wl.pool}
    assert {"streaming", "text", "relational"} <= mods


# -- lake truth --------------------------------------------------------------
def test_predict_gender_reference_rule():
    lk = {"ana": "female", "bo": "mostly_male", "cy": "andy", "dee": "male"}
    assert lakegen.predict_gender("Ana Smith", "zz", lk) == ("female", 0.9)
    assert lakegen.predict_gender("Bo Smith", "dee_1", lk) == ("male", 0.7)
    assert lakegen.predict_gender("  Bo  X", "", lk) == ("male", 0.5)
    assert lakegen.predict_gender(None, "d.e.e9", lk) == ("male", 0.7)
    assert lakegen.predict_gender("Cy", "_1", lk) == ("unknown", 0.0)
    assert lakegen.predict_gender("", "bo", lk) == ("male", 0.4)


def test_lake_truth_two_runs_by_hand():
    inp = lakegen.LakeInputs(seed=0, lookup=[("Ana", "female"), ("Bo", "mostly_male")])
    r = lambda u, f: {"username": u, "full_name": f}  # noqa: E731
    inp._snapshots = [
        {"x": [r("ana1", "Ana A"), r("b", "Bo B"), r("n", None), r("e", "")],
         "y": [r("q", "Qi Q")]},
        {"x": [r("ana1", "Ana A"), r("n", None), r("e", ""), r("new", "Bo N")],
         "y": [r("q", "Qi Q"), r("ana2", "Zed Z")]},
    ]
    t1 = inp.truth(1)
    assert t1["counts"] == {"x": 4, "y": 2}
    # ana1 F0.9, n unknown, e unknown, new M0.5, q unknown, ana2 F0.7
    assert t1["genders"] == {"female": 2, "unknown": 3, "male": 1}
    # a null key never matches: (n, None) is both added and deleted
    assert t1["changes"] == {"x": {"added": 2, "deleted": 2},
                             "y": {"added": 1, "deleted": 0}}
    assert "changes" not in inp.truth(0)


# -- span arithmetic ---------------------------------------------------------
def test_self_times_subtract_union_of_children():
    spans = [Span("op", 0.0, 10.0, None, 0),
             Span("a", 1.0, 4.0, 0, 0),
             Span("b", 3.0, 6.0, 0, 0),       # overlaps a (parallel thread)
             Span("c", 2.0, 3.0, 1, 0),       # child of a
             Span("d", 9.0, 12.0, 0, 0)]      # runs past its parent's end
    st = trace.self_times(spans)
    assert st == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])
    assert trace.coverage(spans, "op") == pytest.approx(6 / 10)
    tot = trace.layer_totals(spans)
    assert tot["a"]["self_s"] == pytest.approx(2.0) and tot["op"]["calls"] == 1


def test_tail_percentile():
    from perfbench.run import tail_percentile
    assert tail_percentile([1.0] * 19) is None
    p, v = tail_percentile([float(i) for i in range(1, 101)])
    assert p == 90 and v == 90.0


def test_wrap_patches_names_where_looked_up(registry):
    import datalake_project_spark.pipeline as pipeline
    from datalake_project_spark.operators import diff
    tracer = trace.Tracer()
    orig = diff.snapshot_diff
    undo = trace.install(tracer)
    try:
        assert pipeline.snapshot_diff is not orig
        assert pipeline.snapshot_diff.__wrapped_by_perfbench__ is orig
    finally:
        trace.uninstall(undo)
    assert pipeline.snapshot_diff is orig and diff.snapshot_diff is orig


# -- smoke -------------------------------------------------------------------
@pytest.mark.skipif(not os.path.isdir(SF_SMOKE), reason="needs the sf0.001 fixture")
@pytest.mark.parametrize("workload,trace_on", [("query_mix", 0),
                                               ("query_mix", 1),
                                               ("lake_pipeline", 0)])
def test_smoke_run_prints_every_metric(workload, trace_on):
    pytest.importorskip("pyspark")
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace_on), "--max-ops", "3",
           "--sf-dir", SF_SMOKE]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = _spec()["per_layer" if trace_on else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in res["metrics"].items()}
    assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"] is True
