"""The width policy: ``tuning.width`` must reproduce the per-kind
arithmetic it replaced exactly, scale linearly with input bytes, respect
each kind's floor, clamp at both ends — and no query result may depend
on the width it picks."""

from __future__ import annotations

import itertools
from types import SimpleNamespace

import pytest

from datalake_project_spark import tuning
from datalake_project_spark.tuning import (
    MAX_WIDTH, MIN_WIDTH, STATE_FLOORS, dir_bytes, width,
)

from tests.conftest import rows
from tests.test_registry import SF_SMOKE

KB = 1024
MB = 1024 ** 2
GB = 1024 ** 3
TB = 1024 ** 4
KINDS = ("jvm_shuffle", "python_stage", *STATE_FLOORS)


def _cluster(cores: int):
    """Just enough of a SparkSession for the width arithmetic."""
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=cores))


# -- frozen reference: the per-stage sizing helpers width() replaced,
# verbatim in their arithmetic (one clamp-and-floor formula and the
# per-stage, Python-stage and state-store helpers that fed it), so the
# equivalence below cannot drift with the policy.
def _ref_suggest(input_bytes, target=128 * MB, cluster_cores=None,
                 min_partitions=8, max_partitions=200_000):
    need = -(-input_bytes // target)
    if cluster_cores:
        floor = min(cluster_cores, -(-input_bytes // (4 * MB)))
        need = max(need, floor)
    return int(min(max(need, min_partitions), max_partitions))


def _ref_width(kind, nbytes, cores, target=None):
    if kind == "jvm_shuffle":  # per-stage helper and the cdc join
        return _ref_suggest(nbytes, target or 128 * MB, cluster_cores=cores)
    if kind == "python_stage":  # full cores floor outside the clamp
        return max(_ref_suggest(nbytes, target or 128 * MB), cores)
    # state-store helper (x4 state, 64 MiB) at the shape floors
    floor = {"state_join": 2, "state_agg": 4, "state_python": 8}[kind]
    return _ref_suggest(int(nbytes * 4.0), target or 64 * MB,
                        min_partitions=floor)


def test_width_equals_the_replaced_helpers():
    sizes = (0, 1, KB, 2 * MB, 48 * 594_568, 10 * GB, 100 * GB, TB,
             100 * TB)
    targets = (None, 4 * MB, 8 * MB, 16 * MB, 64 * MB, 128 * MB)
    for n, cores, kind, t in itertools.product(
            sizes, (1, 4, 32, 4000), KINDS, targets):
        got = width(_cluster(cores), kind, n, target_bytes=t)
        assert got == _ref_width(kind, n, cores, t), (n, cores, kind, t)


def test_scales_linearly_with_input():
    c = _cluster(4)
    # 100 TB at 128 MiB target -> 819,200 -> clamped to MAX
    assert width(c, "jvm_shuffle", 100 * TB) == MAX_WIDTH == 200_000
    # 1 TB -> 8192 partitions of 128 MiB
    assert width(c, "jvm_shuffle", 1 * TB) == 8192
    assert width(c, "jvm_shuffle", 10 * GB) == 80


def test_small_input_floors():
    for cores in (1, 4, 32):
        assert width(_cluster(cores), "jvm_shuffle", 0) == MIN_WIDTH
        assert width(_cluster(cores), "jvm_shuffle", 1) == MIN_WIDTH


def test_cores_floor_keeps_cluster_busy():
    big = _cluster(4000)
    # r13: the cores floor is capped by data density — it never splits
    # the input below ~4 MiB per task (a 1 GB shuffle on a 4000-core
    # cluster gets 256 tasks, not 4000 near-empty ones), and the byte
    # term ramps the width past the core count once data justifies it
    assert width(big, "jvm_shuffle", 1 * GB) == 256
    # plenty of data: the full cores floor binds
    assert width(big, "jvm_shuffle", 100 * GB) == 4000
    # and the byte term keeps growing past it
    assert width(big, "jvm_shuffle", 1024 * GB) == 8192


def test_custom_target():
    assert width(_cluster(4), "jvm_shuffle", 1 * GB,
                 target_bytes=64 * MB) == 16


def test_rejects_bad_input():
    with pytest.raises(ValueError):
        width(_cluster(4), "jvm_shuffle", -1)
    with pytest.raises(ValueError):
        width(_cluster(4), "scan", 1)


def test_observation_collects_inflight_metrics(spark):
    """df.observe: named metrics computed DURING a job (no second scan)
    — the production pattern for row-count/quality counters on a
    pipeline write. Values must equal a direct aggregate."""
    from pyspark.sql import Observation, functions as F

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g"))
    obs = Observation("pipeline_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
        F.count(F.when(F.col("g") == 0, 1)).alias("n_g0"))
    # one action drives both the result and the metrics
    out = observed.groupBy("g").count().collect()
    assert len(out) == 7
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["id_sum"] == 499500
    assert got["n_g0"] == len([i for i in range(1000) if i % 7 == 0])


def test_jvm_shuffle_floors_at_cores_and_scales(spark, tmp_path):
    """jvm_shuffle = per-stage repartition width: footprint x
    expansion / 128 MiB, with a density-capped cores floor (never
    below ~4 MiB per task), read off the live session's parallelism
    without mutating its conf."""
    f = tmp_path / "blob.bin"
    f.write_bytes(b"x" * (4 * 1024 * 1024))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    n = dir_bytes(str(f))
    # 4 MiB input: density cap pins the floor at 1 -> MIN_WIDTH
    assert width(spark, "jvm_shuffle", n) == 8
    # 4 MiB x 65536 = 256 GiB -> 2048 partitions of 128 MiB
    assert width(spark, "jvm_shuffle", 65536 * n) == 2048
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def test_state_store_width_has_no_cores_floor(tmp_path):
    """State-store widths are byte-derived with NO cores floor: a
    fixture-scale input gets its operator shape's minimum (few state-
    store instances, low fixed commit overhead), and the count grows
    with the footprint toward production scale. r12 diagnosis: 128
    state-store instances spent ~95% of a stream-join's wall in
    per-instance commits over a 40k-row state."""
    f = tmp_path / "events.bin"
    f.write_bytes(b"x" * (2 * 1024 * 1024))  # ~ sf0.1 events.parquet
    # a directory is the sum of its files
    assert dir_bytes(str(tmp_path)) == 2 * 1024 * 1024
    n = dir_bytes(str(tmp_path))
    for cores in (4, 32):
        c = _cluster(cores)
        assert width(c, "state_python", n) == 8  # min, NOT cores
        assert width(c, "state_agg", n) == 4
        assert width(c, "state_join", n) == 2
    # 2 MiB x 2^20 = 2 TiB, x4 expansion, 64 MiB target -> 131072
    assert width(_cluster(4), "state_agg", n * (1 << 20)) \
        == (2 * (1 << 20) * 4) // 64


def test_run_available_now_scopes_state_partitions(spark, tmp_path):
    """run_available_now(state_partitions=N) must freeze N into the
    drain's stateful shuffle and RESTORE the session width afterwards,
    so a later batch query in the same session is unaffected."""
    import pyspark.sql.functions as F

    from datalake_project_spark.streaming.ops import run_available_now

    src = tmp_path / "src"
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"))
    df.write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_available_now(agg, "complete", state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    rows = {(r["k"], r["n"]) for r in out.collect()}
    assert rows == {(k, 20) for k in range(5)}


def test_run_available_now_concurrent_drains_each_get_their_width(
        spark, tmp_path):
    """Two drains submitted concurrently with DIFFERENT state_partitions
    must each run at their own width (r12 ADVICE: the session-global
    conf save/restore could interleave across threads; drains now
    serialize the conf window under a module lock). Widths are observed
    via StreamingQueryListener progress (numShufflePartitions of the
    stateful operator)."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F
    from pyspark import inheritable_thread_target
    from pyspark.sql.streaming import StreamingQueryListener

    from datalake_project_spark.streaming.ops import run_available_now

    src = tmp_path / "src"
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k"))
    df.write.mode("overwrite").parquet(str(src))

    widths: dict[str, set] = {}

    class Rec(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            for so in p.stateOperators:
                widths.setdefault(p.name, set()).add(
                    so.numShufflePartitions)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    rec = Rec()
    spark.streams.addListener(rec)
    try:
        def drain(n_parts: int):
            stream = spark.readStream.schema(df.schema).parquet(str(src))
            agg = stream.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
            out = run_available_now(agg, "complete",
                                    state_partitions=n_parts)
            return {(r["k"], r["n"]) for r in out.collect()}

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        with ThreadPoolExecutor(max_workers=2) as pool:
            f3 = pool.submit(inheritable_thread_target(drain), 3)
            f5 = pool.submit(inheritable_thread_target(drain), 5)
            assert f3.result() == {(k, 20) for k in range(5)}
            assert f5.result() == {(k, 20) for k in range(5)}
        assert spark.conf.get("spark.sql.shuffle.partitions") == saved
        # listener events are async: wait for both queries' progress
        deadline = time.time() + 30
        while time.time() < deadline and len(widths) < 2:
            time.sleep(0.2)
        assert all(len(s) == 1 for s in widths.values()), widths
        assert sorted(min(s) for s in widths.values()) == [3, 5], widths
    finally:
        spark.streams.removeListener(rec)


def test_python_stage_keeps_full_cores_floor(spark, tmp_path):
    """Python-cost stages (grouped-map applyInPandas) are priced by
    rows/groups, not bytes: the width keeps the FULL cores floor even
    for a KB-scale input (no density cap — r13 measured AQE coalescing
    such a shuffle to ONE task that serialized 1500 Python group
    calls), and still ramps with the byte term at scale."""
    f = tmp_path / "tiny.bin"
    f.write_bytes(b"x" * 1024)
    cores = spark.sparkContext.defaultParallelism
    n = dir_bytes(str(f))
    assert width(spark, "python_stage", n) == max(cores, 8)
    # 1 KiB x 2^27 = 128 GiB -> 1024 partitions of 128 MiB > any floor
    assert width(spark, "python_stage", n * (1 << 27)) == 1024


@pytest.mark.parametrize("name", [
    "q_tuned_shuffle_join", "q_group_zscore", "q_dedup_bag_jaccard",
    "q_graph_kcore", "q_stream_static_join",
])
def test_results_do_not_depend_on_width(spark, monkeypatch, name):
    """Width-invariance oracle, first cut: force every width decision
    the query makes to 1 and to 3x the session parallelism; its sorted
    rows must equal the rows at the policy's own width. Call sites look
    ``tuning.width`` up when they run, so patching it here reaches all
    of them."""
    import os

    from datalake_project_spark.queries import load_all

    if not os.path.isdir(SF_SMOKE):
        pytest.skip("driver testdata not present")
    fn = load_all()[name].fn
    want = rows(fn(spark, SF_SMOKE))
    for forced in (1, 3 * spark.sparkContext.defaultParallelism):
        calls = []

        def fixed(spark, kind, nbytes, target_bytes=None, _n=forced):
            calls.append(kind)
            return _n

        monkeypatch.setattr(tuning, "width", fixed)
        assert rows(fn(spark, SF_SMOKE)) == want, (name, forced)
        assert calls, f"{name} never consulted tuning.width"
        monkeypatch.undo()
