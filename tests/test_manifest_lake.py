"""ManifestLake: the manifest-commit ACID backend behind the Lake API.

Covers the four properties the copy-on-write Parquet Lake cannot give:
atomic visibility (a commit is one os.link; readers see whole versions),
optimistic concurrency (concurrent writers all land, losers rebase),
serializable MERGE (concurrent upserts to one partition re-merge instead
of losing updates), and metadata-only time travel / rollback (zero data
copy, refcount vacuum). Semantic parity with the base Lake (MERGE
triple, WAP) is asserted against the same expected states the oracle
queries pin for the base backend; retention parity is parametrized in
test_retention.py.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import functions as F

from datalake_project_spark.lake import Lake
from datalake_project_spark.manifest_lake import ManifestLake
from tests.conftest import REPO_ROOT

D = "2026-02-01"


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _state(lake, run):
    return {(r["id"], r["v"])
            for r in lake.read_usage("t", D, run).select("id", "v").collect()}


# -- atomicity & versions --------------------------------------------------

def test_write_commits_versions_and_snapshot_reads(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    lake.write_usage(_df(spark, [(1, "b")]), "t", D, "T01")
    assert lake.latest_version("t") == 2
    assert _state(lake, "T01") == {(1, "b")}
    # time travel: version 1 still reads the first snapshot
    old = lake.read_usage_at("t", 1, D, "T01")
    assert {(r["id"], r["v"]) for r in old.collect()} == {(1, "a")}


def test_torn_stage_is_invisible(spark, tmp_path):
    """Files staged without a committed manifest never reach readers —
    the crash-mid-write story the bare-Parquet lake cannot tell."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    # simulate a writer that died after staging, before commit
    lake._stage(_df(spark, [(99, "zz")]), "t")
    assert _state(lake, "T01") == {(1, "a")}
    assert lake.latest_version("t") == 1


def test_manifest_commit_is_create_if_absent(spark, tmp_path):
    """Two writers racing for the same version: exactly one os.link wins;
    the manifest chain has no gaps and no overwrites."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    mdir = lake._mdir("t")
    v1 = json.load(open(f"{mdir}/v00000001.json"))
    # a manual conflicting commit at v2, then a lake write must land at v3
    with open(f"{mdir}/v00000002.json", "w") as fh:
        json.dump({"version": 2, "parent": 1, "entries": v1["entries"]}, fh)
    lake.write_usage(_df(spark, [(2, "b")]), "t", D, "T02")
    assert lake.latest_version("t") == 3
    assert _state(lake, "T01") == {(1, "a")}
    assert _state(lake, "T02") == {(2, "b")}


# -- MERGE parity + serializability ----------------------------------------

def test_upsert_merge_triple_parity_with_base_lake(spark, tmp_path):
    """Matched-update / not-matched-insert / tombstone-delete produce the
    SAME final state on both backends."""
    states = {}
    for name, cls in (("base", Lake), ("manifest", ManifestLake)):
        lake = cls(spark, f"{tmp_path}/{name}")
        lake.write_usage(_df(spark, [(1, "a"), (2, "b"), (3, "c")]),
                         "t", D, "T01")
        ups = spark.createDataFrame(
            [(2, "B", False), (4, "D", False), (3, None, True)],
            "id long, v string, dead boolean")
        lake.upsert(ups, "t", D, "T01", keys=["id"], delete_col="dead")
        states[name] = _state(lake, "T01")
    assert states["base"] == states["manifest"] == \
        {(1, "a"), (2, "B"), (4, "D")}


def test_write_audit_publish_on_manifest_backend(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    bad = _df(spark, [(1, "a"), (1, "dup")])
    good = _df(spark, [(1, "a"), (2, "b")])

    def audit(df):
        n = df.count()
        k = df.select("id").distinct().count()
        return n - k  # violations = duplicate keys

    assert lake.write_audit_publish(bad, "t", D, "T01", audit) == 1
    assert lake.read_usage("t", D, "T01").count() == 0  # not published
    assert lake.write_audit_publish(good, "t", D, "T01", audit) == 0
    assert _state(lake, "T01") == {(1, "a"), (2, "b")}


# -- concurrency -----------------------------------------------------------

def _run_threads(fns):
    errs = []

    def wrap(fn):
        try:
            fn()
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=wrap, args=(fn,)) for fn in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs


def test_concurrent_appends_all_survive(spark, tmp_path):
    """N concurrent formatted appends: every writer's rows are in the
    final snapshot (the bare-Parquet dynamic overwrite can interleave
    and lose files; the manifest rebase cannot)."""
    lake = ManifestLake(spark, str(tmp_path))
    n = 6
    _run_threads([
        (lambda i=i: lake.write_formatted(
            _df(spark, [(i, f"w{i}")]), "t", D)) for i in range(n)])
    got = {(r["id"], r["v"])
           for r in lake.read_formatted("t", D).select("id", "v").collect()}
    assert got == {(i, f"w{i}") for i in range(n)}


def test_concurrent_partition_writes_both_land(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    _run_threads([
        lambda: lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01"),
        lambda: lake.write_usage(_df(spark, [(2, "b")]), "t", D, "T02"),
    ])
    assert _state(lake, "T01") == {(1, "a")}
    assert _state(lake, "T02") == {(2, "b")}


def test_concurrent_upserts_serialize_no_lost_update(spark, tmp_path):
    """Two upserts touching DIFFERENT keys of the SAME partition run
    concurrently: the loser detects the conflict and re-merges against
    the winner's rows — both updates appear in the final state."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a"), (2, "b")]), "t", D, "T01")
    _run_threads([
        lambda: lake.upsert(_df(spark, [(1, "A2")]), "t", D, "T01", ["id"]),
        lambda: lake.upsert(_df(spark, [(3, "C2")]), "t", D, "T01", ["id"]),
    ])
    assert _state(lake, "T01") == {(1, "A2"), (2, "b"), (3, "C2")}


# -- time travel / rollback / vacuum ---------------------------------------

def test_rollback_is_metadata_only_and_vacuum_refcounts(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "good")]), "t", D, "T01")
    lake.write_usage(_df(spark, [(1, "bad")]), "t", D, "T02")
    lake.rollback("t", D, to_run="T01", new_run="T03")
    m = lake._latest("t")[1]
    # zero-copy: T03 references exactly T01's files
    assert lake._entry_files(m, (D, "T01")) == lake._entry_files(m, (D, "T03"))
    assert _state(lake, "T03") == {(1, "good")}
    # expire T01+T02; T03 aliases T01's files so they must SURVIVE vacuum
    expired = lake.expire_runs("t", D, keep_last=1)
    assert expired == ["T01", "T02"]
    assert _state(lake, "T03") == {(1, "good")}
    for f in lake._entry_files(lake._latest("t")[1], (D, "T03")):
        assert os.path.exists(f)


def test_compact_reduces_file_count_same_rows(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    df = spark.range(100).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"))
    lake.write_usage(df.repartition(8), "t", D, "T01")
    before = lake.compact("t", D, "T01", target_files=1)
    assert before == 8
    m = lake._latest("t")[1]
    assert len(lake._entry_files(m, (D, "T01"))) == 1
    assert lake.read_usage("t", D, "T01").count() == 100


def test_read_prunes_to_manifest_files(spark, tmp_path):
    """Partition pruning is MANIFEST pruning: a filtered read's scan
    touches exactly the filtered partition's files — the other
    partitions contribute zero files to the plan (Iceberg-style
    listing-free skip, verified via input_file_name)."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(spark.range(100).selectExpr("id", "id * 2 AS v")
                     .repartition(4), "t", D, "T01")
    lake.write_usage(spark.range(50).selectExpr("id", "id * 3 AS v")
                     .repartition(4), "t", D, "T02")
    m = lake._latest("t")[1]
    want = lake._entry_files(m, (D, "T02"))
    got = {r["f"] for r in
           lake.read_usage("t", D, "T02")
           .select(F.input_file_name().alias("f")).distinct().collect()}
    # normalize file:// prefixes
    got = {g.removeprefix("file://") for g in got}
    assert got == set(want)


# -- per-file column stats / manifest-level file skipping --------------------


def test_scan_prunes_files_by_column_stats(spark, tmp_path):
    """Range-clustered write => a range scan reads ONLY the files whose
    manifest [min, max] overlaps the predicate (Iceberg stats skipping:
    file-level pruning from metadata alone), and the result equals the
    naive filtered read."""
    lake = ManifestLake(spark, str(tmp_path))
    df = (spark.range(1000).selectExpr("id", "id % 7 AS v")
          .repartitionByRange(5, "id"))
    lake.write_usage(df, "t", D, "T01")
    entry = next(e for e in lake._latest("t")[1]["entries"]
                 if e["keys"] == [D, "T01"])
    assert len(entry["files"]) == 5
    assert all("id" in s and "v" in s for s in entry["stats"].values())

    kept = lake._prune_files(entry, "id", 100, 250)
    assert 0 < len(kept) < 5  # actual file skipping, not a full read

    got = {r["id"] for r in
           lake.scan_usage("t", "id", 100, 250).select("id").collect()}
    assert got == set(range(100, 251))


def test_scan_without_stats_is_conservative(spark, tmp_path):
    """A manifest entry written before stats existed (or with stats
    stripped) must be read in full — stats are an optimization, never
    a correctness gate."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(spark.range(100).selectExpr("id", "id AS v")
                     .repartition(3), "t", D, "T01")
    v, m = lake._latest("t")
    for e in m["entries"]:
        e.pop("stats", None)
    mpath = os.path.join(lake._mdir("t"), f"v{v:08d}.json")
    os.unlink(mpath)
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    entry = m["entries"][0]
    assert lake._prune_files(entry, "id", 0, 1) == entry["files"]
    got = {r["id"] for r in
           lake.scan_usage("t", "id", 0, 1).select("id").collect()}
    assert got == {0, 1}


def test_stats_survive_rollback_and_string_pruning(spark, tmp_path):
    """Rollback aliases carry the source entry's stats, and string
    min/max prune the same way numeric ones do."""
    lake = ManifestLake(spark, str(tmp_path))
    df = (spark.createDataFrame(
        [(i, chr(97 + i % 26) * 3) for i in range(260)], "id long, v string")
        .repartitionByRange(4, "v"))
    lake.write_usage(df, "t", D, "T01")
    lake.rollback("t", D, "T01", "T02")
    entry = next(e for e in lake._latest("t")[1]["entries"]
                 if e["keys"] == [D, "T02"])
    assert entry["stats"]
    kept = lake._prune_files(entry, "v", "aaa", "bbb")
    assert 0 < len(kept) < len(entry["files"])
    got = lake.scan_usage("t", "v", "aaa", "bbb", run_ts="T02")
    assert {r["v"] for r in got.select("v").distinct().collect()} \
        == {"aaa", "bbb"}


# -- schema evolution ---------------------------------------------------------


def test_add_column_evolution_across_runs(spark, tmp_path):
    """Delta/Iceberg add-column semantics: a later run writes an extra
    column; reading BOTH runs merges schemas with nulls for pre-
    evolution rows, and the stats-pruned scan sees the merged schema
    too. No rewrite of old files, no read failure."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a"), (2, "b")]), "t", D, "T01")
    lake.write_usage(
        spark.createDataFrame([(3, "c", 30), (4, "d", 40)],
                              "id long, v string, w long"),
        "t", D, "T02")
    got = lake.read_usage("t", D)
    assert set(got.columns) == {"id", "v", "w", "ingest_date", "run_ts"}
    rows = {r["id"]: r["w"] for r in got.collect()}
    assert rows == {1: None, 2: None, 3: 30, 4: 40}
    # evolved column visible and null-safe through the pruned scan path
    scan = lake.scan_usage("t", "id", 2, 3)
    assert {(r["id"], r["w"]) for r in scan.select("id", "w").collect()} \
        == {(2, None), (3, 30)}


def test_evolution_within_one_entry_merges_file_schemas(spark, tmp_path):
    """Append-mode (write_formatted) accumulates files in ONE entry;
    files written before and after an add-column must merge on read
    (mergeSchema within the entry, not just across entries)."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_formatted(_df(spark, [(1, "a")]), "t", D)
    lake.write_formatted(
        spark.createDataFrame([(2, "b", 20)], "id long, v string, w long"),
        "t", D)
    got = lake.read_formatted("t", D)
    assert {(r["id"], r["w"]) for r in got.select("id", "w").collect()} \
        == {(1, None), (2, 20)}


# -- orphan-file vacuum -------------------------------------------------------


def test_vacuum_orphans_sweeps_torn_stage_only(spark, tmp_path):
    """A writer that died after staging leaves an uncommitted stage dir;
    vacuum_orphans removes it while every manifest-referenced file
    (current AND historical versions) survives, and a fresh stage
    inside the age window is protected."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    lake.write_usage(_df(spark, [(1, "b")]), "t", D, "T01")  # v2 supersedes
    torn = lake._stage(_df(spark, [(99, "zz")]), "t")
    assert all(os.path.exists(f) for f in torn)

    # inside the age gate: nothing is swept (concurrent-writer guard)
    assert lake.vacuum_orphans("t", min_age_seconds=3600) == []
    assert all(os.path.exists(f) for f in torn)

    deleted = lake.vacuum_orphans("t", min_age_seconds=0)
    assert set(deleted) == set(torn)
    assert not any(os.path.exists(f) for f in torn)
    # current read unaffected; historical version still time-travels
    assert _state(lake, "T01") == {(1, "b")}
    old = lake.read_usage_at("t", 1, D, "T01")
    assert {(r["id"], r["v"]) for r in old.collect()} == {(1, "a")}


# -- r6: _latest pointer, bounded metadata, version expiry ------------------

def test_latest_pointer_is_o1_no_directory_listing(spark, tmp_path,
                                                   monkeypatch):
    """Head resolution on a deep table reads the pointer + a couple of
    stats, never an O(versions) listing: synthesize a 1,000-version
    manifest chain, then assert latest_version answers correctly with
    _versions() (the listing path) forbidden."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    mdir = lake._mdir("t")
    m = json.load(open(f"{mdir}/v00000001.json"))
    for v in range(2, 1001):
        m["version"] = v
        with open(f"{mdir}/v{v:08d}.json", "w") as fh:
            json.dump(m, fh)
    lake._publish_pointer("t", 1000)

    def boom(self, table):
        raise AssertionError("latest_version fell back to a listing")

    monkeypatch.setattr(ManifestLake, "_versions", boom)
    assert lake.latest_version("t") == 1000


def test_latest_pointer_stale_walks_forward(spark, tmp_path):
    """A writer that crashed after os.link but before the pointer update
    leaves the pointer one behind; readers walk forward and still see
    the committed head (read-committed despite the stale pointer)."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    lake.write_usage(_df(spark, [(1, "b")]), "t", D, "T01")
    lake._publish_pointer("t", 1)  # simulate the crash-window regression
    assert lake.latest_version("t") == 2
    assert _state(lake, "T01") == {(1, "b")}


def test_latest_pointer_absent_or_corrupt_falls_back(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    ptr = os.path.join(lake._mdir("t"), "_latest")
    os.unlink(ptr)
    assert lake.latest_version("t") == 1
    with open(ptr, "w") as fh:
        fh.write("not-a-version")
    assert lake.latest_version("t") == 1


def test_expire_versions_bounds_metadata_and_refcount_vacuums(
        spark, tmp_path):
    """expire_versions(keep_last=N) drops old manifests (Delta
    checkpoint / Iceberg manifest-rewrite discipline) and deletes data
    files only the expired versions referenced, while every file a
    surviving version still points at stays alive."""
    lake = ManifestLake(spark, str(tmp_path))
    for i in range(5):
        lake.write_usage(_df(spark, [(1, f"v{i}")]), "t", D, "T01")
    v1_files = lake._entry_files(lake._load("t", 1), (D, "T01"))
    v5_files = lake._entry_files(lake._load("t", 5), (D, "T01"))
    assert lake.expire_versions("t", keep_last=2) == [1, 2, 3]
    assert lake._versions("t") == [4, 5]
    assert lake.latest_version("t") == 5          # pointer still valid
    assert _state(lake, "T01") == {(1, "v4")}
    # v1's files were only referenced by expired versions: gone
    assert not any(os.path.exists(f) for f in v1_files)
    assert all(os.path.exists(f) for f in v5_files)
    # expired versions are no longer time-travelable — by contract
    try:
        lake.read_usage_at("t", 1, D, "T01")
        raise AssertionError("expired version should not resolve")
    except FileNotFoundError:
        pass


def test_expire_runs_expires_versions_referencing_deleted_files(
        spark, tmp_path):
    """Retention never leaves a readable manifest pointing at deleted
    data: expire_runs also expires historical versions that reference
    the vacuumed files (Iceberg expire_snapshots), while a historical
    version that references none of them STAYS readable."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(2, "keep")]), "t", D, "T02")   # v1
    lake.write_usage(_df(spark, [(1, "old")]), "t", D, "T01")    # v2
    assert lake.expire_runs("t", D, keep_last=1) == ["T01"]      # v3
    # v2 referenced T01's (now deleted) files -> expired with them
    assert 2 not in lake._versions("t")
    # v1 references only T02's files -> still time-travels
    old = lake.read_usage_at("t", 1, D, "T02")
    assert {(r["id"], r["v"]) for r in old.collect()} == {(2, "keep")}
    assert _state(lake, "T02") == {(2, "keep")}


def _in_checkout(source: str) -> str:
    """Prefix a worker script so it imports this checkout's package."""
    return f"import sys\nsys.path.insert(0, {REPO_ROOT!r})\n" + source


HAMMER = r"""
import sys
from datalake_project_spark.manifest_lake import ManifestLake
from datalake_project_spark.session import get_spark

root, tag, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark(f"hammer-{tag}", extra_conf={
    "spark.sql.shuffle.partitions": "2",
    "spark.ui.enabled": "false",
})
lake = ManifestLake(spark, root)
for i in range(n):
    df = spark.createDataFrame([(int(tag) * 1000 + i, f"p{tag}r{i}")],
                               "id long, v string")
    lake.upsert(df, "t", "2026-02-01", "T01", keys=["id"])
spark.stop()
print("OK")
"""


def test_multiprocess_concurrent_upserts_no_lost_update(spark, tmp_path):
    """The os.link commit claim is about CROSS-PROCESS atomicity: two OS
    processes (separate JVMs, separate Python interpreters) hammer
    upsert on one partition; every row from both must land (losers
    rebase on CommitConflict) and the version chain has no gaps."""
    import subprocess
    import sys as _sys

    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(0, "seed")]), "t", D, "T01")
    script = tmp_path / "hammer.py"
    script.write_text(_in_checkout(HAMMER))
    procs = [subprocess.Popen(
        [_sys.executable, str(script), str(tmp_path), tag, "3"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        for tag in ("1", "2")]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err.decode()[-2000:]
        assert b"OK" in out
    got = _state(lake, "T01")
    want = {(0, "seed")} | {(1000 + i, f"p1r{i}") for i in range(3)} \
        | {(2000 + i, f"p2r{i}") for i in range(3)}
    assert got == want
    # version chain is gapless: 1 seed + 6 upsert commits
    assert lake._versions("t") == list(range(1, 8))


def test_unbounded_scan_keeps_null_only_files(spark, tmp_path):
    """Pruning is an optimization, never a filter: with NO range
    predicate (lo=hi=None), scan_usage must return rows from files
    whose stats say the column is entirely null."""
    lake = ManifestLake(spark, str(tmp_path))
    df = spark.createDataFrame([(1, None), (2, "x")], "id long, v string") \
        .repartition(2, "id")
    lake.write_usage(df, "t", D, "T01")
    got = {(r["id"], r["v"])
           for r in lake.scan_usage("t", "v").select("id", "v").collect()}
    assert got == {(1, None), (2, "x")}
    # and the predicate path still skips/filters nulls correctly
    bounded = {(r["id"], r["v"]) for r in
               lake.scan_usage("t", "v", lo="a").select("id", "v").collect()}
    assert bounded == {(2, "x")}


CRASH_WORKER = r"""
import sys, json, os
from datalake_project_spark.manifest_lake import ManifestLake
from datalake_project_spark.session import get_spark

root = sys.argv[1]
spark = get_spark("crash-worker", extra_conf={
    "spark.sql.shuffle.partitions": "2",
    "spark.ui.enabled": "false",
})
lake = ManifestLake(spark, root)
i = 0
while True:  # upsert forever; the parent SIGKILLs us mid-flight
    df = spark.createDataFrame([(i % 7, f"w{i}")], "id long, v string")
    lake.upsert(df, "t", "2026-02-01", "T01", keys=["id"])
    i += 1
"""


def test_sigkill_mid_commit_leaves_table_consistent(spark, tmp_path):
    """The ACID claim under a real crash: a writer process is SIGKILLed
    while continuously upserting. Whatever instant it died at — staging,
    mid-manifest-write, between os.link and the pointer update — the
    table must stay fully consistent for readers: every published
    manifest parses, the version chain has no gaps, the head resolves,
    and the data reads back with exactly one row per key (the upsert
    invariant). Orphaned temps/stage dirs are allowed (vacuum_orphans'
    job); torn STATE is not."""
    import json as _json
    import signal
    import subprocess
    import sys as _sys
    import time as _time

    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(99, "seed")]), "t", D, "T01")
    script = tmp_path / "crash_worker.py"
    script.write_text(_in_checkout(CRASH_WORKER))
    proc = subprocess.Popen([_sys.executable, str(script), str(tmp_path)],
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL)
    deadline = _time.time() + 120
    # wait until the worker has committed a few versions, then kill -9
    while _time.time() < deadline:
        if (lake.latest_version("t") or 0) >= 4:
            break
        _time.sleep(0.5)
    assert (lake.latest_version("t") or 0) >= 4, "worker never committed"
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=30)

    head = lake.latest_version("t")
    versions = lake._versions("t")
    assert versions == list(range(1, head + 1)), "version chain has gaps"
    for v in versions:  # every published manifest is complete JSON
        m = _json.load(open(lake._vpath("t", v)))
        assert m["version"] == v
        for e in m["entries"]:
            for f in e["files"]:
                assert os.path.exists(f), f"v{v} references missing {f}"
    # data invariant: exactly one row per key at the head
    rows = lake.read_usage("t", D, "T01").groupBy("id").count().collect()
    assert rows and all(r["count"] == 1 for r in rows)


def test_expired_base_version_raises_commit_conflict_not_io_error(
        spark, tmp_path):
    """Race between version expiry and a guarded commit (ADVICE r6): a
    writer read base version V, then expire_versions deleted V's
    manifest before the writer committed. The guard's base-load must
    surface as CommitConflict (caller re-reads the new head and
    re-merges) — an uncaught FileNotFoundError would crash the upsert
    retry loop mid-flight."""
    from datalake_project_spark.manifest_lake import CommitConflict

    lake = ManifestLake(spark, str(tmp_path))
    for i in range(4):
        lake.write_usage(_df(spark, [(1, f"v{i}")]), "t", D, "T01")
    lake.expire_versions("t", keep_last=1)  # v1..v3 manifests are gone
    try:
        lake._commit("t", lambda m: m, base_version=1,
                     guard_key=(D, "T01"))
        raise AssertionError("expected CommitConflict")
    except CommitConflict:
        pass
    except FileNotFoundError:
        raise AssertionError(
            "guard leaked FileNotFoundError instead of CommitConflict")


def test_upsert_rereads_head_when_base_expires_mid_merge(
        spark, tmp_path, monkeypatch):
    """The upsert retry loop's merge reads the base version's rows; if
    expiry deletes that manifest between the head read and the merge
    read, upsert must retry against the new head, not crash. Simulated
    by failing the first read_usage_at call with the same
    FileNotFoundError _load raises for an expired manifest."""
    lake = ManifestLake(spark, str(tmp_path))
    lake.write_usage(_df(spark, [(1, "v0"), (2, "keep")]), "t", D, "T01")

    real = ManifestLake.read_usage_at
    calls = {"n": 0}

    def flaky(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise FileNotFoundError("manifest expired mid-merge")
        return real(self, *a, **kw)

    monkeypatch.setattr(ManifestLake, "read_usage_at", flaky)
    lake.upsert(_df(spark, [(1, "v1")]), "t", D, "T01", keys=["id"])
    assert calls["n"] >= 2, "upsert never retried after expiry"
    assert _state(lake, "T01") == {(1, "v1"), (2, "keep")}


def test_orphan_files_three_way_reconciliation(spark, tmp_path):
    """orphan_files must separate the three states: superseded files
    stay REFERENCED (readable via time travel — latest-only
    reconciliation would delete live history), manifest-bypassing
    files are orphans, and a deleted referenced file lands in the
    missing list (the corruption arm the registry query can't show
    without destroying its own fixture)."""
    import os

    lake = ManifestLake(spark, str(tmp_path))
    v1 = lake.write_usage(_df(spark, [(1, "a")]), "t", D, "T01")
    lake.write_usage(_df(spark, [(1, "b")]), "t", D, "T01")  # supersede

    orphans, missing = lake.orphan_files("t")
    assert orphans == [] and missing == [], \
        "supersession alone must produce neither orphans nor missing"

    # plant a manifest-bypassing file
    _df(spark, [(9, "junk")]).coalesce(1).write.mode("overwrite") \
        .parquet(f"{lake.root}/data/t/planted")
    orphans, missing = lake.orphan_files("t")
    assert len(orphans) == 1 and missing == []
    # the orphan is invisible to every reader, including time travel
    assert [r["v"] for r in lake.read_usage("t", D, "T01").collect()] == ["b"]
    assert [r["v"] for r in
            lake.read_usage_at("t", v1, D, "T01").collect()] == ["a"]

    # corruption arm: delete one referenced file
    victim = sorted(lake.referenced_files("t"))[0]
    os.remove(victim)
    orphans, missing = lake.orphan_files("t")
    assert missing == [victim]


def test_clone_shallow_zero_copy_and_divergence(spark, tmp_path):
    """clone_shallow: reads equal immediately, zero data files copied,
    and post-clone writes to either side diverge without touching the
    other (immutable files + independent manifest chains)."""
    ml = ManifestLake(spark, str(tmp_path))
    ml.write_usage(_df(spark, [(1, "a"), (2, "b")]), "t", D, "r1")

    def files():
        out = set()
        for base, _, fs in os.walk(str(tmp_path)):
            out.update(os.path.join(base, f) for f in fs
                       if f.endswith(".parquet"))
        return out

    before = files()
    ml.clone_shallow("t", "t2")
    assert files() == before                      # zero-copy
    assert _state(ml, "r1") == {(1, "a"), (2, "b")}
    assert ml.referenced_files("t2") <= ml.referenced_files("t")
    got = {(r["id"], r["v"]) for r in
           ml.read_usage("t2", D, "r1").select("id", "v").collect()}
    assert got == {(1, "a"), (2, "b")}

    # divergence: upsert into the CLONE only
    ml.upsert(_df(spark, [(2, "B2"), (3, "c")]), "t2", D, "r1",
              keys=["id"])
    got2 = {(r["id"], r["v"]) for r in
            ml.read_usage("t2", D, "r1").select("id", "v").collect()}
    assert got2 == {(1, "a"), (2, "B2"), (3, "c")}
    assert _state(ml, "r1") == {(1, "a"), (2, "b")}   # source untouched

    import pytest
    with pytest.raises(FileNotFoundError):
        ml.clone_shallow("nope", "x")
