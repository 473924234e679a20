"""End-to-end medallion pipeline test (FIXTURES.md §A): two snapshots per
account with controlled overlap; assert the diff table is exactly
{added, deleted}, aggregate provenance, idempotent partition overwrite,
and latest-snapshot resolution."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datalake_project_spark.lake import Lake
from datalake_project_spark.manifest_lake import ManifestLake
from datalake_project_spark.pipeline import run_pipeline
from datalake_project_spark.sources.json_ingest import (
    ingest_records, normalize_payload, read_json_files)
from tests.conftest import rows

LOOKUP = [("alice", "female"), ("bob", "male"), ("carol", "mostly_female")]


def _payload(users):
    return [{"username": u, "full_name": f"{u.title()} Doe", "extra": 1}
            for u in users]


@pytest.fixture()
def lake(spark, tmp_path):
    return Lake(spark, str(tmp_path / "lake"))


def _lookup_df(spark):
    return spark.createDataFrame(LOOKUP, "first_name string, gender string")


def test_two_snapshot_run_produces_exact_diff(spark, lake):
    t0_users = ["alice", "bob", "carol", "dora"]
    t1_users = ["bob", "carol", "eve", "fred"]   # -alice -dora +eve +fred

    run_pipeline(spark, lake, {"acct1": _payload(t0_users)},
                 _lookup_df(spark), "20250301", "1000")
    run_pipeline(spark, lake, {"acct1": _payload(t1_users)},
                 _lookup_df(spark), "20250301", "1100")

    diff = lake.read_usage("comparatif_apify_instagram_data_acct1",
                           "20250301", "1100")
    got = {(r["username"], r["change"]) for r in diff.collect()}
    assert got == {("eve", "added"), ("fred", "added"),
                   ("alice", "deleted"), ("dora", "deleted")}


def test_first_run_has_no_diff_table(spark, lake):
    run_pipeline(spark, lake, {"acct1": _payload(["alice"])},
                 _lookup_df(spark), "20250301", "1000")
    assert not lake.exists("comparatif_apify_instagram_data_acct1")


def test_aggregate_provenance_and_enrichment(spark, lake):
    out = run_pipeline(
        spark, lake,
        {"a1": _payload(["alice", "zed"]), "a2": _payload(["bob"])},
        _lookup_df(spark), "20250301", "1000")
    agg = out["final_aggregated"]
    by_user = {r["username"]: r for r in agg.collect()}
    assert by_user["alice"]["username_scraped"] == "a1"
    assert by_user["bob"]["username_scraped"] == "a2"
    assert by_user["alice"]["predicted_gender"] == "female"
    assert abs(by_user["alice"]["confidence"] - 0.9) < 1e-6
    assert by_user["zed"]["predicted_gender"] == "unknown"


def test_rerun_same_partition_is_idempotent(spark, lake):
    for _ in range(2):  # same (date, run_ts) twice -> dynamic overwrite
        run_pipeline(spark, lake, {"acct1": _payload(["alice", "bob"])},
                     _lookup_df(spark), "20250301", "1000")
    usage = lake.read_usage("apify_instagram_data_acct1", "20250301", "1000")
    assert usage.count() == 2


def test_latest_run_resolution_across_runs(spark, lake):
    for ts in ["0900", "1000", "1100"]:
        run_pipeline(spark, lake, {"acct1": _payload(["alice"])},
                     _lookup_df(spark), "20250301", ts)
    t = "apify_instagram_data_acct1"
    assert lake.latest_run_before(t, "20250301", "1100") == "1000"
    assert lake.latest_run_before(t, "20250301", "1030") == "1000"
    assert lake.latest_run_before(t, "20250301", "0900") is None


def test_global_diff(spark, lake):
    old = ingest_records(spark, _payload(["alice", "gone"]))
    out = run_pipeline(spark, lake, {"acct1": _payload(["alice", "new"])},
                       _lookup_df(spark), "20250301", "1000",
                       old_snapshot=old)
    got = {(r["username"], r["change"])
           for r in out["final_global_comparatif"].collect()}
    assert got == {("new", "added_global"), ("gone", "deleted_global")}


def _jobs(spark, group, fn):
    """Run ``fn()`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persisted(spark):
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_run_releases_persisted_frames(spark, lake):
    before = _persisted(spark)
    for ts in ("1000", "1100"):
        run_pipeline(spark, lake, {"a1": _payload(["alice", "zed"]),
                                   "a2": _payload(["bob"])},
                     _lookup_df(spark), "20250301", ts)
        assert _persisted(spark) == before


def test_failed_write_releases_persisted_frames(spark, lake, monkeypatch):
    payloads = {"a1": _payload(["alice"]), "a2": _payload(["bob"])}
    run_pipeline(spark, lake, payloads, _lookup_df(spark), "20250301", "1000")
    before = _persisted(spark)
    real = Lake.write_usage

    def failing(self, df, table, *args, **kwargs):
        if table.startswith("comparatif_"):
            raise RuntimeError("diff write failed")
        return real(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Lake, "write_usage", failing)
    with pytest.raises(RuntimeError, match="diff write failed"):
        run_pipeline(spark, lake, payloads, _lookup_df(spark),
                     "20250301", "1100")
    assert _persisted(spark) == before


#: Spark jobs one two-account diffing run with a global diff submits:
#: 18 with each account's enriched frame persisted and the previous
#: snapshot resolved by listing (the same at 1, 4 and 8 cores), against
#: 38 when every consumer recomputed the frame
MAX_DIFF_RUN_JOBS = 18


def test_diffing_run_job_budget(spark, lake):
    lookup = _lookup_df(spark)
    run_pipeline(spark, lake, {"a1": _payload(["alice", "bob", "zed"]),
                               "a2": _payload(["carol", "dora"])},
                 lookup, "20250301", "1000")
    old = lake.read_usage("final_aggregated", "20250301", "1000") \
        .select("username", "full_name")
    _, n = _jobs(spark, "pipeline_job_budget", lambda: run_pipeline(
        spark, lake, {"a1": _payload(["alice", "eve", "zed"]),
                      "a2": _payload(["carol", "fred"])},
        lookup, "20250301", "1100", old_snapshot=old))
    assert 0 < n <= MAX_DIFF_RUN_JOBS


def test_latest_run_before_on_manifest_lake(spark, tmp_path):
    lake = ManifestLake(spark, str(tmp_path / "mlake"))
    assert lake.latest_run_before("t", "20250301", "1000") is None
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    for ts in ("0900", "1100", "1000"):
        lake.write_usage(df, "t", "20250301", ts)
    lake.write_usage(df, "t", "20250302", "0930")
    got, n = _jobs(spark, "manifest_latest_run", lambda: [
        lake.latest_run_before("t", "20250301", ts)
        for ts in ("0900", "0930", "1100", "1200")])
    assert got == [None, "0900", "1000", "1100"]
    assert n == 0


def test_latest_run_before_counts_upsert_emptied_run(spark, lake):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    lake.write_usage(df, "t", "20250301", "0900")
    lake.write_usage(df, "t", "20250301", "1000")
    tombstones = spark.createDataFrame(
        [(1, "a", True), (2, "b", True)], "id long, v string, gone boolean")
    lake.upsert(tombstones, "t", "20250301", "1000", keys=["id"],
                delete_col="gone")
    assert lake.read_usage("t", "20250301", "1000").count() == 0
    # an emptied run is still a snapshot: it is the previous one
    got, n = _jobs(spark, "emptied_latest_run",
                   lambda: lake.latest_run_before("t", "20250301", "1100"))
    assert (got, n) == ("1000", 0)


def test_run_on_static_session_keeps_conf_and_partitions(spark, lake):
    """A two-account run (concurrent lake writes) on a session whose
    default is static overwrite leaves that default alone, and each
    run still replaces only its own partition."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        for ts in ("1000", "1100"):
            run_pipeline(spark, lake, {"a1": _payload(["alice", "zed"]),
                                       "a2": _payload(["bob"])},
                         _lookup_df(spark), "20250301", ts)
            assert spark.conf.get(key) == "static"
        assert lake.read_usage("final_aggregated").count() == 6
        assert lake.read_usage("apify_instagram_data_a1").count() == 4
        assert lake.list_runs("apify_instagram_data_a2", "20250301") == [
            "1000", "1100"]
    finally:
        spark.conf.set(key, prev)


# --- payload-shape handling (reference S2) --------------------------------

def test_normalize_payload_shapes():
    recs = [{"username": "a", "full_name": "A"}]
    assert normalize_payload(recs) == recs
    assert normalize_payload({"items": recs}) == recs
    assert normalize_payload({"username": "a"}) == [{"username": "a"}]
    with pytest.raises(TypeError):
        normalize_payload("not a payload")


def test_dump_raw_keeps_each_payload_shape_verbatim(tmp_path):
    import json

    from datalake_project_spark.sources.json_ingest import dump_raw

    recs = [{"username": "a", "full_name": "A"}, {"username": "b"}]
    for i, payload in enumerate((recs, {"items": recs, "next": None},
                                 {"username": "c", "extra": [1, 2]})):
        path = tmp_path / "raw" / f"acct{i}" / "payload.json"
        dump_raw(payload, str(path))
        assert json.loads(path.read_text()) == payload


def test_ingest_missing_and_extra_keys(spark):
    df = ingest_records(spark, [{"username": "a", "junk": 9}, {"full_name": "B X"}])
    assert rows(df) == [(None, "B X"), ("a", None)]


def test_read_json_files_with_corrupt_records(spark, tmp_path):
    good = tmp_path / "good.json"
    good.write_text('[{"username": "a", "full_name": "A"}, {"username": "b"}]')
    bad = tmp_path / "bad.json"
    bad.write_text('{"username": "c", ')
    # Spark refuses predicates that reference ONLY _corrupt_record on a raw
    # scan; materialize rows first (callers would .cache() before triage).
    got = read_json_files(spark, str(tmp_path)).collect()
    ok = [r for r in got if r["_corrupt_record"] is None]
    corrupt = [r for r in got if r["_corrupt_record"] is not None]
    assert {r["username"] for r in ok} == {"a", "b"}
    assert len(corrupt) == 1


def test_jdbc_option_assembly_and_sanitization():
    from datalake_project_spark.sources.mirrors import JdbcConfig, sanitize_table_name
    assert sanitize_table_name("acct-name.x") == "acct_name_x"
    assert sanitize_table_name("9lives") == "t_9lives"
    cfg = JdbcConfig(url="jdbc:postgresql://h:5432/db", user="u", password="p")
    opts = cfg.options("final-aggregated")
    assert opts["dbtable"] == "final_aggregated"
    assert opts["driver"] == "org.postgresql.Driver"


def test_es_option_assembly():
    from datalake_project_spark.sources.mirrors import EsConfig
    opts = EsConfig().options("final_aggregated_index", "username")
    assert opts["es.resource"] == "final_aggregated_index"
    assert opts["es.mapping.id"] == "username"


def test_lake_write_does_not_mutate_session_conf(spark, tmp_path):
    """Constructing/using a Lake must not silently flip
    partitionOverwriteMode for the caller's own unrelated writes
    (round-2 advice): dynamic overwrite is a per-write option."""
    from datalake_project_spark.lake import Lake

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        lake = Lake(spark, str(tmp_path / "lake"))
        df = spark.range(5).withColumnRenamed("id", "k")
        lake.write_usage(df, "t", "2024-01-01", "20240101T000000")
        assert spark.conf.get(key).lower() == "static"
        # and the write itself still used dynamic semantics: a second
        # write of a DIFFERENT partition must not truncate the first
        lake.write_usage(df, "t", "2024-01-02", "20240102T000000")
        assert lake.read_usage("t").count() == 10
    finally:
        spark.conf.set(key, prev)
