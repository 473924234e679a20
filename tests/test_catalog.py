"""Catalog schema resolution: a fixture file's schema is inferred once per
(size, mtime) and shared by every Catalog instance, while each instance
still builds its own frames."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from datalake_project_spark.catalog import Catalog

SF = "/root/testdata/sf0.001"


def _jobs(spark, group, fn):
    """Run ``fn()`` under its own job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_catalog_reads_without_jobs(spark):
    for name in ("orders", "events"):
        Catalog(spark, SF).table(name)
        _, n = _jobs(spark, f"catalog_second_{name}",
                     lambda: Catalog(spark, SF).table(name))
        assert n == 0, name


def test_catalogs_keep_distinct_attribute_ids(spark):
    """Only the schema is shared: two instances' frames self-join without
    an ambiguous-reference error."""
    a = Catalog(spark, SF).table("orders")
    b = Catalog(spark, SF).table("orders")
    assert a.join(b, a["o_orderkey"] == b["o_orderkey"]).count() == a.count()


def test_rewritten_file_surfaces_new_column(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert Catalog(spark, str(tmp_path)).table("region").columns == [
        "r_regionkey", "r_name"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"],
                             "r_comment": ["x", "y"]}), path)
    df = Catalog(spark, str(tmp_path)).table("region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]
