"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle over the same
Parquet, compares row count, sorted column names, and order-insensitive
values. Reports per-query PASS/FAIL with diagnostics (first differing
rows, max float deltas) so oracle/engine divergence is debuggable before
the driver sees it.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datalake_project_spark.catalog import TABLES  # noqa: E402
from datalake_project_spark.queries import load_all  # noqa: E402
from datalake_project_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style value normalization: fixed decimal repr
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple("" if x is None else x for x in t))
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datalake_project_spark.scratch import prune_stale
    prune_stale()  # dead pytest-tmp cache keys never accumulate

    registry = load_all()
    spark = get_spark("correctness-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    n_pass = n_fail = n_rows_only = 0
    for name, spec in registry.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            ores = con.sql(spec.oracle)
            orows = ores.fetchall()
            ocols = [d[0] for d in ores.description]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue

        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            cs, co = canon(srows, scols), canon(orows, ocols)
            if cs != co:
                diffs = [(a, b) for a, b in zip(cs, co) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
