"""Command-line entrypoint — the engine's spark-submit surface.

The reference is driven by generated per-account scripts run through
``spark-submit`` (`airflow/dags/apify_dag.py:52-91`); this CLI is the
single-application replacement: every registered query (the declared
capability surface) and the free-form SQL entrypoint are reachable by
name from a shell, so a user of the reference can run any query this
engine supports without writing a driver program.

    python -m datalake_project_spark list [--grep SUBSTR]
    python -m datalake_project_spark run QUERY [--sf-dir D] [--limit N]
                                             [--explain] [--json]
    python -m datalake_project_spark sql "SELECT ..." [--sf-dir D]
                                             [--limit N] [--json]
    python -m datalake_project_spark sdp [--module M[:factory]]
                                             [--sf-dir D] [--storage DIR]
    python -m datalake_project_spark receipt QUERY [QUERY ...]
                                             [--sf-dir D] [--trials N]

Output goes to stdout (``--json`` = one JSON object per row, the
machine-readable mode); plans come from ``explain(formatted)``. The
session is the engine's tuned factory (AQE, dynamic partition
overwrite, UTC) — the same configuration every test and bench runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from datalake_project_spark.session import get_spark

    return get_spark(app)


def cmd_list(args) -> int:
    from datalake_project_spark.queries import load_all

    for name, spec in load_all().items():
        if args.grep and args.grep not in name:
            continue
        kind = "oracle" if spec.oracle else "rows-only"
        first = (spec.doc or "").split(". ")[0][:100]
        print(f"{name:42s} [{kind}] {first}")
    return 0


def _emit(df, limit: int, as_json: bool) -> None:
    if as_json:
        for row in df.limit(limit).collect():
            print(json.dumps(row.asDict(), default=str))
    else:
        df.show(limit, truncate=False)


def cmd_run(args) -> int:
    from datalake_project_spark.queries import load_all

    registry = load_all()
    if args.query not in registry:
        print(f"unknown query {args.query!r}; see "
              f"`python -m datalake_project_spark list`", file=sys.stderr)
        return 2
    df = registry[args.query].fn(_spark(f"cli:{args.query}"), args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    _emit(df, args.limit, args.json)
    return 0


def cmd_sql(args) -> int:
    from datalake_project_spark.catalog import Catalog

    cat = Catalog(_spark("cli:sql"), args.sf_dir)
    _emit(cat.sql(args.statement), args.limit, args.json)
    return 0


def cmd_schedule(args) -> int:
    from datalake_project_spark.scheduler import scheduled_run

    return scheduled_run(args.query, args.sf_dir, run_ts=args.run_ts,
                         retries=args.retries,
                         retry_delay=args.retry_delay, force=args.force,
                         tick_seconds=args.tick_seconds)


def cmd_sdp(args) -> int:
    """Run an SDP dataflow (default: the reference-shaped pipeline in
    plans.sdp_reference) with the local interpreter."""
    import importlib

    from datalake_project_spark.plans.sdp_local import (
        build_graph, run_pipeline,
    )

    spark = _spark("sdp")
    mod_name, _, fn_name = args.module.partition(":")
    mod = importlib.import_module(mod_name)
    factory = getattr(mod, fn_name or "definitions")
    registry = build_graph(factory(spark, args.sf_dir))
    results = run_pipeline(spark, registry, args.storage)
    for target in sorted(results):
        df = results[target]
        print(f"== {target} ({df.count()} rows) ==")
        _emit(df, args.limit, args.json)
    return 0


def cmd_receipt(args) -> int:
    """Run queries in a session of their own and print one receipt
    (see :mod:`datalake_project_spark.receipt`) per (query, trial)."""
    from datalake_project_spark.queries import load_all
    from datalake_project_spark.receipt import record

    unknown = [q for q in args.queries if q not in load_all()]
    if unknown:
        print(f"unknown queries {unknown}; see "
              f"`python -m datalake_project_spark list`", file=sys.stderr)
        return 2
    for receipt in record(args.queries, args.sf_dir, args.trials):
        print(json.dumps(receipt))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datalake_project_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pl = sub.add_parser("list", help="list registered queries")
    pl.add_argument("--grep", help="substring filter")
    pl.set_defaults(fn=cmd_list)

    pr = sub.add_parser("run", help="run a registered query by name")
    pr.add_argument("query")
    pr.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pr.add_argument("--limit", type=int, default=20)
    pr.add_argument("--explain", action="store_true",
                    help="print the physical plan instead of rows")
    pr.add_argument("--json", action="store_true",
                    help="one JSON object per row on stdout")
    pr.set_defaults(fn=cmd_run)

    ps = sub.add_parser("sql", help="run SQL over the fixture tables")
    ps.add_argument("statement")
    ps.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ps.add_argument("--limit", type=int, default=20)
    ps.add_argument("--json", action="store_true")
    ps.set_defaults(fn=cmd_sql)

    pc = sub.add_parser(
        "schedule",
        help="cron-able run of a registered query with the reference "
             "DAG's retry policy and an explicit logical run_ts")
    pc.add_argument("query")
    pc.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pc.add_argument("--run-ts", default=None,
                    help="logical timestamp (default: wall clock UTC "
                         "truncated to the schedule tick, so late "
                         "re-deliveries of one tick dedup); set "
                         "explicitly for backfills")
    pc.add_argument("--tick-seconds", type=int, default=3600,
                    help="schedule period used to derive the default "
                         "run_ts (hourly, matching the reference DAG)")
    pc.add_argument("--retries", type=int, default=2)
    pc.add_argument("--retry-delay", type=float, default=30.0)
    pc.add_argument("--force", action="store_true",
                    help="rerun even if this (query, run_ts) already "
                         "succeeded")
    pc.set_defaults(fn=cmd_schedule)

    pd = sub.add_parser(
        "sdp",
        help="run a Spark Declarative Pipelines dataflow with the "
             "local interpreter (no Spark Connect needed)")
    pd.add_argument(
        "--module",
        default="datalake_project_spark.plans.sdp_reference:definitions",
        help="module[:factory] returning SDP definitions; the factory "
             "is called as factory(spark, sf_dir)")
    pd.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pd.add_argument("--storage", default=".scratch/sdp",
                    help="materialized-view storage root")
    pd.add_argument("--limit", type=int, default=20)
    pd.add_argument("--json", action="store_true")
    pd.set_defaults(fn=cmd_sdp)

    pt = sub.add_parser(
        "receipt",
        help="per-(query, trial) receipt from the event log: phase "
             "split, stages, spill nodes, micro-batches, steal%%")
    pt.add_argument("queries", nargs="+")
    pt.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pt.add_argument("--trials", type=int, default=1)
    pt.set_defaults(fn=cmd_receipt)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
