"""The reference's five-process pipeline as ONE Spark application.

Reference architecture (SURVEY §2.10, §3): an Airflow DAG string-templates
one script per account (O1), fans out one ``spark-submit`` JVM per account
(O2), then two more SparkSessions aggregate (entry 3) and index. Per-run
cost is dominated by JVM startup (BASELINE.md: 452 s for 5 accounts of
KB-scale data).

Here the account is DATA, not code: one session, one run —

    run_pipeline(spark, lake, payloads, lookup, ingest_date, run_ts)
        ingest    payload -> records            (S1-S3)
        enrich    gender via broadcast lookup   (F1, zero Python UDFs)
        format    append formatted layer        (K2)
        snapshot  overwrite usage partition     (K3)
        diff      vs previous run_ts partition  (S7 + J1/J2 + U1 + P3)
        aggregate union all accounts + provenance (U2 + P3) in ONE job
        mirrors   optional callables (JDBC/ES)  (K5/K6)

Determinism: ``run_ts`` is an explicit parameter, never ``now()`` (the
reference stamps wall-clock at two different moments, so a slow run can
diff against itself; SURVEY §7 hard part 1).

Scale: accounts run concurrently through a small driver thread pool
(each account is an independent chain of small jobs); the cross-account
aggregate is one flat union of the persisted per-account frames instead
of the reference's O(n)-deep union fold (`airflow/dags/apify_dag.py:148,168`).

Reuse: each account's enriched frame feeds seven consumers (formatted
and usage writes, both diff legs, the aggregate, both global-diff legs).
It is persisted before its first write, so the Arrow ingest and the two
broadcast joins run once per account, and released when the run ends.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.functions.gender import enrich_gender_native
from datalake_project_spark.lake import Lake
from datalake_project_spark.operators.diff import snapshot_diff
from datalake_project_spark.sources.json_ingest import ingest_records

DIFF_KEYS = ["username", "full_name"]
DIFF_COLS = [*DIFF_KEYS, "predicted_gender", "confidence"]


def run_pipeline(spark: SparkSession, lake: Lake,
                 payloads: dict[str, Any],
                 lookup: DataFrame,
                 ingest_date: str, run_ts: str,
                 old_snapshot: DataFrame | None = None,
                 mirrors: list[Callable[[str, DataFrame], None]] | None = None,
                 ) -> dict[str, DataFrame]:
    """One end-to-end run over all accounts. Returns the usage-layer
    outputs keyed by logical table name. They are lineage, not cached
    data: every frame this run persists is released before it returns,
    also when a write fails."""
    held: list[DataFrame] = []  # persisted frames, released in `finally`

    def process_account(account: str, payload: Any) -> DataFrame:
        table = f"apify_instagram_data_{account}"
        # persist, not localCheckpoint: a lost executor recomputes the
        # blocks from lineage instead of failing the run
        enriched = enrich_gender_native(ingest_records(spark, payload),
                                        lookup).persist()
        held.append(enriched)
        lake.write_formatted(enriched, table, ingest_date)
        lake.write_usage(enriched, table, ingest_date, run_ts)

        # per-account diff vs the previous snapshot of the same day (J1+J2)
        prev_ts = lake.latest_run_before(table, ingest_date, run_ts)
        if prev_ts is not None:
            cur = enriched.select(*DIFF_COLS)
            prev = lake.read_usage(table, ingest_date, prev_ts,
                                   schema=cur.schema).select(*DIFF_COLS)
            diff = snapshot_diff(cur, prev, keys=DIFF_KEYS)
            lake.write_usage(diff, f"comparatif_{table}", ingest_date, run_ts)
        return enriched

    try:
        # Accounts are INDEPENDENT chains of small jobs (different tables),
        # and each chain's wall is dominated by per-job fixed cost, so run
        # them through a small driver thread pool (guide §2.6: the
        # scheduler happily overlaps jobs; a later job's tasks back-fill
        # executors the earlier job's tail leaves idle). 2-3 in flight is
        # plenty; Spark's conf/jobDescription are thread-local-safe here
        # and the lake's dynamic overwrite is a per-write option that
        # never touches the session conf (lake.py). Results keep payload
        # order.
        per_account: dict[str, DataFrame] = {}
        if len(payloads) > 1:
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target
            with ThreadPoolExecutor(max_workers=min(3, len(payloads))) as pool:
                futs = {account: pool.submit(
                            inheritable_thread_target(process_account),
                            account, payload)
                        for account, payload in payloads.items()}
                for account in payloads:
                    per_account[account] = futs[account].result()
        else:
            for account, payload in payloads.items():
                per_account[account] = process_account(account, payload)

        # cross-account aggregate: one flat union of every account's frame
        # with account provenance (U2 + P3) — no union fold, no glob in
        # app code.
        agg = None
        for account, df in per_account.items():
            tagged = df.withColumn("username_scraped", F.lit(account))
            agg = tagged if agg is None else agg.unionByName(tagged)
        # (a union rather than a multi-path parquet scan of the usage
        # partitions just written: its legs read the persisted frames)
        assert agg is not None, "no accounts ingested"
        lake.write_usage(agg, "final_aggregated", ingest_date, run_ts)

        out: dict[str, DataFrame] = {"final_aggregated": agg}

        # global diff vs an old full snapshot (reference J3)
        if old_snapshot is not None:
            now_keys = agg.select(*DIFF_KEYS)
            old_keys = old_snapshot.select(*DIFF_KEYS)
            gdiff = snapshot_diff(now_keys, old_keys, keys=DIFF_KEYS,
                                  added_label="added_global",
                                  deleted_label="deleted_global")
            lake.write_usage(gdiff, "final_global_comparatif", ingest_date, run_ts)
            out["final_global_comparatif"] = gdiff

        for mirror in (mirrors or []):
            for name, df in out.items():
                mirror(name, df)
        return out
    finally:
        for df in held:
            df.unpersist()
