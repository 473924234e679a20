"""Streaming sinks into the medallion lake.

The reference's pipeline IS a hand-rolled micro-batch loop: every hour a
new snapshot directory appears and the next run diffs it against the
previous one (`scripts/script_api_apify_to_spark.py:200-258`,
`airflow/dags/apify_dag.py:45`). Here the same contract runs as a real
Structured Streaming sink: ``foreachBatch`` lands each micro-batch as its
own ``run_ts`` partition of the usage layer, and the existing batch
operators (``snapshot_diff``, ``latest_run_before``) work unchanged over
the partitions a stream produced.

Exactly-once: the partition key is the deterministic ``batch_id`` (not
wall-clock), and the lake writer is a dynamic partition overwrite — a
replayed batch rewrites ITS OWN partition and nothing else, so failure/
restart never duplicates rows. State lives in the checkpoint dir; at
scale this is the standard "streaming upsert into a partitioned table"
pattern (with Delta/Iceberg swap the writer for MERGE, same shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from datalake_project_spark.lake import Lake


def run_ts_of_batch(batch_id: int) -> str:
    """Deterministic, lexicographically ordered run_ts for a micro-batch."""
    return f"b{batch_id:09d}"


def stream_to_lake(stream_df: DataFrame, lake: Lake, table: str,
                   ingest_date: str, checkpoint_dir: str):
    """Drain a stream into the usage layer (``availableNow``), one
    ``run_ts`` partition per micro-batch. Returns the started
    StreamingQuery (caller awaits)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        lake.write_usage(batch_df, table, ingest_date, run_ts_of_batch(batch_id))

    return (stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_upsert_to_lake(stream_df: DataFrame, lake: Lake, table: str,
                          ingest_date: str, run_ts: str, keys: list[str],
                          checkpoint_dir: str, transform=None,
                          delete_col: str | None = None):
    """CDC MERGE sink: every micro-batch upserts into ONE state partition
    (last-writer-wins per key) instead of landing as its own ``run_ts``
    partition — the streaming materialized-upsert pattern (Delta's
    ``foreachBatch`` + MERGE INTO, here via the Parquet partition-rewrite
    ``Lake.upsert``), drained with ``availableNow``. ``transform``
    (optional) reduces each raw batch to its per-key change rows first
    (e.g. latest-event-per-key), so the upsert payload is key-sized,
    not batch-sized. Replayed batches
    re-apply the same per-key rows, which the replace-on-match semantics
    make idempotent. Returns the started StreamingQuery (caller awaits).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        lake.upsert(batch_df, table, ingest_date, run_ts, keys,
                    delete_col=delete_col)

    return (stream_df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
