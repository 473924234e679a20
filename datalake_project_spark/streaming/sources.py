"""Streaming sources.

File-based Structured Streaming source over the ``events`` table. A
FileStreamSource monitors a DIRECTORY and picks up files as they land —
exactly the shape of the reference's raw layer, where each hourly run
drops a new file under the table directory
(`scripts/script_api_apify_to_spark.py:125-137`). A single-file fixture
table is monitored through a directory holding one symlink to it, built
once per fixture file in scratch; in production the table path IS the
monitored directory and new snapshot files become new micro-batches.

Streaming file sources need a declared schema. It is the batch
Catalog's: ``catalog.file_schema`` infers it once per (size, mtime) of
the file, so building a stream runs no job, and ``catalog.contract_ts``
normalizes ``ts`` to the same microsecond-timestamp contract as a batch
read (`datalake_project_spark/catalog.py`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from datalake_project_spark.catalog import contract_ts, file_schema
from datalake_project_spark.scratch import build_once


def events_stream(spark: SparkSession, sf_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming scan of the events table with the engine's contract
    schema (``ts`` as microsecond timestamp). ``max_files_per_trigger``
    throttles micro-batch size for live deployments."""
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    reader = spark.readStream.schema(file_schema(spark, path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    monitored = path
    if os.path.isfile(path):
        def link(tmp: str) -> None:
            os.makedirs(tmp)
            os.symlink(os.path.abspath(path),
                       os.path.join(tmp, os.path.basename(path)))
        monitored = build_once("stream_events", sf_dir, [path], link)
    return contract_ts(reader.parquet(monitored), "events")
