"""Medallion lake layout: raw / formatted / usage layers with REAL
partition columns.

The reference encodes time in directory paths built by hand
(`scripts/script_api_apify_to_spark.py:116-117,129,204`;
`airflow/dags/apify_dag.py:128-141`) and resolves "the previous snapshot"
by ``os.listdir`` + lexicographic sort
(`scripts/script_api_apify_to_spark.py:214-236`). Here ``ingest_date``
and ``run_ts`` are partition COLUMNS written with ``partitionBy``: the
optimizer partition-prunes (including dynamically, from a join), and
snapshot resolution lists the ``run_ts`` partitions of one
``ingest_date`` (no Spark job).

Write semantics match the reference:
- formatted: append per ``ingest_date`` (K2);
- usage: overwrite per (``ingest_date``, ``run_ts``) — each write passes
  ``partitionOverwriteMode=dynamic`` as a writer option, so a re-run
  replaces only its own partition whatever the session's conf says
  (re-runs are idempotent WITHOUT the whole-table truncation a naive
  overwrite would do at 100 TB, K3) and the session conf is never
  touched, from any thread or ``foreachBatch`` session clone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


class Lake:
    """One medallion data lake rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- paths -------------------------------------------------------------
    def formatted_path(self, table: str) -> str:
        return f"{self.root}/formatted/{table}"

    def usage_path(self, table: str) -> str:
        return f"{self.root}/usage/{table}"

    # -- writers -----------------------------------------------------------
    def write_formatted(self, df: DataFrame, table: str, ingest_date: str) -> None:
        """Append-mode formatted layer, partitioned by ingest_date (K2)."""
        (df.withColumn("ingest_date", F.lit(ingest_date))
         .write.mode("append").partitionBy("ingest_date")
         .parquet(self.formatted_path(table)))

    def write_usage(self, df: DataFrame, table: str, ingest_date: str,
                    run_ts: str) -> None:
        """Usage layer snapshot, dynamic-overwrite of exactly the
        (ingest_date, run_ts) partition (K3)."""
        (df.withColumn("ingest_date", F.lit(ingest_date))
         .withColumn("run_ts", F.lit(run_ts))
         .write.mode("overwrite").partitionBy("ingest_date", "run_ts")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(self.usage_path(table)))

    # -- readers -----------------------------------------------------------
    def read_usage(self, table: str, ingest_date: str | None = None,
                   run_ts: str | None = None,
                   schema: StructType | None = None) -> DataFrame:
        """Partition-pruned usage scan (predicates on partition columns
        never touch data files). ``schema`` names the data columns to
        read and their types, which skips the schema-inference job; the
        partition columns are appended from the directory layout."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(self.usage_path(table))
        if ingest_date is not None:
            df = df.where(F.col("ingest_date") == ingest_date)
        if run_ts is not None:
            df = df.where(F.col("run_ts") == run_ts)
        return df

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.usage_path(table))

    def upsert(self, updates: DataFrame, table: str, ingest_date: str,
               run_ts: str, keys: list[str],
               delete_col: str | None = None) -> None:
        """MERGE semantics into one usage partition: rows in ``updates``
        replace same-key rows of the (ingest_date, run_ts) partition;
        new keys are inserted (matched-update + not-matched-insert).
        With ``delete_col`` (a boolean column on ``updates``), true rows
        are tombstones: their keys are removed from the target and NOT
        inserted — the full MERGE triple (WHEN MATCHED [AND cond] THEN
        UPDATE / DELETE, WHEN NOT MATCHED THEN INSERT).

        Parquet has no row-level MERGE, so this is the partition-rewrite
        formulation: target ANTI-JOIN touched-keys (keep unmatched rows)
        UNION non-tombstone updates, then dynamic-overwrite of exactly
        this partition. At cluster scale the anti-join gets the
        Bloom-filter pushdown, and only partitions named in the write are
        replaced; on Delta/Iceberg the same call maps 1:1 onto MERGE INTO.
        """
        ups = updates
        touched = updates.select(*keys)
        if delete_col is not None:
            # NULL in the tombstone column means "not a delete"
            ups = (updates
                   .where(~F.coalesce(F.col(delete_col), F.lit(False)))
                   .drop(delete_col))
        if not self.exists(table):
            self.write_usage(ups, table, ingest_date, run_ts)
            return
        target = (self.read_usage(table, ingest_date, run_ts)
                  .drop("ingest_date", "run_ts"))
        keep = target.join(touched, keys, "left_anti")
        merged = keep.unionByName(ups).localCheckpoint(eager=True)
        if not merged.take(1):
            # A merge that tombstones EVERY surviving row produces an
            # empty frame, and a dynamic partition overwrite with zero
            # rows names no partitions — it replaces nothing, silently
            # resurrecting the old data (hypothesis-found: base={k},
            # updates=one tombstone for k). Overwrite the partition
            # DIRECTORY with the empty-but-schema'd frame instead:
            # readers see zero rows for this partition and the file
            # schema matches the partitionBy layout (partition columns
            # are directory-encoded, never in the files).
            # CONSTRAINT: this hand-built leaf path skips Spark's
            # partition-value escaping (ExternalCatalogUtils
            # escapePathName), so ingest_date/run_ts must be path-safe
            # tokens — the lake writes them as fixed-width yyyy-MM-dd /
            # HHmm strings, which never contain escaped characters.
            part_dir = (f"{self.usage_path(table)}/"
                        f"ingest_date={ingest_date}/run_ts={run_ts}")
            merged.write.mode("overwrite").parquet(part_dir)
            return
        self.write_usage(merged, table, ingest_date, run_ts)

    def write_audit_publish(self, df: DataFrame, table: str, ingest_date: str,
                            run_ts: str, audit, staging_run: str = "staging") -> int:
        """Write-audit-publish (the Iceberg WAP pattern on the Parquet
        lake): land ``df`` in a staging ``run_ts`` partition, run
        ``audit`` (a callable DataFrame -> violation count) over the
        staged READ-BACK — so the audit sees exactly what a consumer
        would — and promote to the published ``run_ts`` only when the
        count is zero. Returns the violation count; on failure the
        staged partition is retained for inspection and the published
        partition is untouched. Both writes are dynamic partition
        overwrites, so re-runs are idempotent and a re-publish replaces
        only its own partition.

        The reference publishes unconditionally (usage overwrite at
        `scripts/script_api_apify_to_spark.py:200-209`, enrichment
        errors swallowed at `:227-232`); this is the gated promotion a
        production medallion runs instead.
        """
        self.write_usage(df, table, ingest_date, staging_run)
        staged = self.read_usage(table, ingest_date, staging_run)
        violations = int(audit(staged))
        if violations == 0:
            self.write_usage(staged.drop("ingest_date", "run_ts"),
                             table, ingest_date, run_ts)
        return violations

    # -- maintenance -------------------------------------------------------
    def compact(self, table: str, ingest_date: str, run_ts: str,
                target_files: int = 1) -> int:
        """Rewrite one usage partition into ``target_files`` files.

        Streaming sinks and frequent small appends accumulate small files;
        at scale the file count (not byte count) becomes the scan- and
        listing-cost driver. Dynamic partition overwrite replaces exactly
        this (ingest_date, run_ts) partition, so compaction is idempotent
        and safe to run concurrently with readers of other partitions.
        Returns the file count before compaction.
        """
        part = self.read_usage(table, ingest_date, run_ts)
        before = (part.select(F.input_file_name().alias("f"))
                  .distinct().count())
        if before > target_files:
            # break the lineage to the files being replaced (Spark refuses
            # to overwrite a path it is still reading); at cluster scale a
            # write-to-staging + partition swap does the same job without
            # holding the partition in executor storage.
            staged = part.drop("ingest_date", "run_ts").localCheckpoint(eager=True)
            (staged
             .repartition(target_files)
             .withColumn("ingest_date", F.lit(ingest_date))
             .withColumn("run_ts", F.lit(run_ts))
             .write.mode("overwrite").partitionBy("ingest_date", "run_ts")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(self.usage_path(table)))
        return before

    def latest_run_before(self, table: str, ingest_date: str,
                          run_ts: str) -> str | None:
        """Previous-snapshot resolution (reference S7): the largest
        run_ts of ``ingest_date`` strictly below ``run_ts``, taken from
        :meth:`list_runs` — a partition listing, no Spark job, as the
        reference's ``os.listdir`` + sort
        (`scripts/script_api_apify_to_spark.py:214-236`). ``run_ts``
        values compare as strings as their directory names spell them, so
        they must be fixed-width, path-safe tokens (as ``upsert`` needs).

        Every listed run partition counts, including one that ``upsert``
        emptied by tombstoning all its rows: an empty snapshot is still
        the previous snapshot (a diff against it reports every current
        row as added).
        """
        earlier = [ts for ts in self.list_runs(table, ingest_date)
                   if ts < run_ts]
        return earlier[-1] if earlier else None

    def rollback(self, table: str, ingest_date: str, to_run: str,
                 new_run: str) -> None:
        """Time-travel rollback (Delta RESTORE semantics on the run_ts
        series): republish snapshot ``to_run`` as ``new_run`` — the
        newest run — so latest-snapshot readers resolve to the restored
        state WITHOUT rewriting history (every prior run stays
        readable; retention expires them on its own schedule). One
        partition copy-on-write, idempotent via dynamic overwrite."""
        snap = (self.read_usage(table, ingest_date, to_run)
                .drop("ingest_date", "run_ts"))
        self.write_usage(snap, table, ingest_date, new_run)

    def list_runs(self, table: str, ingest_date: str) -> list[str]:
        """run_ts values present for one ingest_date, ascending — read
        from the partition directory names (listing-scale, no data
        touched; the Spark-side equivalent is a partition-column
        DISTINCT, which also never reads row groups)."""
        date_dir = os.path.join(self.usage_path(table),
                                f"ingest_date={ingest_date}")
        if not os.path.isdir(date_dir):
            return []
        return sorted(d.split("=", 1)[1] for d in os.listdir(date_dir)
                      if d.startswith("run_ts="))

    def expire_runs(self, table: str, ingest_date: str,
                    keep_last: int = 1) -> list[str]:
        """Retention: drop all but the newest ``keep_last`` run_ts
        partitions of one ingest_date; returns the expired run_ts list.

        The reference keeps every HHMM run directory forever
        (`scripts/script_api_apify_to_spark.py:200-209` writes, nothing
        deletes); a real usage layer needs a retention policy or the
        snapshot series grows without bound. Partition-directory
        removal is the Parquet-lake realization of DELETE WHERE on a
        partition column: metadata-only, no row rewrite. On a cluster
        store this is a recursive delete per partition path (same
        semantics, different fs client).
        """
        import shutil

        runs = self.list_runs(table, ingest_date)
        expired = runs[:-keep_last] if keep_last > 0 else runs
        date_dir = os.path.join(self.usage_path(table),
                                f"ingest_date={ingest_date}")
        for ts in expired:
            shutil.rmtree(os.path.join(date_dir, f"run_ts={ts}"))
        return expired
