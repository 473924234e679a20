"""Table registry over a Parquet data directory.

The reference resolves tables by hand-built directory paths with the date
and run time embedded in the path string
(`scripts/script_api_apify_to_spark.py:116-117,129,204`,
`airflow/dags/apify_dag.py:128-141`), invisible to the optimizer. Here a
Catalog maps logical table names to Parquet locations and registers them
as temp views so both the DataFrame API and ``spark.sql`` see one
namespace; partition columns (``ingest_date``, ``run_ts`` in the medallion
layer) are real columns, so Catalyst partition-prunes instead of the
application globbing paths (`airflow/dags/apify_dag.py:134-146`).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

# The driver-generated star schema + LLM-operator tables (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: path -> (st_size, st_mtime_ns, data schema) of the last inference
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def file_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark reads from the Parquet file at ``path``, inferred
    once per (size, mtime): later reads pass it to ``.schema(...)`` and
    run no inference job. A rewritten file gets a new key, so a changed
    schema surfaces on the next read.

    Testdata parquet stores TIMESTAMP(NANOS), which Spark throws on
    (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
    is on. Callers may hand us any SparkSession (the correctness driver
    uses a vanilla one), so it is set here, before every batch or stream
    read of a fixture file; it is runtime-settable on this build.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    st = os.stat(path)
    hit = _SCHEMAS.get(path)
    if hit is None or hit[:2] != (st.st_size, st.st_mtime_ns):
        hit = (st.st_size, st.st_mtime_ns, spark.read.parquet(path).schema)
        _SCHEMAS[path] = hit
    return hit[2]


# Timestamp columns whose parquet physical type varies by fixture
# generator version: TIMESTAMP(NANOS) reads as int64 under nanosAsLong;
# TIMESTAMP(MICROS) with isAdjustedToUTC=false reads as TIMESTAMP_NTZ.
# The engine's contract type is TIMESTAMP (session-local, UTC sessions)
# at microsecond precision, so time functions (unix_micros, date_format)
# resolve; both variants are normalized to it by contract_ts.
_VARIANT_TS_COLS = {"events": ("ts",)}


def contract_ts(df: DataFrame, name: str) -> DataFrame:
    """Normalize table ``name``'s variant timestamp columns of a batch or
    streaming scan to the engine's TIMESTAMP contract."""
    dtypes = dict(df.dtypes)
    for col in _VARIANT_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes.get(col) == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


class Catalog:
    """Logical-name -> DataFrame resolution over one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self._cache: dict[str, DataFrame] = {}
        self._failed_views: set[str] = set()

    def path(self, name: str) -> str:
        return f"{self.sf_dir}/{name}.parquet"

    def table(self, name: str) -> DataFrame:
        """Lazy Parquet scan with the file's known schema; Catalyst prunes
        columns/filters at the scan. Each Catalog builds its own frames,
        so two instances give distinct attribute ids (self-joins stay
        unambiguous); only the schema is shared."""
        if name not in self._cache:
            path = self.path(name)
            df = self.spark.read.schema(file_schema(self.spark, path)).parquet(path)
            self._cache[name] = contract_ts(df, name)
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Expose tables to ``spark.sql`` as temp views.

        Per-table isolation: one unreadable/corrupt table must never fail a
        query that doesn't touch it, so a failing table stays unregistered
        and any query that DOES need it fails at its own read — but the
        failure is surfaced as a warning (table name + root cause, once),
        not swallowed, so the eventual TABLE_OR_VIEW_NOT_FOUND downstream
        is traceable. Failed names are remembered and not re-read on every
        subsequent ``sql()`` call.
        """
        for name in names:
            if name in self._failed_views:
                continue
            if os.path.exists(self.path(name)):
                try:
                    self.table(name).createOrReplaceTempView(name)
                except Exception as exc:
                    self._cache.pop(name, None)
                    self._failed_views.add(name)
                    warnings.warn(
                        f"Catalog: could not register table {name!r} at "
                        f"{self.path(name)}: {exc!r}; it will be missing "
                        f"from the SQL namespace", stacklevel=2)

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)
