"""Snapshot-diff / CDC queries — the reference's core capability.

The reference's flagship computation (`scripts/script_api_apify_to_spark.py:238-248`,
`airflow/dags/apify_dag.py:198-211`) is a labeled set-difference between two
snapshots of the same logical table. Here the star schema stands in:
"the set of customers active in year Y" is a snapshot series keyed by year.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.operators.diff import snapshot_diff
from datalake_project_spark.queries import local_df, register


def _in_year(year: int):
    """Predicate: ``o_orderdate`` falls in calendar ``year``."""
    return ((F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp")))


def _order_snapshot(o: DataFrame, year: int) -> DataFrame:
    """(o_orderkey, o_totalprice) of ``year``'s orders: the table the lake
    round-trip queries write as one snapshot."""
    return o.where(_in_year(year)).select("o_orderkey", "o_totalprice")


def _customer_rollup(o: DataFrame, year: int) -> DataFrame:
    """(custkey, order_count, total_price) of ``year``'s orders."""
    return (o.where(_in_year(year))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count("*").alias("order_count"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def _price_rollup(o: DataFrame, year: int) -> DataFrame:
    """(custkey, total_price) of ``year``'s orders, price rounded at 2 dp."""
    return (o.where(_in_year(year))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def _customer_years(o: DataFrame) -> DataFrame:
    """(yr, custkey): each year before 1999 a customer placed an order
    in, the snapshot series the SCD queries diff and interval."""
    return (o.where(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
            .select(F.year("o_orderdate").alias("yr"),
                    F.col("o_custkey").alias("custkey"))
            .distinct())


def _tenure_intervals(snaps: DataFrame) -> DataFrame:
    """(custkey, island, valid_from, valid_to): each run of consecutive
    years in ``snaps`` (yr, custkey), by gaps-and-islands (start flag ->
    running island id -> min/max per island) on ONE key shuffle."""
    w = Window.partitionBy("custkey").orderBy("yr")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = snaps.withColumn(
        "is_start",
        F.when(F.lag("yr").over(w).isNull()
               | (F.lag("yr").over(w) != F.col("yr") - 1), 1).otherwise(0))
    islands = flagged.withColumn("island", F.sum("is_start").over(cum))
    return (islands.groupBy("custkey", "island")
            .agg(F.min("yr").alias("valid_from"),
                 F.max("yr").alias("valid_to")))


def _active_custkeys(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.where(_in_year(year)).select(F.col("o_custkey").alias("custkey")).distinct()


@register(
    "q_snapshot_diff",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT custkey, 'added' AS change FROM y96
    WHERE NOT EXISTS (SELECT 1 FROM y95 WHERE y95.custkey = y96.custkey)
    UNION ALL
    SELECT custkey, 'deleted' AS change FROM y95
    WHERE NOT EXISTS (SELECT 1 FROM y96 WHERE y96.custkey = y95.custkey)
    """,
    doc="FLAGSHIP: labeled snapshot diff (added/deleted) via two left-anti "
        "joins + union — reference J1+J2+U1+P3 "
        "(scripts/script_api_apify_to_spark.py:238-248). At scale the "
        "runtime Bloom filter prunes the probe-side scan.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    prev = _active_custkeys(spark, sf_dir, 1995)
    cur = _active_custkeys(spark, sf_dir, 1996)
    return snapshot_diff(cur, prev, keys=["custkey"])


@register(
    "q_snapshot_diff_global",
    oracle="""
    WITH now AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
         old AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                 WHERE o_orderdate < TIMESTAMP '1996-01-01')
    SELECT custkey, 'added_global' AS change FROM now
    WHERE NOT EXISTS (SELECT 1 FROM old WHERE old.custkey = now.custkey)
    UNION ALL
    SELECT custkey, 'deleted_global' AS change FROM old
    WHERE NOT EXISTS (SELECT 1 FROM now WHERE now.custkey = old.custkey)
    """,
    doc="Global diff vs an old snapshot with *_global labels — reference J3 "
        "(airflow/dags/apify_dag.py:198-211).",
)
def q_snapshot_diff_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    now = (o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
           .select(F.col("o_custkey").alias("custkey")).distinct())
    old = (o.where(F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
           .select(F.col("o_custkey").alias("custkey")).distinct())
    return snapshot_diff(now, old, keys=["custkey"],
                         added_label="added_global", deleted_label="deleted_global")


@register(
    "q_latest_snapshot",
    oracle="""
    SELECT user_id, event_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rk
          FROM events) t
    WHERE rk = 1
    """,
    doc="Latest-snapshot resolution: max(run_ts) per key over a snapshot "
        "series — reference S7 (scripts/script_api_apify_to_spark.py:214-236) "
        "as a window over a partition column instead of os.listdir.",
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
                "event_type")
    )


@register(
    "q_write_roundtrip",
    oracle="""
    SELECT o_custkey AS custkey,
           COUNT(*) AS order_count,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           '1995-06-01' AS ingest_date,
           '19950601T000000' AS run_ts
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY o_custkey
    """,
    doc="Medallion WRITE path made oracle-checkable (reference K2/K3, "
        "scripts/script_api_apify_to_spark.py:194-209): aggregate orders, "
        "write a usage snapshot partition via dynamic partition overwrite, "
        "read it BACK with a partition-pruned scan, and return the re-read "
        "rows. The oracle computes the same aggregate directly, so a pass "
        "proves write->scan round-trip fidelity (schema, values, partition "
        "columns), not just the read path. Idempotent: a re-run dynamically "
        "overwrites exactly its own (ingest_date, run_ts) partition.",
)
def q_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake

    o = Catalog(spark, sf_dir).table("orders")
    snap = _customer_rollup(o, 1995)
    from datalake_project_spark.scratch import scratch_dir

    lake = Lake(spark, scratch_dir("roundtrip", sf_dir))
    lake.write_usage(snap, "cust_orders", "1995-06-01", "19950601T000000")
    return (
        lake.read_usage("cust_orders", "1995-06-01", "19950601T000000")
        .select("custkey", "order_count", "total_price",
                F.col("ingest_date").cast("string").alias("ingest_date"),
                F.col("run_ts").cast("string").alias("run_ts"))
    )


@register(
    "q_compact_roundtrip",
    oracle="""
    SELECT 4 AS files_before, 1 AS files_after,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    doc="Small-file compaction as a checkable round-trip: write one "
        "usage partition as 4 files, Lake.compact it to 1 (dynamic "
        "partition overwrite of exactly that partition), and prove "
        "(a) the file counts before/after and (b) that no row or value "
        "was lost — the oracle recomputes count+sum from the source. At "
        "scale file count, not byte count, drives scan/listing cost; "
        "this is the maintenance op streaming sinks need.",
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake

    o = Catalog(spark, sf_dir).table("orders")
    snap = _order_snapshot(o, 1997).repartition(4)
    from datalake_project_spark.scratch import scratch_dir

    lake = Lake(spark, scratch_dir("compact", sf_dir))
    lake.write_usage(snap, "orders97", "1997-01-01", "19970101T000000")
    before = lake.compact("orders97", "1997-01-01", "19970101T000000",
                          target_files=1)
    part = lake.read_usage("orders97", "1997-01-01", "19970101T000000")
    after = (part.select(F.input_file_name().alias("f")).distinct().count())
    agg = part.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.round(F.sum("o_totalprice"), 2).alias("total_price")).first()
    return local_df(spark, 
        [(before, after, agg["n_rows"], float(agg["total_price"]))],
        "files_before int, files_after int, n_rows long, total_price double")


@register(
    "q_snapshot_series_diff",
    oracle="""
    WITH snaps AS (
        SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               o_custkey AS custkey
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    ts AS (SELECT DISTINCT yr FROM snaps),
    bounds AS (SELECT MIN(yr) AS first_yr, MAX(yr) AS last_yr FROM ts),
    ordered AS (
        SELECT custkey, yr,
               LAG(yr)  OVER (PARTITION BY custkey ORDER BY yr) AS lag_yr,
               LEAD(yr) OVER (PARTITION BY custkey ORDER BY yr) AS lead_yr
        FROM snaps)
    SELECT custkey, yr AS snapshot_ts, 'added' AS change
    FROM ordered, bounds
    WHERE yr <> first_yr AND (lag_yr IS NULL OR lag_yr <> yr - 1)
    UNION ALL
    SELECT custkey, yr + 1 AS snapshot_ts, 'deleted' AS change
    FROM ordered, bounds
    WHERE yr <> last_yr AND (lead_yr IS NULL OR lead_yr <> yr + 1)
    """,
    doc="Windowed N-snapshot diff: ONE shuffle diffs every consecutive "
        "snapshot pair of a series (SURVEY §2.7's lag formulation) — the "
        "scale-path alternative to N anti-join diffs.",
)
def q_snapshot_series_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.diff import snapshot_diff_windowed
    snaps = _customer_years(Catalog(spark, sf_dir).table("orders"))
    return snapshot_diff_windowed(snaps, keys=["custkey"], ts_col="yr") \
        .select("custkey", "snapshot_ts", "change")


@register(
    "q_snapshot_scd2",
    oracle="""
    WITH snaps AS (
        SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               o_custkey AS custkey
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    last AS (SELECT MAX(yr) AS last_yr FROM snaps),
    flagged AS (
        SELECT custkey, yr,
               CASE WHEN LAG(yr) OVER w IS NULL
                         OR LAG(yr) OVER w <> yr - 1 THEN 1 ELSE 0 END AS is_start
        FROM snaps WINDOW w AS (PARTITION BY custkey ORDER BY yr)),
    islands AS (
        SELECT custkey, yr,
               CAST(SUM(is_start) OVER (PARTITION BY custkey ORDER BY yr
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS island
        FROM flagged)
    SELECT i.custkey, i.island,
           MIN(i.yr) AS valid_from,
           MAX(i.yr) AS valid_to,
           MAX(i.yr) = ANY_VALUE(l.last_yr) AS is_current
    FROM islands i CROSS JOIN last l
    GROUP BY i.custkey, i.island
    """,
    doc="SCD2 validity-interval reconstruction from the snapshot series "
        "(the time-travel dimension build): per key, contiguous presence "
        "runs become [valid_from, valid_to] intervals via gaps-and-"
        "islands (start flag -> running island id -> min/max per "
        "island), with is_current marking intervals open at the latest "
        "snapshot. ONE shuffle on the key serves both windows and the "
        "interval group-by — at 100 TB this replaces N sequential "
        "MERGEs with a single windowed pass over the series.",
)
def q_snapshot_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    snaps = _customer_years(Catalog(spark, sf_dir).table("orders"))
    # latest snapshot year as a broadcast 1-row aggregate — one DAG, no
    # driver-side action during construction
    last = snaps.agg(F.max("yr").alias("last_yr"))
    return (_tenure_intervals(snaps)
            .crossJoin(F.broadcast(last))
            .select("custkey", "island", "valid_from", "valid_to",
                    (F.col("valid_to") == F.col("last_yr")).alias("is_current")))

@register(
    "q_bucketed_join_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Bucketed-table co-located join made oracle-checkable: orders "
        "and lineitem are persisted bucketBy(8, orderkey) + sortBy into "
        "scratch (build-once per fixture, keyed by source size+mtime "
        "like the IVF index), then joined bucket-to-bucket — the "
        "query-time shuffle for the join is ZERO because both sides "
        "expose the same hash output-partitioning (pinned by "
        "tests/test_scale.py). The oracle recomputes the aggregate from "
        "the raw tables, proving the bucketed layout changes no values. "
        "At 100 TB this is THE recurring-join strategy: pay the shuffle "
        "once at write time, amortize it over every join after.",
)
def q_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from datalake_project_spark.operators.scale import bucketed, write_bucketed
    from datalake_project_spark.scratch import scratch_dir

    root = scratch_dir("buckets", sf_dir)
    o_src = f"{sf_dir.rstrip('/')}/orders.parquet"
    li_src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    # size+mtime key, same discipline as similarity._ivf_index_for: a
    # regenerated fixture landing in the same integer second still
    # changes st_size and forces a rebuild.
    key = "_".join(f"{os.stat(p).st_size}_{int(os.stat(p).st_mtime)}"
                   for p in (o_src, li_src))
    ot, lt = f"orders_bk_{key}", f"lineitem_bk_{key}"
    cat = Catalog(spark, sf_dir)
    for tbl, src, k in ((ot, "orders", "o_orderkey"),
                        (lt, "lineitem", "l_orderkey")):
        if not spark.catalog.tableExists(tbl):
            # a regenerated fixture orphans the previous key — drop stale
            # sibling tables and scratch dirs so neither accumulates
            import shutil
            prefix = tbl.rsplit("_bk_", 1)[0] + "_bk_"
            for t in spark.catalog.listTables():
                if t.name.startswith(prefix) and t.name != tbl:
                    spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            if os.path.isdir(root):
                for stale in os.listdir(root):
                    if stale.startswith(prefix) and stale != tbl:
                        shutil.rmtree(os.path.join(root, stale),
                                      ignore_errors=True)
            write_bucketed(cat.table(src), tbl, k, 8,
                           path=f"{root}/{tbl}")
    return (
        bucketed(spark, lt)
        .join(bucketed(spark, ot),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


@register(
    "q_tuned_shuffle_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Footprint-derived shuffle sizing applied end-to-end: the join's "
        "partition count comes from tuning.width "
        "over the ACTUAL on-disk bytes of both inputs (dir_bytes), "
        "applied per-stage via repartition(n, key) — no session-conf "
        "mutation, so concurrent queries keep their own sizing. At "
        "100 TB this is the arithmetic that keeps shuffle partitions "
        "near 128 MiB (AQE coalesces down but can never split a "
        "too-large non-skewed partition); at fixture scale the core "
        "floor (one wave of core-count tasks) dominates. The oracle "
        "recomputes the "
        "aggregate from the raw tables — sizing changes no values.",
)
def q_tuned_shuffle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import dir_bytes, width

    li_path = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    o_path = f"{sf_dir.rstrip('/')}/orders.parquet"
    n = width(spark, "jvm_shuffle", dir_bytes(li_path) + dir_bytes(o_path))
    cat = Catalog(spark, sf_dir)
    li = cat.table("lineitem").repartition(n, "l_orderkey")
    o = cat.table("orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q_skew_key_diagnostics",
    oracle="""
    WITH c AS (SELECT l_orderkey, COUNT(*) AS n_rows
               FROM lineitem GROUP BY l_orderkey),
    t AS (SELECT COUNT(*) AS total FROM lineitem)
    SELECT l_orderkey, n_rows,
           ROUND(n_rows::DOUBLE / total::DOUBLE, 6) + 0.0 AS share
    FROM c CROSS JOIN t
    ORDER BY n_rows DESC, l_orderkey ASC
    LIMIT 10
    """,
    doc="Join-key skew diagnostics: the 10 heaviest l_orderkey values "
        "with their row share — the number an operator reads before "
        "choosing salting vs AQE skew-split vs broadcast (the decision "
        "inputs for operators/scale.py). One groupBy with map-side "
        "partials, total as a broadcast 1-row aggregate, top-10 via "
        "orderBy+limit -> TakeOrderedAndProject (per-partition top-k "
        "merge, no global sort); deterministic tie-break (count desc, "
        "key asc) keeps the LIMIT oracle-stable.",
)
def q_skew_key_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows"))
    total = li.agg(F.count(F.lit(1)).alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("l_orderkey", "n_rows",
                    (F.round(F.col("n_rows").cast("double")
                             / F.col("total").cast("double"), 6)
                     + F.lit(0.0)).alias("share"))
            .orderBy(F.desc("n_rows"), F.asc("l_orderkey"))
            .limit(10))


@register(
    "q_temporal_join",
    oracle="""
    WITH snaps AS (
        SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               o_custkey AS custkey
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
    flagged AS (
        SELECT custkey, yr,
               CASE WHEN LAG(yr) OVER w IS NULL
                         OR LAG(yr) OVER w <> yr - 1 THEN 1 ELSE 0 END AS is_start
        FROM snaps WINDOW w AS (PARTITION BY custkey ORDER BY yr)),
    islands AS (
        SELECT custkey, yr,
               CAST(SUM(is_start) OVER (PARTITION BY custkey ORDER BY yr
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS island
        FROM flagged),
    dim AS (
        SELECT custkey, MIN(yr) AS valid_from, MAX(yr) AS valid_to
        FROM islands GROUP BY custkey, island)
    SELECT o.o_orderkey,
           o.o_custkey AS custkey,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
           d.valid_from AS tenure_start,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) - d.valid_from
               AS tenure_years
    FROM orders o
    JOIN dim d
      ON o.o_custkey = d.custkey
     AND CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
         BETWEEN d.valid_from AND d.valid_to
    WHERE o.o_orderdate < TIMESTAMP '1999-01-01'
    """,
    doc="Temporal dimension join — the lookup every fact pipeline runs "
        "against an SCD2 dimension: each order joins the validity "
        "interval COVERING its transaction year (equi-key on custkey + "
        "BETWEEN on the interval), pulling the interval's attribute "
        "(tenure start -> years-of-tenure at order time). Uses the "
        "range_join operator, so Catalyst extracts the custkey equality "
        "into a hash join and evaluates the interval predicate as a "
        "join filter — no nested loop; the dimension is interval-per-"
        "key-run sized and broadcasts at this SF, degrading to a "
        "shuffled hash join on the same plan at 100 TB.",
)
def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.joins import range_join

    o = (Catalog(spark, sf_dir).table("orders")
         .where(F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")))
    snaps = (o.select(F.year("o_orderdate").alias("yr"),
                      F.col("o_custkey").alias("custkey"))
             .distinct())
    dim = _tenure_intervals(snaps).drop("island")
    fact = o.select("o_orderkey", F.col("o_custkey").alias("custkey"),
                    F.year("o_orderdate").alias("yr"))
    joined = range_join(
        fact, dim,
        (fact["yr"] >= dim["valid_from"]) & (fact["yr"] <= dim["valid_to"]),
        on=["custkey"])
    return joined.select(
        "o_orderkey", fact["custkey"].alias("custkey"), "yr",
        F.col("valid_from").alias("tenure_start"),
        (F.col("yr") - F.col("valid_from")).alias("tenure_years"))


@register(
    "q_retention_vacuum",
    oracle="""
    SELECT 3 AS runs_before, 2 AS n_expired, 1 AS runs_after,
           COUNT(*) AS n_rows, TRUE AS kept_latest
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    doc="Snapshot retention as a checkable round-trip: write THREE "
        "run_ts snapshots of one usage date, expire all but the newest "
        "(Lake.expire_runs — partition-directory removal, the "
        "Parquet-lake realization of DELETE WHERE on a partition "
        "column: metadata-only, no row rewrite), then prove via a "
        "partition-pruned re-read that exactly the latest run survives "
        "with every row intact. The reference writes a new HHMM dir "
        "every hour and never deletes "
        "(scripts/script_api_apify_to_spark.py:200-209) — unbounded "
        "growth; this is the missing lifecycle half. Idempotent: each "
        "execution rebuilds the three runs (dynamic partition "
        "overwrite) before expiring.",
)
def q_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")
    snap = _order_snapshot(o, 1997)

    lake = Lake(spark, scratch_dir("retention", sf_dir))
    runs = ["19970101T060000", "19970101T120000", "19970101T180000"]
    for ts in runs:
        lake.write_usage(snap, "orders97", "1997-01-01", ts)
    before = len(lake.list_runs("orders97", "1997-01-01"))
    expired = lake.expire_runs("orders97", "1997-01-01", keep_last=1)
    remaining = lake.list_runs("orders97", "1997-01-01")
    part = lake.read_usage("orders97", "1997-01-01")
    n_rows = part.count()
    kept_latest = remaining == [runs[-1]]
    return local_df(spark, 
        [(before, len(expired), len(remaining), n_rows, kept_latest)],
        "runs_before int, n_expired int, runs_after int, n_rows long, "
        "kept_latest boolean")


@register(
    "q_incremental_agg_refresh",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1
    """,
    doc="Incremental materialized-aggregate refresh (IVM): the stored "
        "per-month rollup of the 'old' partition (orders before 1997) "
        "is MERGED with the rollup of the 'new' delta (1997 onward) by "
        "re-aggregating the two partial-aggregate tables — never "
        "rescanning the base data — and the oracle recomputes the "
        "whole rollup from scratch, proving merge == recompute. "
        "sum/count/min/max are the re-associable core (avg derives as "
        "s/c); this algebra is why a 100 TB rollup refreshes at "
        "delta-partition cost. The property-test twin "
        "(tests/test_properties.py) proves it for arbitrary generated "
        "inputs; this query stamps it on the fixture via the driver "
        "gate.",
)
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_totalprice",
        (F.year("o_orderdate") < 1997).alias("_is_base"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias("c"), F.sum("o_totalprice").alias("s"),
            F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))

    base = partial(o.where(F.col("_is_base")))
    delta = partial(o.where(~F.col("_is_base")))
    return (base.unionByName(delta)
            .groupBy("month")
            .agg(F.sum("c").cast("long").alias("n_orders"),
                 F.round(F.sum("s"), 2).alias("total_price"),
                 F.round(F.min("mn"), 2).alias("min_price"),
                 F.round(F.max("mx"), 2).alias("max_price")))


@register(
    "q_snapshot_asof",
    oracle="""
    SELECT '19970101T120000' AS resolved_run,
           COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    doc="Time-travel read (AS OF): three run_ts snapshots of one usage "
        "date exist; a reader asking for the state as of 15:00 "
        "resolves (via Lake.latest_run_before — the largest run_ts "
        "partition below the cutoff, reference S7's listing semantics, "
        "no Spark job) to the 12:00 run and reads exactly that "
        "partition, partition-pruned. The oracle recomputes the "
        "snapshot content from source and pins the resolved run id — "
        "proving both the resolution rule and the read. Idempotent: "
        "each execution rebuilds the three runs first.",
)
def q_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")
    snap = _order_snapshot(o, 1997)

    lake = Lake(spark, scratch_dir("asof", sf_dir))
    for ts in ("19970101T060000", "19970101T120000", "19970101T180000"):
        lake.write_usage(snap, "orders97", "1997-01-01", ts)
    resolved = lake.latest_run_before("orders97", "1997-01-01",
                                      "19970101T150000")
    part = lake.read_usage("orders97", "1997-01-01", resolved)
    agg = part.agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("o_totalprice"), 2).alias("t")).first()
    return local_df(spark, 
        [(resolved, agg["n"], float(agg["t"]))],
        "resolved_run string, n_rows long, total_price double")


def _merge_batch(spark: SparkSession,
                 sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(base, updates) of the MERGE triple: the 1995 per-customer rollup
    (custkey, order_count, total_price) and the upsert batch, the 1996
    rollup plus an is_deleted tombstone for each customer active in 1995,
    inactive in 1996, with a negative balance."""
    cat = Catalog(spark, sf_dir)
    o = cat.table("orders")
    c = cat.table("customer")

    base, cur = _customer_rollup(o, 1995), _customer_rollup(o, 1996)
    churn = (
        base.select("custkey")
        .join(cur.select("custkey"), "custkey", "left_anti")
        .join(c.where(F.col("c_acctbal") < 0)
               .select(F.col("c_custkey").alias("custkey")),
              "custkey", "left_semi")
        .withColumn("order_count", F.lit(None).cast("long"))
        .withColumn("total_price", F.lit(None).cast("double"))
        .withColumn("is_deleted", F.lit(True))
    )
    updates = cur.withColumn("is_deleted", F.lit(False)).unionByName(churn)
    return base, updates


@register(
    "q_merge_upsert",
    oracle="""
    WITH t95 AS (SELECT o_custkey AS custkey, COUNT(*) AS order_count,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate <  TIMESTAMP '1996-01-01'
                 GROUP BY o_custkey),
         t96 AS (SELECT o_custkey AS custkey, COUNT(*) AS order_count,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'
                 GROUP BY o_custkey),
         churn AS (SELECT t95.custkey FROM t95
                   JOIN customer ON c_custkey = t95.custkey
                   WHERE c_acctbal < 0
                     AND NOT EXISTS (SELECT 1 FROM t96
                                     WHERE t96.custkey = t95.custkey))
    SELECT custkey, order_count, total_price FROM t96
    UNION ALL
    SELECT custkey, order_count, total_price FROM t95
    WHERE NOT EXISTS (SELECT 1 FROM t96 WHERE t96.custkey = t95.custkey)
      AND NOT EXISTS (SELECT 1 FROM churn WHERE churn.custkey = t95.custkey)
    """,
    doc="Full MERGE triple on the Parquet lake, oracle-checked end to "
        "end: a 1995 per-customer order rollup is written as the target "
        "partition, then a changes table carrying 1996 rollups "
        "(matched-UPDATE + not-matched-INSERT) and tombstones for "
        "negative-balance customers who went inactive (matched-DELETE) "
        "is merged via Lake.upsert(delete_col=...) — the copy-on-write "
        "partition-rewrite that maps 1:1 onto Delta/Iceberg MERGE INTO "
        "(BASELINE 'Parquet/Delta'; the reference overwrites whole "
        "snapshots instead, scripts/script_api_apify_to_spark.py:200-209). "
        "The re-read is partition-pruned; the oracle recomputes the "
        "post-merge state from source, so a pass proves all three MERGE "
        "branches plus write->scan fidelity. Idempotent: each run "
        "rewrites the base partition before merging. At scale the "
        "anti-join on touched keys gets the runtime Bloom filter and "
        "only the named partition is rewritten.",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    base, updates = _merge_batch(spark, sf_dir)

    lake = Lake(spark, scratch_dir("merge", sf_dir))
    lake.write_usage(base, "cust_merge", "1995-01-01", "19950101T000000")
    lake.upsert(updates, "cust_merge", "1995-01-01", "19950101T000000",
                keys=["custkey"], delete_col="is_deleted")
    return (lake.read_usage("cust_merge", "1995-01-01", "19950101T000000")
            .select("custkey", "order_count", "total_price"))


@register(
    "q_manifest_merge_upsert",
    oracle="""
    WITH t95 AS (SELECT o_custkey AS custkey, COUNT(*) AS order_count,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate <  TIMESTAMP '1996-01-01'
                 GROUP BY o_custkey),
         t96 AS (SELECT o_custkey AS custkey, COUNT(*) AS order_count,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'
                 GROUP BY o_custkey),
         churn AS (SELECT t95.custkey FROM t95
                   JOIN customer ON c_custkey = t95.custkey
                   WHERE c_acctbal < 0
                     AND NOT EXISTS (SELECT 1 FROM t96
                                     WHERE t96.custkey = t95.custkey))
    SELECT custkey, order_count, total_price FROM t96
    UNION ALL
    SELECT custkey, order_count, total_price FROM t95
    WHERE NOT EXISTS (SELECT 1 FROM t96 WHERE t96.custkey = t95.custkey)
      AND NOT EXISTS (SELECT 1 FROM churn WHERE churn.custkey = t95.custkey)
    """,
    doc="The q_merge_upsert MERGE triple executed through the "
        "MANIFEST-COMMIT backend (ManifestLake — round 5's ACID layer): "
        "identical inputs, identical oracle, but the write path is "
        "stage-immutable-files -> atomic os.link manifest commit with "
        "optimistic-concurrency conflict detection, and the re-read is "
        "a snapshot-isolated manifest-resolved scan instead of a "
        "directory listing. A pass proves the Delta/Iceberg-style "
        "commit protocol preserves MERGE semantics bit-for-bit; the "
        "concurrent-writer properties (atomic visibility, rebase, "
        "serializable re-merge, refcount vacuum) are pinned in "
        "tests/test_manifest_lake.py. At 100 TB the manifest lives on "
        "an object store with put-if-absent (S3 conditional PUT) and "
        "the protocol is unchanged.",
)
def q_manifest_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    base, updates = _merge_batch(spark, sf_dir)

    lake = ManifestLake(spark, scratch_dir("mlake", sf_dir))
    lake.write_usage(base, "cust_merge", "1995-01-01", "19950101T000000")
    lake.upsert(updates, "cust_merge", "1995-01-01", "19950101T000000",
                keys=["custkey"], delete_col="is_deleted")
    return (lake.read_usage("cust_merge", "1995-01-01", "19950101T000000")
            .select("custkey", "order_count", "total_price"))


@register(
    "q_manifest_timetravel",
    oracle="""
    SELECT 'v_base' AS snapshot, COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    UNION ALL
    SELECT 'latest', COUNT(*), ROUND(SUM(o_totalprice), 2)
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    """,
    doc="Version time travel on the manifest-commit lake: the 1995 "
        "order snapshot commits as version V, the same (ingest_date, "
        "run_ts) partition is then REPLACED by the 1996 snapshot at "
        "V+1, and the query reads BOTH — read_usage_at(V) resolves the "
        "superseded manifest (whose immutable files the V+1 commit "
        "never touched) while the latest read sees only V+1. The "
        "oracle recomputes both years from source, so a pass proves "
        "snapshot isolation: a partition overwrite is invisible to a "
        "reader pinned at an older version (Delta VERSION AS OF / "
        "Iceberg snapshot-id reads; the write-time version handles "
        "make the query idempotent across gate re-runs even as the "
        "version chain grows). The bare-Parquet Lake physically "
        "cannot express this — its overwrite deletes the old files.",
)
def q_manifest_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")

    lake = ManifestLake(spark, scratch_dir("mlake", sf_dir))
    v_base = lake.write_usage(_order_snapshot(o, 1995), "orders_tt",
                              "1995-01-01", "19950101T000000")
    lake.write_usage(_order_snapshot(o, 1996), "orders_tt",
                     "1995-01-01", "19950101T000000")

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("snapshot"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"))

    past = lake.read_usage_at("orders_tt", v_base,
                              "1995-01-01", "19950101T000000")
    now = lake.read_usage("orders_tt", "1995-01-01", "19950101T000000")
    return agg(past, "v_base").unionByName(agg(now, "latest"))


@register(
    "q_write_audit_publish",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(0 AS BIGINT) AS n_violations,
           'published' AS status
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    """,
    doc="Write-audit-publish gate (Lake.write_audit_publish, the "
        "Iceberg WAP pattern): a 1996 per-priority rollup lands in a "
        "STAGING run_ts partition, the audit battery (null keys, "
        "duplicate keys, non-empty) runs over the staged READ-BACK, "
        "and only a zero-violation result promotes the partition to "
        "'published' — the reference publishes unconditionally and "
        "swallows enrichment errors "
        "(scripts/script_api_apify_to_spark.py:200-209,227-232). The "
        "returned rows are the PUBLISHED partition re-read with the "
        "audit verdict attached; the oracle recomputes them from "
        "source, so a pass proves stage->audit->promote->scan "
        "fidelity. The refusal path (violations retain staging, never "
        "touch published) is pinned by tests/test_stream_to_lake.py.",
)
def q_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")
    snap = (
        o.where(_in_year(1996))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price"))
    )

    def audit(staged: DataFrame) -> int:
        row = staged.agg(
            (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("nulls"),
            (F.count(F.lit(1))
             - F.countDistinct("o_orderpriority")).alias("dups"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return row["nulls"] + row["dups"] + (0 if row["n"] > 0 else 1)

    lake = Lake(spark, scratch_dir("wap", sf_dir))
    violations = lake.write_audit_publish(
        snap, "priority_rollup", "1996-01-01", "published", audit)
    return (lake.read_usage("priority_rollup", "1996-01-01", "published")
            .select("o_orderpriority", "n_orders", "total_price")
            .withColumn("n_violations", F.lit(violations).cast("long"))
            .withColumn("status", F.lit("published")))


@register(
    "q_snapshot_rollback",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           '19980101T000000' AS restored_from,
           '20000101T000000' AS latest_run,
           4 AS n_runs
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    """,
    doc="Snapshot ROLLBACK (Lake.rollback — Delta RESTORE semantics on "
        "the run_ts series): three yearly snapshots land as ascending "
        "runs, then the middle one is republished as the NEWEST run, so "
        "latest-snapshot resolution (reference S7) returns the restored "
        "state while every prior run stays readable — history is "
        "extended, never rewritten (the reference can only overwrite "
        "in place, scripts/script_api_apify_to_spark.py:200-209). The "
        "result re-reads the resolved latest run partition-pruned and "
        "pins the full run count; the oracle recomputes the restored "
        "year's aggregate from source. Completes the time-travel arc: "
        "AS-OF read (q_snapshot_asof), retention (q_retention_vacuum), "
        "restore (this). Idempotent: every run rewrites its own "
        "partitions dynamically.",
)
def q_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")

    lake = Lake(spark, scratch_dir("rollback", sf_dir))
    runs = {1997: "19970101T000000", 1998: "19980101T000000",
            1999: "19990101T000000"}
    for yr, run in runs.items():
        lake.write_usage(_order_snapshot(o, yr), "orders_snap", "2000-01-01",
                         run)
    lake.rollback("orders_snap", "2000-01-01",
                  to_run=runs[1998], new_run="20000101T000000")

    all_runs = lake.list_runs("orders_snap", "2000-01-01")
    latest = all_runs[-1]
    part = lake.read_usage("orders_snap", "2000-01-01", latest)
    agg = part.agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("o_totalprice"), 2).alias("t")).first()
    return local_df(spark, 
        [(agg["n"], float(agg["t"]), runs[1998], latest, len(all_runs))],
        "n_rows long, total_price double, restored_from string, "
        "latest_run string, n_runs int")


@register(
    "q_incremental_ingest",
    oracle="""
    WITH pre AS (SELECT COUNT(*) AS n FROM events
                 WHERE ts < TIMESTAMP '2024-01-16'),
         post AS (SELECT COUNT(*) AS n FROM events
                  WHERE ts >= TIMESTAMP '2024-01-16'),
         tot AS (SELECT COUNT(*) AS n FROM events)
    SELECT 1 AS pass, (SELECT n FROM pre) AS n_ingested,
           (SELECT n FROM pre) AS n_total_after
    UNION ALL
    SELECT 2, (SELECT n FROM post), (SELECT n FROM tot)
    """,
    doc="Incremental batch ingestion with a PERSISTED high-watermark — "
        "the batch counterpart of the streaming checkpoint: pass 1 "
        "ingests events up to the cut and records max(ts) as the "
        "watermark in a 1-row lake table; pass 2 reads that watermark "
        "back and ingests ONLY rows strictly beyond it (the source "
        "scan's pushed-down predicate — at 100 TB this is the "
        "difference between a daily delta and a full re-scan). The "
        "result reports per-pass ingested counts and the landed total "
        "after each pass; the oracle recomputes them from the split, "
        "so a pass proves no row was ingested twice and none was "
        "missed. State is wiped each run (idempotent); landing uses "
        "append (K2), the watermark table dynamic overwrite (K3).",
)
def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    e = Catalog(spark, sf_dir).table("events")
    lake = Lake(spark, scratch_dir("incr", sf_dir))
    for t in ("events_landed", "watermark"):
        shutil.rmtree(lake.usage_path(t), ignore_errors=True)
    shutil.rmtree(lake.formatted_path("events_landed"), ignore_errors=True)

    cut = F.lit("2024-01-16").cast("timestamp")
    results = []

    def ingest(batch_df: DataFrame, pass_no: int) -> None:
        # watermark read: 1-row partition (absent on the first pass)
        if lake.exists("watermark"):
            wm = lake.read_usage("watermark", "state", "hw").first()["hw_ts"]
            batch_df = batch_df.where(F.col("ts") > wm)
        landed = batch_df.localCheckpoint(eager=True)
        n = landed.count()
        lake.write_formatted(landed, "events_landed", "all")
        new_wm = landed.agg(F.max("ts").alias("hw_ts"))
        if new_wm.first()["hw_ts"] is not None:
            lake.write_usage(new_wm, "watermark", "state", "hw")
        total = (spark.read.parquet(lake.formatted_path("events_landed"))
                 .count())
        results.append((pass_no, n, total))

    ingest(e.where(F.col("ts") < cut), 1)   # initial load up to the cut
    ingest(e, 2)                            # full source; delta via watermark
    return local_df(spark, 
        results, "pass int, n_ingested long, n_total_after long")


@register(
    "q_pipeline_end_to_end",
    oracle="""
    WITH act95 AS (
        SELECT DISTINCT c.c_custkey, c.c_name, c.c_mktsegment
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-01-01'
          AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    act96 AS (
        SELECT DISTINCT c.c_custkey, c.c_name, c.c_mktsegment
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
          AND c.c_mktsegment IN ('BUILDING', 'MACHINERY'))
    SELECT c_mktsegment AS account, 'n_records' AS metric,
           COUNT(*) AS n
    FROM act96 GROUP BY account
    UNION ALL
    SELECT c_mktsegment, 'n_female',
           COUNT(CASE WHEN c_custkey % 3 = 0 THEN 1 END)
    FROM act96 GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'added', COUNT(*)
    FROM act96 a WHERE NOT EXISTS (
        SELECT 1 FROM act95 p WHERE p.c_name = a.c_name)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'deleted', COUNT(*)
    FROM act95 p WHERE NOT EXISTS (
        SELECT 1 FROM act96 a WHERE a.c_name = p.c_name)
    GROUP BY c_mktsegment
    """,
    doc="The reference's ENTIRE dataflow as one oracle-checked query "
        "(SURVEY §3 entry points 1-3, O1-O4 as data not codegen): two "
        "market segments act as the reference's accounts; each run's "
        "payload (the API-response analog: driver-side record lists, "
        "faithfully crossing the same boundary the reference's "
        "requests.get does) flows through ingest (S2/S3) -> gender "
        "enrichment via broadcast lookup (F1; lookup rows for custkey "
        "% 3 == 0 match the full-name token at 0.9, the cleaned "
        "username 'customer' matches mostly_male at 0.4 for everyone "
        "else) -> formatted append (K2) -> usage snapshot (K3) -> "
        "previous-run resolution (S7) -> per-account anti-join diff "
        "(J1/J2) -> cross-account aggregate with provenance (U2/P3). "
        "Run twice (1995-actives then 1996-actives), the output reads "
        "BACK from the lake: per-account record/gender tallies from "
        "final_aggregated and added/deleted counts from the comparatif "
        "tables — the oracle recomputes all four metrics from source. "
        "Idempotent: every partition rewrite is dynamic, formatted is "
        "wiped at start.",
)
def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.lake import Lake
    from datalake_project_spark.pipeline import run_pipeline
    from datalake_project_spark.scratch import scratch_dir

    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    segs = ("BUILDING", "MACHINERY")

    def actives(year: int) -> DataFrame:
        return (c.join(o, o.o_custkey == c.c_custkey)
                .where(_in_year(year) & F.col("c_mktsegment").isin(*segs))
                .select("c_custkey", "c_name", "c_mktsegment").distinct())

    def payloads(year: int) -> dict:
        rows = actives(year).collect()  # the API-response boundary
        return {seg: [{"username": r["c_name"], "full_name": r["c_name"]}
                      for r in rows if r["c_mktsegment"] == seg]
                for seg in segs}

    # lookup: exact full-name tokens for custkey % 3 == 0 (-> female
    # at 0.9) plus the cleaned-username catch-all (-> mostly_male 0.4)
    lookup = (c.where(F.col("c_custkey") % 3 == 0)
              .select(F.col("c_name").alias("first_name"),
                      F.lit("female").alias("gender"))
              .unionByName(local_df(spark, 
                  [("customer", "mostly_male")],
                  "first_name string, gender string")))

    lake = Lake(spark, scratch_dir("pipeline", sf_dir))
    for seg in segs:
        shutil.rmtree(lake.formatted_path(
            f"apify_instagram_data_{seg}"), ignore_errors=True)
    run_pipeline(spark, lake, payloads(1995), lookup, "1996-01-01", "r1")
    run_pipeline(spark, lake, payloads(1996), lookup, "1996-01-01", "r2")

    agg = (lake.read_usage("final_aggregated", "1996-01-01", "r2")
           .groupBy(F.col("username_scraped").alias("account"))
           .agg(F.count(F.lit(1)).alias("n_records"),
                F.count(F.when(F.col("predicted_gender") == "female", 1))
                .alias("n_female")))
    metrics = (agg.selectExpr("account", "'n_records' AS metric",
                              "n_records AS n")
               .unionByName(agg.selectExpr(
                   "account", "'n_female' AS metric", "n_female AS n")))
    for seg in segs:
        diff = lake.read_usage(f"comparatif_apify_instagram_data_{seg}",
                               "1996-01-01", "r2")
        dm = (diff.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
              .select(F.lit(seg).alias("account"),
                      F.col("change").alias("metric"), "n"))
        metrics = metrics.unionByName(dm)
    return metrics


@register(
    "q_replica_repair",
    oracle="""
    WITH a AS (
        SELECT o_custkey AS custkey, COUNT(*) AS order_count,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_custkey)
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(total_price), 2) AS total_price,
           (SELECT COUNT(*) FROM a
            WHERE custkey % 7 = 0
               OR (custkey % 11 = 0 AND custkey % 7 <> 0)) AS n_repaired
    FROM a
    """,
    doc="Anti-entropy replica repair — the diff operator CLOSING the "
        "loop with MERGE: a replica of the 1997 per-customer rollup is "
        "corrupted deterministically (every 7th key missing, every "
        "11th stale by +1.00), the full-outer value-level diff against "
        "the source of truth finds exactly the damaged keys, and "
        "Lake.upsert patches only those rows (copy-on-write of the one "
        "partition). The re-read replica's row count and money total "
        "then equal the truth, which the oracle recomputes from "
        "source, along with the repaired-key count — so a pass proves "
        "detection found ALL damage and repair introduced none. At "
        "100 TB the diff is one keyed join with Bloom-filtered probe "
        "and the patch payload is damage-sized, not table-sized.",
)
def q_replica_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")
    truth = _customer_rollup(o, 1997)

    lake = Lake(spark, scratch_dir("repair", sf_dir))
    # corrupted replica: %7 keys dropped, %11 keys stale (+1.00)
    replica = (truth.where(F.col("custkey") % 7 != 0)
               .withColumn("total_price",
                           F.when(F.col("custkey") % 11 == 0,
                                  F.round(F.col("total_price") + 1.0, 2))
                           .otherwise(F.col("total_price"))))
    lake.write_usage(replica, "replica", "1997-01-01", "r")

    b = (lake.read_usage("replica", "1997-01-01", "r")
         .select(F.col("custkey").alias("b_key"),
                 F.col("order_count").alias("b_cnt"),
                 F.col("total_price").alias("b_price")))
    damaged = (truth.join(b, truth.custkey == b.b_key, "left")
               .where(F.col("b_key").isNull()
                      | ~F.col("order_count").eqNullSafe(F.col("b_cnt"))
                      | ~F.col("total_price").eqNullSafe(F.col("b_price")))
               .select("custkey", "order_count", "total_price"))
    n_repaired = damaged.localCheckpoint(eager=True)
    lake.upsert(n_repaired, "replica", "1997-01-01", "r", keys=["custkey"])

    fixed = lake.read_usage("replica", "1997-01-01", "r")
    agg = fixed.agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("total_price"), 2).alias("t")).first()
    return local_df(spark, 
        [(agg["n"], float(agg["t"]), n_repaired.count())],
        "n_rows long, total_price double, n_repaired long")


@register(
    "q_lake_orphan_audit",
    oracle="""
    SELECT CAST(2 AS BIGINT) AS n_orphan_files,
           (SELECT COUNT(*) FROM region)
           + (SELECT COUNT(*) FROM nation) AS orphan_rows,
           CAST(0 AS BIGINT) AS n_missing_files,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01') AS live_rows
    """,
    doc="Orphan-file audit — the reconciliation a table-maintenance "
        "service runs before any vacuum (Iceberg remove_orphan_files, "
        "Delta VACUUM's listing pass): the filesystem listing of the "
        "table's data directory is diffed against the union of files "
        "referenced by EVERY version manifest (not just the latest — "
        "a file superseded at vN is still readable via time travel at "
        "vN-1, so latest-only reconciliation would delete live "
        "history). The fixture stages the three states the audit must "
        "separate: two committed versions of the same partition "
        "(supersession — old files REFERENCED by v1, not orphans), "
        "two parquet files planted directly into the data dir "
        "bypassing the manifest (failed-task leftovers — the orphans, "
        "carrying region+nation rows so the orphaned ROW count is "
        "source-checkable), and zero referenced-but-missing files "
        "(the corruption arm that must alert rather than vacuum). "
        "live_rows re-reads the latest snapshot through the manifest, "
        "proving planted junk is INVISIBLE to readers — the property "
        "that makes orphan deletion safe at all. Work is "
        "manifest-scale (listing + set difference over file PATHS); "
        "only the orphan row-count reads data, and it reads only the "
        "orphans. Idempotent across gate re-runs AND crash-safe: the "
        "fixture lake is reset to an empty slate up front, so a prior "
        "run that died between stage and commit (or a concurrent run "
        "over the same fixture) can't leave an extra staged dir that "
        "flips the orphan count, and the version chain doesn't grow "
        "without bound across re-runs.",
)
def q_lake_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    cat = Catalog(spark, sf_dir)
    o = cat.table("orders")
    snap = _order_snapshot(o, 1995)

    root = scratch_dir("orphan_lake", sf_dir)
    # Clean slate: this query ASSERTS exact orphan counts, so the
    # fixture lake must not inherit staged-but-uncommitted leftovers
    # from a crashed prior run, nor an ever-growing manifest chain.
    for sub in ("data", "_manifests"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    lake = ManifestLake(spark, root)
    # two commits of the same partition key: v1's files become
    # superseded-but-referenced — the case latest-only reconciliation
    # gets wrong
    lake.write_usage(snap, "orders_orphan", "1995-01-01", "r1")
    lake.write_usage(snap, "orders_orphan", "1995-01-01", "r1")
    # plant manifest-bypassing files (deterministic: coalesce(1) into
    # fixed subdirs, overwrite => exactly one data file each on every
    # gate re-run)
    ddir = f"{lake.root}/data/orders_orphan"
    cat.table("region").coalesce(1).write.mode("overwrite") \
        .parquet(f"{ddir}/planted-a")
    cat.table("nation").coalesce(1).write.mode("overwrite") \
        .parquet(f"{ddir}/planted-b")

    orphans, missing = lake.orphan_files("orders_orphan")
    orphan_rows = (spark.read.parquet(*orphans).count() if orphans else 0)
    live_rows = lake.read_usage("orders_orphan", "1995-01-01", "r1").count()
    return local_df(spark, 
        [(len(orphans), orphan_rows, len(missing), live_rows)],
        "n_orphan_files long, orphan_rows long, "
        "n_missing_files long, live_rows long")


@register(
    "q_lake_crash_recovery",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS n_orphans_found,
           CAST(1 AS BIGINT) AS n_swept,
           CAST(0 AS BIGINT) AS n_orphans_after,
           CAST(0 AS BIGINT) AS n_missing,
           CAST(2 AS BIGINT) AS version,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01') AS live_rows
    """,
    doc="Crash-recovery drill for the manifest lake — the full "
        "stage / kill-mid-commit / reconcile / sweep / read cycle a "
        "table-maintenance service must survive: v1 and v2 of the same "
        "partition are committed (so superseded-but-referenced v1 "
        "files exist — the files a naive latest-only sweep would "
        "wrongly delete), then a writer is killed BETWEEN staging and "
        "commit (its coalesce(1) stage dir holds exactly one parquet "
        "file no manifest references). orphan_files() must report "
        "exactly that one orphan and zero missing; vacuum_orphans("
        "min_age=0) must sweep exactly it and nothing else; a second "
        "reconcile proves convergence to zero; and the post-sweep "
        "snapshot read proves live data was untouched (n_missing = 0 "
        "also proves v1's superseded files survived, since they are "
        "still referenced by the retained version chain — the "
        "time-travel-safety property). Runs on a clean-slate fixture "
        "lake so prior crashed runs can't inflate the counts — the "
        "same idempotency discipline as q_lake_orphan_audit. "
        "Metadata-scale throughout: the decision set is file PATHS "
        "from manifests + one directory walk; only the final "
        "snapshot read touches data.",
)
def q_lake_crash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    cat = Catalog(spark, sf_dir)
    snap = (cat.table("orders")
            .where((F.col("o_orderdate")
                    >= F.lit("1996-01-01").cast("timestamp"))
                   & (F.col("o_orderdate")
                      < F.lit("1996-07-01").cast("timestamp")))
            .select("o_orderkey", "o_totalprice"))

    root = scratch_dir("crash_lake", sf_dir)
    for sub in ("data", "_manifests"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    lake = ManifestLake(spark, root)

    # v1 then v2 of the same partition: v1's files become
    # superseded-but-referenced (the sweep must keep them)
    lake.write_usage(snap, "orders_cr", "1996-01-01", "r1")
    version = lake.write_usage(snap, "orders_cr", "1996-01-01", "r1")
    # the crashed writer: staged, never committed — exactly one file
    lake._stage(snap.limit(10).coalesce(1), "orders_cr")

    orphans, missing = lake.orphan_files("orders_cr")
    swept = lake.vacuum_orphans("orders_cr", min_age_seconds=0.0)
    orphans_after, missing_after = lake.orphan_files("orders_cr")
    live_rows = lake.read_usage("orders_cr", "1996-01-01", "r1").count()
    return local_df(spark, 
        [(len(orphans), len(swept), len(orphans_after),
          len(missing) + len(missing_after), version, live_rows)],
        "n_orphans_found long, n_swept long, n_orphans_after long, "
        "n_missing long, version long, live_rows long")


@register(
    "q_lake_cdf_between_versions",
    oracle="""
    WITH b AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1995-02-01'),
    nw AS (
        SELECT o_orderkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-02-01'
          AND o_orderdate <  TIMESTAMP '1995-03-01'),
    ch AS (SELECT COUNT(*) AS c FROM b WHERE o_orderkey % 10 = 0)
    SELECT 'added' AS change,
           (SELECT COUNT(*) FROM nw) + ch.c AS n_rows,
           (SELECT COUNT(*) FROM nw) + ch.c AS n_keys
    FROM ch
    UNION ALL
    SELECT 'deleted', ch.c, ch.c FROM ch
    """,
    doc="Change-data-feed BETWEEN manifest versions — the Delta CDF / "
        "Iceberg changelog-scan equivalent (docs/DELTA_ICEBERG_MAPPING"
        ".md): v1 commits the 1995-01 order rows (integer-cents "
        "prices), v2 MERGEs an update set (every key % 10 = 0 gets "
        "+100 cents) plus the disjoint 1995-02 inserts, and the feed "
        "is snapshot_diff(read_usage_at(v2), read_usage_at(v1)) keyed "
        "on the FULL row — an update therefore surfaces as one "
        "'added' (new image) plus one 'deleted' (old image), exactly "
        "Delta CDF's update_postimage/update_preimage pair collapsed "
        "to add/delete semantics, and pure inserts surface as 'added' "
        "only. Time travel supplies both endpoints from the retained "
        "manifest chain — no change log is stored; the diff IS the "
        "log, computed on demand (two snapshot-isolated reads + the "
        "flagship anti-join diff, bloom-pruned at scale). Integer "
        "cents make full-row equality exact across engines. Clean-"
        "slate fixture lake (the crash-recovery discipline) so "
        "version numbers are deterministic.",
)
def q_lake_cdf_between_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    cat = Catalog(spark, sf_dir)
    o = cat.table("orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderdate")
    base = (o.where((F.col("o_orderdate")
                     >= F.lit("1995-01-01").cast("timestamp"))
                    & (F.col("o_orderdate")
                       < F.lit("1995-02-01").cast("timestamp")))
            .drop("o_orderdate"))
    news = (o.where((F.col("o_orderdate")
                     >= F.lit("1995-02-01").cast("timestamp"))
                    & (F.col("o_orderdate")
                       < F.lit("1995-03-01").cast("timestamp")))
            .drop("o_orderdate"))

    root = scratch_dir("cdf_lake", sf_dir)
    for sub in ("data", "_manifests"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    lake = ManifestLake(spark, root)

    v1 = lake.write_usage(base, "orders_cdf", "1995-01-01", "r1")
    updates = (base.where(F.col("o_orderkey") % 10 == 0)
               .withColumn("cents", F.col("cents") + 100))
    v2 = lake.upsert(updates.unionByName(news), "orders_cdf",
                     "1995-01-01", "r1", keys=["o_orderkey"])

    def snap(v):
        return (lake.read_usage_at("orders_cdf", v, "1995-01-01", "r1")
                .select("o_orderkey", "cents"))

    feed = snapshot_diff(snap(v2), snap(v1), keys=["o_orderkey", "cents"])
    agg = (feed.groupBy("change")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys")))
    # The oracle emits BOTH change labels unconditionally; groupBy would
    # drop an empty category (e.g. a fixture month where no key % 10 = 0,
    # so the update set is empty and no 'deleted' rows exist). Left-join
    # the aggregate onto a literal label frame so the empty category
    # surfaces as an explicit zero row on the Spark side too.
    labels = local_df(spark, [("added",), ("deleted",)],
                                   "change string")
    return (labels.join(F.broadcast(agg), "change", "left")
            .select("change",
                    F.coalesce("n_rows", F.lit(0)).cast("long")
                     .alias("n_rows"),
                    F.coalesce("n_keys", F.lit(0)).cast("long")
                     .alias("n_keys")))


@register(
    "q_rollup_cascade",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) > 0 AS has_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY day
    """,
    doc="Materialized-rollup cascade: raw events aggregate to MINUTE "
        "grain, minutes re-aggregate to HOUR, hours to DAY — and the "
        "day level is proven equal to aggregating raw directly (the "
        "oracle). This pins the re-aggregability contract a 100 TB "
        "rollup pyramid depends on: counts and sums merge "
        "associatively through every level, so the day table can be "
        "served from the hour table (1/3600th the rows) instead of "
        "re-scanning raw — the cascade is how second-grain telemetry "
        "stays queryable at year horizons. COUNT DISTINCT deliberately "
        "appears only as an existence flag: distincts do NOT "
        "re-aggregate (the bitmap/HLL mergeable-sketch queries next "
        "door are the correct cascade for those). Each level is one "
        "map-side-combined exchange over the (smaller) previous "
        "level; value sums round once at the END, never at "
        "intermediate levels where rounding would compound.",
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    minute = (e.groupBy(F.date_trunc("minute", "ts").alias("m"),
                        F.to_date("ts").alias("d"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("value").alias("v"),
                   F.countDistinct("user_id").alias("du")))
    hour = (minute.groupBy(F.date_trunc("hour", "m").alias("h"), "d")
            .agg(F.sum("n").alias("n"), F.sum("v").alias("v"),
                 F.sum("du").alias("du")))
    day = (hour.groupBy("d")
           .agg(F.sum("n").alias("n_events"), F.sum("v").alias("v"),
                F.sum("du").alias("du")))
    return day.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_events",
        (F.col("du") > 0).alias("has_users"),
        (F.round("v", 2)).alias("total_value"))


@register(
    "q_zorder_layout_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    WHERE l_orderkey % 256 < 32 AND l_partkey % 256 < 32
    """,
    doc="Z-order (Morton) clustered layout round-trip: lineitem is "
        "rewritten to scratch sorted by the interleaved-bit key of "
        "its two query axes (orderkey/partkey buckets — "
        "operators/scale.interleave_bits, the Delta OPTIMIZE ZORDER "
        "semantics as plain columns), then a 2-D range slice is read "
        "BACK off the clustered copy and aggregated; the oracle "
        "computes the same slice from the raw table, proving the "
        "layout rewrite loses nothing. The PERFORMANCE property — "
        "row-group min/max stats staying tight on BOTH axes so "
        "either predicate skips — is pinned separately with parquet "
        "footer inspection (tests/test_layout.py); this registers "
        "the layout operator itself in the value-checked surface. "
        "Build-once per fixture file (scratch.build_once, size+mtime "
        "key, stale keys pruned); at 100 TB this "
        "rewrite is the periodic OPTIMIZE job whose cost amortizes "
        "over every 2-D slice after it.",
)
def q_zorder_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.scale import interleave_bits
    from datalake_project_spark.scratch import build_once

    def build(tmp: str) -> None:
        li = Catalog(spark, sf_dir).table("lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        zkey = interleave_bits(F.col("l_orderkey") % 256,
                               F.col("l_partkey") % 256, bits=8)
        (li.withColumn("z", zkey).repartitionByRange(8, "z")
         .sortWithinPartitions("z").drop("z")
         .write.mode("overwrite").parquet(tmp))

    path = build_once("zorder", sf_dir,
                      [f"{sf_dir.rstrip('/')}/lineitem.parquet"], build)
    back = spark.read.parquet(path)
    sel = back.where((F.col("l_orderkey") % 256 < 32)
                     & (F.col("l_partkey") % 256 < 32))
    return sel.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"))


@register(
    "q_tpch_refresh_stream",
    oracle="""
    WITH aug AS (
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 89 = 0)
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM aug GROUP BY o_orderpriority
    """,
    doc="TPC-H-style refresh stream (RF1 insert batch + RF2 delete "
        "batch) against the FACT table in the lake — the ACID "
        "maintenance test the 22 read-only queries skip: the orders "
        "fact lands as a lake partition, one changes table carries "
        "the RF1 inserts (key-shifted clones of o_orderkey % 89 "
        "orders, keys offset far above the fixture key space) beside "
        "the RF2 tombstones (o_orderkey % 97 originals), "
        "Lake.upsert applies all branches in ONE partition rewrite, "
        "and the refreshed fact is re-read and aggregated. The oracle "
        "states the post-refresh state declaratively (originals minus "
        "deletes union inserts), so a pass proves row-level "
        "insert+delete fidelity through the write->scan cycle on a "
        "fact-table-shaped (not rollup-shaped) target. Idempotent: "
        "the base partition is rewritten before each refresh. At "
        "scale this is the nightly maintenance transaction — "
        "anti-join with Bloom pushdown over touched keys, one "
        "partition replaced; on Delta/Iceberg the identical call is "
        "MERGE INTO plus an append.",
)
def q_tpch_refresh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    # Clone-key offset is DERIVED from the data (next power of two above
    # max(o_orderkey)) rather than a fixed literal: at sf >= ~1.7 real
    # orderkeys exceed 10M, and a fixed offset would silently collide
    # clones with existing keys. One tiny aggregate (row-group stats
    # read, no full scan at scale) makes the refresh sf-proof.
    max_key = o.agg(F.max("o_orderkey")).first()[0]
    offset = 1 << int(max_key).bit_length()
    inserts = (o.where(F.col("o_orderkey") % 89 == 0)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + F.lit(offset))
               .withColumn("is_deleted", F.lit(False)))
    deletes = (o.where(F.col("o_orderkey") % 97 == 0)
               .select("o_orderkey")
               .withColumn("o_orderpriority", F.lit(None).cast("string"))
               .withColumn("o_totalprice", F.lit(None).cast("double"))
               .withColumn("is_deleted", F.lit(True)))
    changes = inserts.unionByName(deletes)

    lake = Lake(spark, scratch_dir("tpch_rf", sf_dir))
    lake.write_usage(o, "orders_fact", "1995-01-01", "19950101T000000")
    lake.upsert(changes, "orders_fact", "1995-01-01", "19950101T000000",
                keys=["o_orderkey"], delete_col="is_deleted")
    refreshed = lake.read_usage("orders_fact", "1995-01-01",
                                "19950101T000000")
    return (refreshed.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


@register(
    "q_incremental_join_maintenance",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate  < TIMESTAMP '1997-01-01'
    GROUP BY o.o_orderpriority
    """,
    doc="Incremental view maintenance of a JOIN — the delta rule every "
        "materialized join view needs at 100 TB, where re-joining the "
        "full inputs nightly is the cost center: with base tables "
        "A0 (orders before 1996) ⋈ B0 (lineitem shipped before 1996) "
        "already materialized in the lake, the arrival of insert-only "
        "deltas dA (1996 orders) and dB (1996 shipments) is absorbed "
        "by appending exactly ΔJ = dA⋈B0 ∪ A0⋈dB ∪ dA⋈dB — three "
        "delta-sized joins (each bounded by |delta| x fanout, never "
        "|base|²) instead of one full recompute. The maintained view "
        "is read BACK from the lake and aggregated; the oracle "
        "recomputes the join from source over the union window, so a "
        "pass proves the delta algebra is exact (no lost, duplicated, "
        "or phantom join rows across the four quadrants). At cluster "
        "scale the base-side scans of the delta joins carry the "
        "runtime Bloom filter on the delta's keys — touching only "
        "base row groups that can match.",
)
def q_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir

    cat = Catalog(spark, sf_dir)
    cut95 = F.lit("1996-01-01").cast("timestamp")
    cut96 = F.lit("1997-01-01").cast("timestamp")
    o = cat.table("orders").select("o_orderkey", "o_orderpriority",
                                   "o_orderdate")
    li = cat.table("lineitem").select("l_orderkey", "l_extendedprice",
                                      "l_discount", "l_shipdate")
    a0 = o.where(F.col("o_orderdate") < cut95)
    da = o.where((F.col("o_orderdate") >= cut95)
                 & (F.col("o_orderdate") < cut96))
    b0 = li.where(F.col("l_shipdate") < cut95)
    db = li.where((F.col("l_shipdate") >= cut95)
                  & (F.col("l_shipdate") < cut96))

    def j(left: DataFrame, right: DataFrame) -> DataFrame:
        return (left.join(right,
                          right.l_orderkey == left.o_orderkey)
                .select("o_orderpriority", "l_extendedprice", "l_discount"))

    lake = Lake(spark, scratch_dir("ivm", sf_dir))
    lake.write_usage(j(a0, b0), "join_view", "1996-01-01", "base")
    delta = j(da, b0).unionByName(j(a0, db)).unionByName(j(da, db))
    # append the delta beside the base materialization (one partition
    # per refresh keeps the view's history auditable and the append
    # blind to base size)
    lake.write_usage(delta, "join_view", "1996-01-01", "delta1")
    view = lake.read_usage("join_view", "1996-01-01")
    return (view.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@register(
    "q_manifest_version_diff",
    oracle="""
    WITH t95 AS (SELECT o_custkey AS custkey,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate <  TIMESTAMP '1996-01-01'
                 GROUP BY o_custkey),
         t96 AS (SELECT o_custkey AS custkey,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'
                 GROUP BY o_custkey)
    SELECT 'added' AS change, COUNT(*) AS n FROM t96
    WHERE NOT EXISTS (SELECT 1 FROM t95 WHERE t95.custkey = t96.custkey)
    UNION ALL
    SELECT 'deleted', COUNT(*) FROM t95
    WHERE NOT EXISTS (SELECT 1 FROM t96 WHERE t96.custkey = t95.custkey)
    UNION ALL
    SELECT 'changed', COUNT(*) FROM t95 JOIN t96 USING (custkey)
    WHERE t95.total_price <> t96.total_price
    """,
    doc="CDC between TABLE VERSIONS on the manifest-commit lake (Delta "
        "CHANGE DATA FEED / table_changes semantics): the 1995 rollup "
        "commits as version V, the 1996 rollup replaces the same "
        "partition at V+1, and the added/deleted/changed counts are "
        "computed by diffing read_usage_at(V) against read_usage_at "
        "(V+1) — two snapshot-isolated reads of IMMUTABLE file sets, "
        "so the diff is exact even while newer commits land (the "
        "bare-Parquet lake must materialize both snapshots as live "
        "partitions to do this; the manifest lake gets any historical "
        "pair for free). Same anti-join + value-compare shape as the "
        "flagship q_snapshot_diff, now driven by version handles; the "
        "oracle recomputes all three counts from source. At scale "
        "this is the audit query behind every 'what changed between "
        "yesterday's and today's table' question.",
)
def q_manifest_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders")

    lake = ManifestLake(spark, scratch_dir("mlake", sf_dir))
    v1 = lake.write_usage(_price_rollup(o, 1995), "vdiff", "1995-01-01", "T01")
    v2 = lake.write_usage(_price_rollup(o, 1996), "vdiff", "1995-01-01", "T01")
    old = (lake.read_usage_at("vdiff", v1, "1995-01-01", "T01")
           .select("custkey", "total_price"))
    new = (lake.read_usage_at("vdiff", v2, "1995-01-01", "T01")
           .select("custkey", "total_price"))
    added = (new.join(old.select("custkey"), "custkey", "left_anti")
             .agg(F.lit("added").alias("change"),
                  F.count(F.lit(1)).alias("n")))
    deleted = (old.join(new.select("custkey"), "custkey", "left_anti")
               .agg(F.lit("deleted").alias("change"),
                    F.count(F.lit(1)).alias("n")))
    changed = (old.alias("o").join(new.alias("n"), "custkey")
               .where(F.col("o.total_price") != F.col("n.total_price"))
               .agg(F.lit("changed").alias("change"),
                    F.count(F.lit(1)).alias("n")))
    return added.unionByName(deleted).unionByName(changed)


@register(
    "q_cdc_apply_latest",
    oracle="""
    WITH ops AS (
        SELECT user_id, event_id, ts, event_type, value
        FROM events
        WHERE event_type IN ('signup', 'purchase', 'logout')),
    ranked AS (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        FROM ops)
    SELECT user_id, n_ops, ROUND(value, 2) AS last_value
    FROM ranked
    WHERE rk = 1 AND event_type <> 'logout'
    """,
    doc="Changelog compaction (Debezium/CDC apply with LATEST-WINS): an "
        "out-of-order stream of per-key operations — upserts (signup/"
        "purchase carry the new value) and deletes (logout tombstones) "
        "— folds to the final table state by keeping each key's "
        "newest op under a TOTAL order (ts, event_id; the event_id "
        "tie-break makes equal-timestamp batches deterministic) and "
        "dropping keys whose newest op is a tombstone. This is the "
        "batch/backfill twin of the streaming CDC MERGE sink "
        "(streaming/sinks.py): one window over the changelog, no "
        "target join at all — compaction BEFORE merge is how a "
        "backlogged CDC topic is applied in one pass instead of "
        "replaying every intermediate state. One shuffle on the key; "
        "at 100 TB the rank prunes with WindowGroupLimit pushdown "
        "(rk = 1 becomes a per-partition top-1, never a full sort "
        "materialization).",
)
def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = Catalog(spark, sf_dir).table("events")
    ops = (e.where(F.col("event_type").isin("signup", "purchase", "logout"))
           .select("user_id", "event_id", "ts", "event_type", "value"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    wc = Window.partitionBy("user_id")
    ranked = (ops.withColumn("rk", F.row_number().over(w))
              .withColumn("n_ops", F.count(F.lit(1)).over(wc)))
    return (ranked.where((F.col("rk") == 1)
                         & (F.col("event_type") != "logout"))
            .select("user_id", "n_ops",
                    F.round("value", 2).alias("last_value")))


@register(
    "q_snapshot_scd3",
    oracle="""
    WITH t95 AS (SELECT o_custkey AS custkey,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate <  TIMESTAMP '1996-01-01'
                 GROUP BY o_custkey),
         t96 AS (SELECT o_custkey AS custkey,
                        ROUND(SUM(o_totalprice), 2) AS total_price
                 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'
                 GROUP BY o_custkey)
    SELECT COALESCE(t96.custkey, t95.custkey) AS custkey,
           t96.total_price AS current_price,
           t95.total_price AS previous_price,
           CASE WHEN t95.custkey IS NULL THEN 'new'
                WHEN t96.custkey IS NULL THEN 'lapsed'
                WHEN t95.total_price <> t96.total_price THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM t95 FULL OUTER JOIN t96 ON t95.custkey = t96.custkey
    """,
    doc="SCD Type 3 — current-plus-previous ATTRIBUTE COLUMNS per key, "
        "completing the slowly-changing-dimension family beside the "
        "interval-versioned Type 2 (q_snapshot_scd2) and the "
        "overwrite-in-place Type 1 the plain usage write implements: "
        "one full-outer join of consecutive snapshots yields the "
        "(current, previous, change_type) row a Type-3 dimension "
        "stores, where NULLs in either column ARE the signal (new key "
        "-> no previous; lapsed key -> no current). The warehouse "
        "trade-off it encodes: one prior version, O(1) storage per "
        "key, no history explosion — the right SCD when only "
        "'what changed since last load' matters. One shuffle on the "
        "key (both rollups partition identically so AQE can plan the "
        "join shuffle-free after the aggregates).",
)
def q_snapshot_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")

    t95 = _price_rollup(o, 1995).select("custkey",
                                        F.col("total_price").alias("prev_p"))
    t96 = _price_rollup(o, 1996).select("custkey",
                                        F.col("total_price").alias("cur_p"))
    j = t95.join(t96, "custkey", "full_outer")
    change = (F.when(F.col("prev_p").isNull(), "new")
              .when(F.col("cur_p").isNull(), "lapsed")
              .when(F.col("prev_p") != F.col("cur_p"), "changed")
              .otherwise("unchanged"))
    return j.select("custkey",
                    F.col("cur_p").alias("current_price"),
                    F.col("prev_p").alias("previous_price"),
                    change.alias("change_type"))


@register(
    "q_manifest_stats_skipping",
    oracle="""
    WITH mx AS (
        SELECT CAST(FLOOR(MAX(o_orderkey) / 10.0) AS BIGINT) AS lo,
               CAST(FLOOR(MAX(o_orderkey) * 3 / 10.0) AS BIGINT) AS hi
        FROM orders)
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key,
           TRUE AS files_pruned
    FROM orders, mx
    WHERE o_orderkey BETWEEN mx.lo AND mx.hi
    """,
    doc="Manifest-stats file skipping on the ACID lake (Iceberg-style "
        "data-file pruning): orders are written range-clustered on "
        "o_orderkey into 8 immutable files whose per-file min/max land "
        "in the manifest at commit time; a range scan for the "
        "[10%, 30%] keyspace band then drops whole files from METADATA "
        "alone (ManifestLake.scan_usage / _prune_files — no footer "
        "opened, no listing) before the residual row filter runs. The "
        "files_pruned column is the engine's own receipt that the "
        "pruned file set is a strict subset (the oracle pins it TRUE: "
        "with 8 range-clustered files an interior 20% band must "
        "exclude at least one file); row values are oracle-checked "
        "against a plain filtered aggregate of the source, proving "
        "skipping loses nothing. The [lo, hi] bounds come from one "
        "1-row max aggregate (a bounded driver boundary, same as the "
        "IVF probe cells — file pruning is inherently a driver/"
        "metadata decision). At 100 TB this is the difference between "
        "touching O(matching) files and O(all) files on every "
        "clustered scan; stats collection itself is one distributed "
        "pass over freshly staged files at write time.",
)
def q_manifest_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    o = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    mx = o.agg(F.max("o_orderkey").alias("m")).first()["m"]
    lo, hi = mx // 10, mx * 3 // 10

    lake = ManifestLake(spark, scratch_dir("mstats", sf_dir))
    lake.write_usage(o.repartitionByRange(8, "o_orderkey"),
                     "ord_clustered", "1995-01-01", "19950101T000000")
    entry = next(e for e in lake._latest("ord_clustered")[1]["entries"]
                 if e["keys"] == ["1995-01-01", "19950101T000000"])
    kept = lake._prune_files(entry, "o_orderkey", lo, hi)
    pruned = len(kept) < len(entry["files"])

    scanned = lake.scan_usage("ord_clustered", "o_orderkey", lo, hi)
    return scanned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.lit(bool(pruned)).alias("files_pruned"))


# --------------------------------------------------------------------------
# GDPR erasure — tombstone MERGE + bounded time travel + file-level proof
# --------------------------------------------------------------------------

@register(
    "q_lake_erasure",
    oracle="""
    SELECT COUNT(*)::BIGINT AS n_total,
           CAST(SUM(CASE WHEN c_custkey % 97 = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_erased,
           CAST(COUNT(*) - SUM(CASE WHEN c_custkey % 97 = 3
                                    THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after,
           TRUE AS absent_in_table,
           TRUE AS absent_on_disk,
           1 AS versions_after
    FROM customer
    """,
    doc="Right-to-be-forgotten as a lake lifecycle round-trip — the "
        "operation every 100 TB personal-data lake must support and "
        "the reference cannot express (its hourly dirs never delete, "
        "scripts/script_api_apify_to_spark.py:200-209). Three-step "
        "erasure on the manifest-ACID backend: (1) tombstone MERGE "
        "(ManifestLake.upsert with delete_col) removes the requested "
        "keys (c_custkey % 97 = 3) from the head snapshot; (2) "
        "expire_versions(keep_last=1) BOUNDS TIME TRAVEL — erasure "
        "that leaves the rows readable at version N-1 is not erasure "
        "— expiring the pre-erasure manifests and refcount-vacuuming "
        "the files only they referenced (the r6 Iceberg-"
        "expire_snapshots semantics); (3) a FILE-LEVEL audit re-reads "
        "every Parquet file still on disk under the table's data dir "
        "and proves zero erased keys survive physically, not just "
        "logically (absent_on_disk). Idempotent: each execution "
        "rebuilds the snapshot, erases, and re-bounds. The oracle "
        "pins the exact row accounting from the source table plus the "
        "three invariants.",
)
def q_lake_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    c = Catalog(spark, sf_dir).table("customer") \
        .select("c_custkey", "c_name", "c_acctbal")
    lake = ManifestLake(spark, scratch_dir("erasure", sf_dir))
    D_, T_ = "2026-03-01", "T01"
    lake.write_usage(c, "cust", D_, T_)
    n_total = c.count()
    erase = (c.where(F.col("c_custkey") % 97 == 3)
             .withColumn("_del", F.lit(True)))
    n_erased = erase.count()
    lake.upsert(erase, "cust", D_, T_, keys=["c_custkey"],
                delete_col="_del")
    lake.expire_versions("cust", keep_last=1)
    cur = lake.read_usage("cust", D_, T_)
    n_after = cur.count()
    absent_tbl = cur.where(F.col("c_custkey") % 97 == 3).count() == 0
    ddir = lake._data_dir("cust")
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(ddir)
             for f in fs if f.endswith(".parquet")
             and not f.startswith(("_", "."))]
    on_disk = (spark.read.parquet(*files)
               .where(F.col("c_custkey") % 97 == 3).count()
               if files else 0)
    versions_after = len(lake._versions("cust"))
    return local_df(spark, 
        [(n_total, n_erased, n_after, bool(absent_tbl),
          bool(on_disk == 0), versions_after)],
        "n_total long, n_erased long, n_after long, "
        "absent_in_table boolean, absent_on_disk boolean, "
        "versions_after int")


@register(
    "q_lake_compaction_plan",
    oracle="""
    WITH frag AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                   AS month,
               CAST((EXTRACT(day FROM o_orderdate) - 1) // 7 AS BIGINT)
                   AS wk,
               COUNT(*) AS n_rows
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY 1, 2),
    packed AS (
        SELECT month, wk, n_rows,
               COALESCE(SUM(n_rows) OVER (
                   PARTITION BY month ORDER BY wk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_before
        FROM frag)
    SELECT month, CAST(cum_before // 400 AS BIGINT) AS bucket,
           COUNT(*) AS n_frags,
           CAST(SUM(n_rows) AS BIGINT) AS rows_out,
           MIN(wk) AS first_wk, MAX(wk) AS last_wk,
           ROUND(SUM(n_rows)::DOUBLE / 400.0, 4) AS fill_ratio
    FROM packed
    GROUP BY month, CAST(cum_before // 400 AS BIGINT)
    ORDER BY month, bucket
    """,
    doc="Compaction (OPTIMIZE bin-packing) PLANNER — the maintenance "
        "step between q_file_inventory's listing and q_compact_"
        "roundtrip's rewrite, and the lake member of the planner-"
        "receipt family (q_dedup_dfcap_planner's discipline: plan "
        "from the stats relation alone, never by moving data). Input "
        "is the per-partition fragment histogram (partition=month, "
        "fragment=week-of-month, n_rows) — the shape a ManifestLake "
        "entry-stats scan or an Iceberg manifest yields for a "
        "fragmented 1995 orders table; here it derives "
        "deterministically from the rows so every packed bucket is "
        "value-checked. The pack is the standard cumulative-sum "
        "first-fit: fragments orderered within their partition, "
        "bucket = floor(cumsum-before / target_rows=400) — one "
        "window + one groupBy, both keyed by the PARTITION column, "
        "so at 100 TB the plan costs one manifest-scale pass with no "
        "cross-partition shuffle wider than the file-stats relation. "
        "A fragment larger than the target keeps its own bucket "
        "(first-fit never splits a file); fill_ratio flags both "
        "under-filled tails and oversize buckets for the executor "
        "(compact() / rewrite) to act on.",
)
def q_lake_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (Catalog(spark, sf_dir).table("orders")
         .where((F.col("o_orderdate") >= F.lit("1995-01-01")
                 .cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-01-01")
                   .cast("timestamp"))))
    frag = (o.select(
                F.date_format(F.date_trunc("month", "o_orderdate"),
                              "yyyy-MM").alias("month"),
                ((F.dayofmonth("o_orderdate") - 1).cast("long") / 7)
                .cast("long").alias("wk"))
            .groupBy("month", "wk")
            .agg(F.count(F.lit(1)).alias("n_rows")))
    w = (Window.partitionBy("month").orderBy("wk")
         .rowsBetween(Window.unboundedPreceding, -1))
    packed = frag.withColumn(
        "cum_before", F.coalesce(F.sum("n_rows").over(w), F.lit(0)))
    return (packed
            .groupBy("month",
                     (F.col("cum_before") / 400).cast("long")
                     .alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_frags"),
                 F.sum("n_rows").alias("rows_out"),
                 F.min("wk").alias("first_wk"),
                 F.max("wk").alias("last_wk"),
                 F.round(F.sum("n_rows").cast("double") / 400.0, 4)
                 .alias("fill_ratio"))
            .orderBy("month", "bucket"))


@register(
    "q_cdc_update_column_profile",
    oracle="""
    WITH s95 AS (
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               COUNT(DISTINCT strftime(date_trunc('month', o_orderdate),
                                       '%Y-%m')) AS n_months,
               MAX(o_orderpriority) AS max_priority,
               MAX(strftime(date_trunc('month', o_orderdate), '%Y-%m'))
                   AS last_month
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY 1),
    s96 AS (
        SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
               COUNT(DISTINCT strftime(date_trunc('month', o_orderdate),
                                       '%Y-%m')) AS n_months,
               MAX(o_orderpriority) AS max_priority,
               MAX(strftime(date_trunc('month', o_orderdate), '%Y-%m'))
                   AS last_month
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1),
    j AS (SELECT a.custkey,
                 a.n_orders AS a1, b.n_orders AS b1,
                 a.n_months AS a2, b.n_months AS b2,
                 a.max_priority AS a3, b.max_priority AS b3,
                 a.last_month AS a4, b.last_month AS b4
          FROM s95 a JOIN s96 b USING (custkey))
    SELECT col, n_changed, n_compared,
           ROUND(n_changed::DOUBLE / n_compared::DOUBLE, 4) AS frac
    FROM (
        SELECT 'n_orders' AS col,
               CAST(SUM(CASE WHEN a1 <> b1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_changed, COUNT(*) AS n_compared FROM j
        UNION ALL
        SELECT 'n_months',
               CAST(SUM(CASE WHEN a2 <> b2 THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*) FROM j
        UNION ALL
        SELECT 'max_priority',
               CAST(SUM(CASE WHEN a3 <> b3 THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*) FROM j
        UNION ALL
        SELECT 'last_month',
               CAST(SUM(CASE WHEN a4 <> b4 THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(*) FROM j)
    ORDER BY col
    """,
    doc="Column-level UPDATE profile between two snapshots — the CDC "
        "observability layer above q_snapshot_diff's row-level "
        "added/deleted: for keys present in BOTH years' customer-"
        "activity snapshots, how many rows changed EACH attribute "
        "(order count, active-month count, max priority, last active "
        "month) — the 'what actually drifts' receipt that sizes an "
        "SCD2 dimension's churn per column before anyone builds it. "
        "All compared attributes are integers/strings, so the change "
        "flags are bit-exact across engines. One inner join of two "
        "keyed aggregates; the per-column fold is an explode over a "
        "4-element literal array (constant width), aggregated "
        "map-side to 4 cells — nothing row-scale crosses the wire "
        "after the join.",
)
def q_cdc_update_column_profile(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    month = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")

    def snap(year: int) -> DataFrame:
        return (o.where(_in_year(year))
                .groupBy(F.col("o_custkey").alias("custkey"))
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     F.countDistinct(month).alias("n_months"),
                     F.max("o_orderpriority").alias("max_priority"),
                     F.max(month).alias("last_month")))

    a, b = snap(1995).alias("a"), snap(1996).alias("b")
    j = a.join(b, "custkey")
    cols = ["n_orders", "n_months", "max_priority", "last_month"]
    flags = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 (F.col(f"a.{c}") != F.col(f"b.{c}")).cast("int")
                 .alias("chg"))
        for c in cols])
    return (j.select(F.explode(flags).alias("f"))
            .groupBy(F.col("f.col").alias("col"))
            .agg(F.sum("f.chg").cast("long").alias("n_changed"),
                 F.count(F.lit(1)).alias("n_compared"))
            .select("col", "n_changed", "n_compared",
                    F.round(F.col("n_changed").cast("double")
                            / F.col("n_compared").cast("double"), 4)
                    .alias("frac"))
            .orderBy("col"))


@register(
    "q_lake_clone_shallow",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01') AS rows_source,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate <  TIMESTAMP '1996-01-01') AS rows_clone,
           TRUE AS rows_equal,
           TRUE AS all_files_shared,
           CAST(0 AS BIGINT) AS files_copied
    """,
    doc="SHALLOW CLONE receipt (Delta CLONE / Iceberg snapshot-ref): "
        "a zero-copy table clone is one manifest commit pointing at "
        "the source's current data files (manifest_lake.py:"
        "clone_shallow). The receipts prove all three clone "
        "invariants the maintenance docs promise: the clone reads "
        "byte-equal to the source (row counts from BOTH sides plus a "
        "two-way exceptAll emptiness check folded into rows_equal), "
        "every file the clone references is a file the source "
        "references (all_files_shared — set equality over manifest "
        "paths, metadata-scale), and files_copied = 0 (the data "
        "directory gained nothing from cloning: listing delta "
        "measured across the clone call). Idempotent across gate "
        "re-runs — the fixture lake resets to a clean slate up "
        "front, the orphan-audit discipline.",
)
def q_lake_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from datalake_project_spark.manifest_lake import ManifestLake
    from datalake_project_spark.scratch import scratch_dir

    root = scratch_dir("clone_lake", sf_dir)
    for sub in ("data", "_manifests"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    ml = ManifestLake(spark, root)
    o = Catalog(spark, sf_dir).table("orders")
    snap = (o.where(_in_year(1995))
            .select("o_orderkey", "o_custkey", "o_totalprice"))
    ml.write_usage(snap, "src", "20240101", "r1")

    def listing() -> set:
        out = set()
        for base, _, files in os.walk(os.path.join(root, "data")):
            out.update(os.path.join(base, f) for f in files
                       if f.endswith(".parquet"))
        return out

    before = listing()
    ml.clone_shallow("src", "clone")
    copied = len(listing() - before)

    src_df = ml.read_usage("src").drop("ingest_date", "run_ts")
    cl_df = ml.read_usage("clone").drop("ingest_date", "run_ts")
    rows_equal = (src_df.exceptAll(cl_df).count() == 0
                  and cl_df.exceptAll(src_df).count() == 0)
    shared = (ml.referenced_files("clone")
              <= ml.referenced_files("src"))
    return local_df(spark, 
        [(src_df.count(), cl_df.count(), bool(rows_equal), bool(shared),
          copied)],
        "rows_source long, rows_clone long, rows_equal boolean, "
        "all_files_shared boolean, files_copied long")
