"""Interchange-format round-trip queries: CSV, ORC, and JSON-lines.

The reference's surface is Parquet + raw JSON (SURVEY.md §2.1/§2.2;
``scripts/script_api_apify_to_spark.py`` raw/formatted layers); a
general engine also has to land and re-read the interchange formats a
lake's edges speak. Each query writes a deterministic aggregate to
scratch in one format, reads it BACK through that format's source, and
returns the re-read rows — the oracle computes the same aggregate
directly from Parquet, so a pass proves full write->read fidelity
(schema mapping, type round-trip, value encoding), not just that the
write didn't throw.

Scale note: all three sinks/sources shard per-partition (one file per
task, parallel read with splittable formats where the codec allows), so
the round-trip shape is identical on a 1000-executor cluster — only
file counts change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import register
from datalake_project_spark.scratch import build_once, scratch_dir


def _nation_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    n = Catalog(spark, sf_dir).table("nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_custs"),
             F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


_NATION_CUSTOMERS_SQL = """
    SELECT n_name, COUNT(*) AS n_custs,
           ROUND(SUM(c_acctbal), 2) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@register(
    "q_csv_roundtrip",
    oracle=_NATION_CUSTOMERS_SQL,
    doc="CSV sink + source round-trip: per-nation customer aggregate "
        "written as headered CSV, re-read with an EXPLICIT schema (no "
        "inference scan — at scale schema inference is a second full "
        "read) and returned. Oracle recomputes the aggregate from "
        "Parquet, so text-encoding of bigints/doubles must round-trip "
        "exactly.",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("csv_rt", sf_dir)
    _nation_customers(spark, sf_dir).write.mode("overwrite") \
        .option("header", True).csv(path)
    return spark.read.schema(
        "n_name string, n_custs bigint, total_acctbal double") \
        .option("header", True).csv(path)


@register(
    "q_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="ORC sink + source round-trip (columnar interchange with "
        "predicate-pushdown-capable stripes): per-priority order "
        "aggregate written as ORC and re-read; schema carried by the "
        "file footer.",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("orc_rt", sf_dir)
    o = Catalog(spark, sf_dir).table("orders")
    agg = (o.groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_price")))
    agg.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "q_jsonl_roundtrip",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_parts,
           ROUND(AVG(p_retailprice), 2) AS avg_price
    FROM part GROUP BY p_brand
    """,
    doc="JSON-lines sink + source round-trip (the reference's raw-layer "
        "format, SURVEY §2.1): per-brand part aggregate written as "
        "line-delimited JSON and re-read with an explicit schema "
        "(single-pass, no inference).",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("jsonl_rt", sf_dir)
    p = Catalog(spark, sf_dir).table("part")
    agg = (p.groupBy("p_brand")
           .agg(F.count(F.lit(1)).alias("n_parts"),
                F.round(F.avg("p_retailprice"), 2).alias("avg_price")))
    agg.write.mode("overwrite").json(path)
    return spark.read.schema(
        "p_brand string, n_parts bigint, avg_price double").json(path)


@register(
    "q_gzip_jsonl_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang
    """,
    doc="COMPRESSED text-format round-trip: per-(source, lang) document "
        "aggregate written as GZIP JSON-lines and re-read with an "
        "explicit schema — the codec seam every log/export ingest "
        "crosses (most raw corpus drops arrive .jsonl.gz). Write-side "
        "codec is the per-file option; read-side decompression is "
        "extension-dispatched. The 100 TB caveat this query documents "
        "by existing: gzip files are NOT splittable, so one file = one "
        "scan task — raw drops must arrive as MANY files (this write "
        "inherits the aggregate's parallelism) or be re-staged to a "
        "splittable layout before heavy scans; the engine's lake "
        "re-stages to parquet for exactly that reason.",
)
def q_gzip_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("gzjsonl_rt", sf_dir)
    d = Catalog(spark, sf_dir).table("documents")
    agg = (d.groupBy("source", "lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars")))
    agg.write.mode("overwrite").option("compression", "gzip").json(path)
    return spark.read.schema(
        "source string, lang string, n_docs bigint, total_chars bigint") \
        .json(path)


@register(
    "q_schema_evolution",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(NULL AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT o_orderpriority, CAST(NULL AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Schema-evolution round-trip: batch 1 writes (priority, "
        "n_orders), batch 2 appends (priority, total_price) to the same "
        "Parquet dataset; a mergeSchema read returns the union-by-name "
        "view with NULLs where a batch lacks the column — the lake "
        "behavior that lets a 100 TB dataset grow columns without "
        "rewriting history. Oracle reproduces the merged view from the "
        "source table.",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("schema_ev", sf_dir)
    o = Catalog(spark, sf_dir).table("orders")
    (o.groupBy("o_orderpriority")
     .agg(F.count(F.lit(1)).alias("n_orders"))
     .write.mode("overwrite").parquet(path))
    (o.groupBy("o_orderpriority")
     .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price"))
     .write.mode("append").parquet(path))
    return (spark.read.option("mergeSchema", True).parquet(path)
            .select("o_orderpriority", "n_orders", "total_price"))


@register(
    "q_file_inventory",
    oracle="""
    SELECT 3 AS n_files, COUNT(*) AS n_rows,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    """,
    doc="File-level inventory via the _metadata hidden column (Spark's "
        "per-file provenance: file_path/file_size/modification_time "
        "surfaced IN-PLAN - no filesystem listing in application "
        "code): a 1995 lineitem slice is written to scratch as exactly "
        "3 files, then the inventory groups on "
        "_metadata.file_path to count physical files and prove no row "
        "went missing. This is the observability primitive behind "
        "compaction decisions (q_compact_roundtrip acts on exactly "
        "this signal) and small-file alerts; at 100 TB it runs as a "
        "normal aggregate with map-side partials - file identity is "
        "just another column. The oracle recomputes the row/value "
        "totals from the source and pins the written file count.",
)
def q_file_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    snap = li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_quantity")
    path = f"{scratch_dir('inventory', sf_dir)}/li95"
    snap.repartition(3).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    per_file = (back.select(F.col("_metadata.file_path").alias("f"),
                            "l_quantity")
                .groupBy("f")
                .agg(F.count(F.lit(1)).alias("rows_in_file"),
                     F.sum("l_quantity").alias("qty_in_file")))
    return per_file.agg(
        F.count(F.lit(1)).cast("int").alias("n_files"),
        F.sum("rows_in_file").cast("long").alias("n_rows"),
        F.sum("qty_in_file").cast("long").alias("total_qty"))


def _pages_for(sf_dir: str) -> str:
    """Deterministic JSON page files derived from the documents table
    (doc_id < 200, 4 pages by doc_id % 4) — built once per fixture file
    by ``scratch.build_once``. Built via pyarrow directly:
    metadata-scale (200 rows), no Spark job."""
    import json
    import os

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        t = pq.read_table(src, columns=["doc_id", "source"])
        rows = sorted(
            ({"doc_id": int(i), "source": s}
             for i, s in zip(t.column("doc_id").to_pylist(),
                             t.column("source").to_pylist())
             if int(i) < 200),
            key=lambda r: r["doc_id"])
        for p in range(4):
            with open(os.path.join(tmp, f"page_{p:03d}.json"), "w") as f:
                json.dump([r for r in rows if r["doc_id"] % 4 == p], f)

    return build_once("json_pages", sf_dir, [src], build)


@register(
    "q_pages_ingest",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM documents WHERE doc_id < 200
    GROUP BY source
    """,
    doc="Paged-API ingestion through the registered Spark-4 Python "
        "DataSource (sources/pydatasource.py): deterministic JSON pages "
        "derived from the documents table are read back via "
        "spark.read.format('paged_json') — one input partition per "
        "page, explicit DDL schema, no sampling pass — and aggregated "
        "per source; the oracle recomputes the aggregate straight from "
        "Parquet, proving the DataSource's planner/reader path "
        "end-to-end (S1 as a first-class source format, not just a "
        "pytest surface). At scale page count = partition count = "
        "fetch parallelism.",
)
def q_pages_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.sources.pydatasource import register_paged_json

    register_paged_json(spark)
    df = (spark.read.format("paged_json")
          .option("path", _pages_for(sf_dir))
          .option("schema", "doc_id bigint, source string")
          .load())
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"))


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    doc="XML sink + source round-trip through Spark 4's BUILT-IN xml "
        "format (no external package): per-nation supplier aggregate "
        "written with rowTag=supplier, re-read with an EXPLICIT schema "
        "(no inference scan) and returned. The oracle recomputes the "
        "aggregate from Parquet, so XML text encoding of bigints and "
        "doubles must round-trip exactly. At scale the write shards one "
        "file per task and the read is one partition per file — the "
        "same shape as the CSV/JSONL edges; XML is the remaining "
        "interchange format enterprise lake edges speak (feeds, SOAP "
        "exports, config dumps).",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("xml_rt", sf_dir)
    s = Catalog(spark, sf_dir).table("supplier")
    agg = (s.groupBy("s_nationkey")
           .agg(F.count(F.lit(1)).alias("n_suppliers"),
                F.round(F.sum("s_acctbal"), 2).alias("total_bal")))
    (agg.write.mode("overwrite").format("xml")
        .option("rowTag", "supplier").save(path))
    return (spark.read.format("xml")
            .schema("s_nationkey bigint, n_suppliers bigint, total_bal double")
            .option("rowTag", "supplier").load(path))


@register(
    "q_log_parse",
    oracle="""
    WITH lines AS (
        SELECT '10.' || (user_id % 256)::VARCHAR || '.0.'
               || (event_id % 256)::VARCHAR || ' - u' || user_id::VARCHAR
               || ' "GET /' || event_type || ' HTTP/1.1" '
               || (CASE WHEN event_type = 'error' THEN 500 ELSE 200
                   END)::VARCHAR
               || ' ' || (event_id % 10000)::VARCHAR AS line
        FROM events),
    parsed AS (
        SELECT regexp_extract(line, '"([A-Z]+) /([a-z]+) HTTP/1\\.1" ([0-9]+) ([0-9]+)$', 2) AS path,
               CAST(regexp_extract(line, '"([A-Z]+) /([a-z]+) HTTP/1\\.1" ([0-9]+) ([0-9]+)$', 3) AS INT) AS status,
               CAST(regexp_extract(line, '"([A-Z]+) /([a-z]+) HTTP/1\\.1" ([0-9]+) ([0-9]+)$', 4) AS BIGINT) AS n_bytes
        FROM lines)
    SELECT path, status, COUNT(*) AS n_requests,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
    FROM parsed GROUP BY path, status
    """,
    doc="Semi-structured access-log ETL: Apache-combined-style request "
        "lines (synthesized deterministically from events on both "
        "engines — the augmentation discipline; a real deployment "
        "reads them via spark.read.text) parsed back into typed "
        "columns with ONE anchored regexp evaluated once per needed "
        "group, then aggregated per (path, status). regexp_extract "
        "compiles into codegen — the whole parse+aggregate is a "
        "single map-side-combined pass with no Python, which is the "
        "only acceptable shape for the classic 100 TB workload this "
        "represents (raw web logs -> traffic rollup). The regex "
        "stays in the RE2-compatible subset so Java and DuckDB "
        "semantics coincide.",
)
def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    status = F.when(F.col("event_type") == "error",
                    F.lit(500)).otherwise(F.lit(200))
    line = F.concat(
        F.lit("10."), (F.col("user_id") % 256).cast("string"),
        F.lit(".0."), (F.col("event_id") % 256).cast("string"),
        F.lit(" - u"), F.col("user_id").cast("string"),
        F.lit(' "GET /'), F.col("event_type"),
        F.lit(' HTTP/1.1" '), status.cast("string"),
        F.lit(" "), (F.col("event_id") % 10000).cast("string"))
    pat = r'"([A-Z]+) /([a-z]+) HTTP/1\.1" ([0-9]+) ([0-9]+)$'
    lines = e.select(line.alias("line"))
    parsed = lines.select(
        F.regexp_extract("line", pat, 2).alias("path"),
        F.regexp_extract("line", pat, 3).cast("int").alias("status"),
        F.regexp_extract("line", pat, 4).cast("long").alias("n_bytes"))
    return (parsed.groupBy("path", "status")
            .agg(F.count(F.lit(1)).alias("n_requests"),
                 F.sum("n_bytes").alias("total_bytes")))


@register(
    "q_json_corrupt_records",
    oracle="""
    SELECT COUNT(CASE WHEN doc_id % 7 <> 0 THEN 1 END) AS n_good,
           COUNT(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT)
               AS total_n
    FROM documents
    """,
    doc="Corrupt-record-tolerant ingestion (PERMISSIVE JSON with "
        "columnNameOfCorruptRecord): a JSONL landing file is "
        "synthesized with every doc_id % 7 line truncated mid-object "
        "(the malformed-producer reality of any landing zone), then "
        "read back with an explicit schema + _corrupt_record column — "
        "bad lines surface AS DATA (null fields + the raw line "
        "preserved) instead of failing the job or silently dropping, "
        "so the quarantine/alert decision is a normal filter. The "
        "oracle derives the same good/corrupt split from the source "
        "table, so a pass proves no line was lost in either "
        "direction. One write + one scan, corrupt handling entirely "
        "in the JVM parser; at 100 TB the good path pays nothing "
        "extra and bad lines cost their own parse attempt.",
)
def q_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_dir("json_corrupt", sf_dir)
    d = Catalog(spark, sf_dir).table("documents")
    line = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
        F.lit(', "n": '), F.col("n_chars").cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(F.lit("}")))
    d.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (spark.read
            .schema("doc_id bigint, n bigint, _corrupt_record string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path))
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.sum(F.when(~bad, F.col("n"))).cast("long").alias("total_n"))


@register(
    "q_fixedwidth_parse",
    oracle="""
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
    doc="FIXED-WIDTH record sink + source round-trip — the mainframe/"
        "EDI interchange format Spark has no native reader for: each "
        "customer serializes to one 36-byte line (custkey as 12 "
        "zero-padded digits, segment space-padded to 12, acctbal in "
        "signed zero-padded cents of width 12), written via the text "
        "sink; the reader is spark.read.text plus SUBSTRING slicing "
        "at the declared offsets with trim/casts — column boundaries "
        "live in the schema registry, not the bytes, exactly like a "
        "COBOL copybook. The oracle recomputes the per-segment "
        "aggregate from Parquet, so the proof is that padding, sign "
        "handling, and offset arithmetic round-trip every record "
        "bit-exactly (cents as integers — no float text risk). Scale "
        "path: text source splits by line on byte ranges, so the "
        "parse stays embarrassingly parallel with pushed-down column "
        "pruning irrelevant (one physical column) and the aggregate "
        "map-side combinable.",
)
def q_fixedwidth_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.scratch import scratch_dir

    c = Catalog(spark, sf_dir).table("customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
        F.rpad(F.col("c_mktsegment"), 12, " "),
        F.when(cents < 0, F.concat(F.lit("-"),
                                   F.lpad((-cents).cast("string"), 11,
                                          "0")))
        .otherwise(F.concat(F.lit("+"),
                            F.lpad(cents.cast("string"), 11, "0"))))
    path = scratch_dir("fixedwidth_rt", sf_dir)
    c.select(line.alias("value")).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("custkey"),
        F.trim(F.substring("value", 13, 12)).alias("segment"),
        (F.when(F.substring("value", 25, 1) == "-", -1).otherwise(1)
         * F.substring("value", 26, 11).cast("long")).alias("cents"))
    return (parsed.groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum("cents").cast("long").alias("total_cents"))
            .orderBy("segment"))
