"""General relational surface: scans, filters, projections, joins,
aggregations, windows, set ops, sorts/limits, scalar expressions.

The reference's own relational footprint is small (anti-joins + unions +
literals — SURVEY.md §2.3-2.7); the usage layer exists to be queried, so
the engine exposes the full Spark SQL surface. Queries are TPC-H-flavored
over the driver's star schema. All plans are declarative DataFrame code:
Catalyst does column pruning, predicate pushdown into the Parquet scan,
join reordering, and broadcast selection (dimension tables are far below
the 64 MB auto-broadcast threshold at any realistic SF, so fact-table
joins against region/nation/supplier/part broadcast instead of shuffling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import register


# --------------------------------------------------------------------------
# Aggregation family (SURVEY §2.6)
# --------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 2)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 2)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: wide partial-aggregable groupBy; map-side combine "
        "means the shuffle carries one row per (flag,status) per partition.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_revenue_forecast",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan+filter+agg — every predicate pushes to "
        "the Parquet reader (PushedFilters), no shuffle beyond final agg.",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "q_agg_having",
    oracle="""
    SELECT c_nationkey,
           COUNT(*)                  AS n_customers,
           ROUND(AVG(c_acctbal), 2)  AS avg_bal,
           ROUND(MAX(c_acctbal), 2)  AS max_bal,
           ROUND(MIN(c_acctbal), 2)  AS min_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING COUNT(*) > 20
    """,
    doc="groupBy + HAVING (post-aggregation filter).",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
        .where(F.col("n_customers") > 20)
    )


@register(
    "q_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="Hierarchical grouping sets (rollup); Catalyst expands to Expand+Agg.",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    doc="Arbitrary grouping sets (neither rollup nor cube): per-priority, "
        "per-status, and grand total in one Expand+Agg pass over the scan.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return (
        o.groupingSets([["o_orderpriority"], ["o_orderstatus"], []],
                       "o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Full grouping-set cube.",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_distinct_agg",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey)   AS n_custs,
           COUNT(*)                    AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="COUNT DISTINCT (two-phase shuffle: dedup then count).",
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.4) — inner / left / semi / anti, multi-way
# --------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15'
      AND l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter -> fact join -> agg -> top-k. "
        "customer side broadcasts; limit is deterministic via total order.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp"))
    li = Catalog(spark, sf_dir).table("lineitem").where(F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_star_schema_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="Plain star-schema revenue rollup (Q5 minus the same-nation "
        "customer/supplier residual — the faithful TPC-H Q5 is "
        "q5_local_supplier_volume in relational5.py): six-way star "
        "join; all dims broadcast, single shuffle for the final "
        "group-by. Note: this name once collided with the true Q5 "
        "registration and was silently shadowed; register() now "
        "raises on duplicates.",
)
def q_star_schema_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c, o, li = cat.table("customer"), cat.table("orders"), cat.table("lineitem")
    s, n, r = cat.table("supplier"), cat.table("nation"), cat.table("region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'F'
    GROUP BY c_custkey
    """,
    doc="Left outer join preserving customers with no matching orders "
        "(join-side predicate, not post-filter).",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders")
    return (
        c.join(o, (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "F"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    doc="Left-semi join (EXISTS).",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    """,
    doc="Left-anti join (NOT EXISTS) — the reference's J1/J2 primitive "
        "(scripts/script_api_apify_to_spark.py:242-247).",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.5)
# --------------------------------------------------------------------------

@register(
    "q_set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    doc="INTERSECT of customer key sets across two years.",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    y95 = o.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.intersect(y96)


@register(
    "q_set_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
    doc="EXCEPT (set minus) — the relational core of the snapshot diff.",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    y95 = o.where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    y96 = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y95.subtract(y96)  # EXCEPT (distinct) semantics


@register(
    "q_union_by_name",
    oracle="""
    SELECT c_custkey AS key, c_name AS name, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT s_suppkey AS key, s_name AS name, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9000
    """,
    doc="unionByName with provenance literal — the reference's U1/U2+P3 "
        "assembly (airflow/dags/apify_dag.py:147-168).",
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name"),
        F.lit("customer").alias("kind"))
    s = Catalog(spark, sf_dir).table("supplier").where(F.col("s_acctbal") > 9000).select(
        F.col("s_suppkey").alias("key"), F.col("s_name").alias("name"),
        F.lit("supplier").alias("kind"))
    return c.unionByName(s)


# --------------------------------------------------------------------------
# Window functions / sorts / limits (SURVEY §2.7)
# --------------------------------------------------------------------------

@register(
    "q_window_topn",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        FROM orders) t
    WHERE rk <= 3
    """,
    doc="Top-N per group via row_number window (deterministic tie-break).",
)
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_spend,
           ROUND(o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey
                                                        ORDER BY o_orderdate, o_orderkey), 2)
               AS delta_prev
    FROM orders
    WHERE o_custkey <= 100
    """,
    doc="Running sum + lag delta per customer (ordered analytic window).",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(run), 2).alias("running_spend"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
    )


@register(
    "q_order_limit",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="Global sort + limit (TakeOrderedAndProject — no full sort at scale).",
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Scalar expressions (SURVEY §2.3 P3/P5/P6)
# --------------------------------------------------------------------------

@register(
    "q_scalar_expressions",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name)                                   AS name_upper,
           LENGTH(c_name)                                  AS name_len,
           SUBSTR(c_name, 1, 8)                            AS name_prefix,
           REPLACE(c_mktsegment, 'A', '_')                 AS seg_norm,
           c_name || ':' || c_mktsegment                   AS name_seg,
           ROUND(ABS(c_acctbal), 1)                        AS abs_bal,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END                            AS bal_bucket,
           CAST(FLOOR(c_acctbal) AS BIGINT)                AS bal_int
    FROM customer
    WHERE c_custkey <= 500
    """,
    doc="Scalar function library: string ops, concat, case/when, casts — "
        "the reference's P5 normalizations as native expressions.",
)
def q_scalar_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer").where(F.col("c_custkey") <= 500)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("c_mktsegment", "A", "_").alias("seg_norm"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("name_seg"),
        F.round(F.abs("c_acctbal"), 1).alias("abs_bal"),
        F.when(F.col("c_acctbal") < 0, "debt")
         .when(F.col("c_acctbal") < 5000, "low")
         .otherwise("high").alias("bal_bucket"),
        # FLOOR before the cast: Spark's double->bigint truncates while
        # DuckDB's rounds; floor is unambiguous in both engines.
        F.floor("c_acctbal").cast("bigint").alias("bal_int"),
    )


@register(
    "q_date_functions",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT)    AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT)   AS mo,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           COUNT(*)                                       AS n,
           ROUND(SUM(o_totalprice), 2)                    AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="Date extraction/truncation (reference P6 date formatting as "
        "native functions).",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
    FROM events WHERE event_id <= 1000
    """,
    doc="Semi-structured JSON field extraction (reference S2 payload "
        "normalization as an engine primitive).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events").where(F.col("event_id") <= 1000)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "q_map_functions",
    oracle="""
    WITH m AS (SELECT event_id, event_type,
                      CAST(json_extract(props, '$.k') AS INT) AS k
               FROM events WHERE event_id <= 2000)
    SELECT event_type,
           COUNT(*)                 AS n,
           MIN(k)                   AS min_k,
           MAX(k)                   AS max_k,
           ROUND(AVG(k), 4)         AS avg_k
    FROM m GROUP BY event_type
    """,
    doc="MapType column path: JSON props parsed to map<string,int> with "
        "from_json, element access + aggregation over map values — the "
        "semi-structured column pattern (schema_of_json at design time, "
        "explicit map schema at run time).",
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events").where(F.col("event_id") <= 2000)
    m = e.select(
        "event_id", "event_type",
        F.from_json("props", "map<string,int>").alias("props_map"),
    )
    return (
        m.select("event_type", F.col("props_map")["k"].alias("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"),
             F.round(F.avg("k"), 4).alias("avg_k"))
    )


@register(
    "q_sql_not_in_null_semantics",
    oracle="""
    WITH probe AS (
        SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                    ELSE o_custkey END AS pk
        FROM orders),
    nulled AS (SELECT COUNT(*) AS n FROM customer
               WHERE c_custkey NOT IN (SELECT pk FROM probe)),
    cleaned AS (SELECT COUNT(*) AS n FROM customer
                WHERE c_custkey NOT IN (SELECT pk FROM probe
                                        WHERE pk IS NOT NULL)),
    anti_cnt AS (SELECT COUNT(*) AS n FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM probe p
                               WHERE p.pk = c.c_custkey))
    SELECT (SELECT n FROM nulled)  AS n_not_in_with_nulls,
           (SELECT n FROM cleaned) AS n_not_in_cleaned,
           (SELECT n FROM anti_cnt)    AS n_not_exists
    """,
    doc="Three-valued-logic contract of NOT IN vs NOT EXISTS under "
        "NULLs — the classic silent-wrong-answer trap in migrated "
        "SQL: a probe list containing even one NULL makes every "
        "``x NOT IN (list)`` predicate UNKNOWN (never TRUE), so the "
        "count collapses to 0, while NOT EXISTS / anti-join ignores "
        "the NULLs and returns the real complement. The query pins "
        "all three counts side by side (poisoned NOT IN, null-"
        "filtered NOT IN, NOT EXISTS) and both engines must agree on "
        "each. Plan shape: Spark compiles NOT IN to a null-aware "
        "anti join (broadcast at this scale) and NOT EXISTS to a "
        "plain left-anti hash join — the null-aware variant is the "
        "expensive one at 100 TB (it must check the whole build side "
        "for NULL), which is exactly why the cleaned/NOT EXISTS "
        "formulations are the recommended rewrite; this query is the "
        "standing receipt that the rewrite is semantics-preserving "
        "when (and only when) the probe side is null-filtered.",
)
def q_sql_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer")
    probe = o.select(
        F.when(F.col("o_orderkey") % 1000 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("pk"))
    return spark.sql("""
        WITH nulled AS (
            SELECT COUNT(*) AS n FROM {customer}
            WHERE c_custkey NOT IN (SELECT pk FROM {probe})),
        cleaned AS (
            SELECT COUNT(*) AS n FROM {customer}
            WHERE c_custkey NOT IN (SELECT pk FROM {probe}
                                    WHERE pk IS NOT NULL)),
        anti_cnt AS (
            SELECT COUNT(*) AS n FROM {customer} c
            WHERE NOT EXISTS (SELECT 1 FROM {probe} p
                              WHERE p.pk = c.c_custkey))
        SELECT (SELECT n FROM nulled)  AS n_not_in_with_nulls,
               (SELECT n FROM cleaned) AS n_not_in_cleaned,
               (SELECT n FROM anti_cnt)    AS n_not_exists
    """, customer=c, probe=probe)
