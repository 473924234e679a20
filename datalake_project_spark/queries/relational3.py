"""Relational surface, tranche 3: TPC-H-shaped multi-join analytics
adapted to the fixture star schema (no partsupp/shipmode/commitdate
columns — the query SHAPES are what's exercised: exists-subqueries,
two-sided dimension joins, conditional aggregation, having-over-join,
disjunctive bracket predicates, scalar-subquery + anti-join).

Scale notes per query are in the docstrings; the common theme: dimensions
broadcast, the fact table shuffles at most once (for its group-by), and
every filter lands in PushedFilters (tests/test_plans.py pins the star-
join pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import register


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS correlated subquery = left-semi join with "
        "a non-equi residual (l_shipdate > o_orderdate); one shuffle on "
        "orderkey, date filter pushed to the orders scan.",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = Catalog(spark, sf_dir).table("lineitem")
    hit = o.join(li, (o.o_orderkey == li.l_orderkey)
                 & (li.l_shipdate > o.o_orderdate), "left_semi")
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


@register(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: two-sided nation qualification (supplier AND "
        "customer dimension chains) with an OR-pair predicate; AQE "
        "broadcasts each join side that is small at runtime (all of them "
        "at test scale; orders degrades to shuffle join at 100 TB), and "
        "lineitem shuffles once for the final group-by.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer")
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation")
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    joined = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(s.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .where(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
               | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    )
    return (
        joined.groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           ROUND(SUM(CASE WHEN sn.n_name = 'NATION_1'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q8 shape: one nation's share of a region's market by year "
        "— six-way snowflake join feeding a conditional-aggregation ratio; "
        "nation/region broadcast by hint, the rest by AQE runtime size, "
        "and the fact table shuffles once.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    o = Catalog(spark, sf_dir).table("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    c = Catalog(spark, sf_dir).table("customer")
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation")
    r = Catalog(spark, sf_dir).table("region").where(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat1 = F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0))
    joined = (
        li.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("c_rk") == F.col("r_regionkey"))
        .join(s.select("s_suppkey", "s_nationkey"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(nat1) / F.sum(rev), 6).alias("mkt_share"))
    )


@register(
    "q10_returned_top",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: lost-revenue top-20 customers from returned "
        "items; deterministic (revenue DESC, custkey ASC) ordering; the "
        "returnflag + date filters both push to their scans. Revenue is "
        "summed as DECIMAL so the ranking/rounding is summation-order-"
        "independent (double sums differ in the last ulp across engines).",
)
def q10_returned_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp")))
    li = Catalog(spark, sf_dir).table("lineitem").where(F.col("l_returnflag") == "R")
    n = Catalog(spark, sf_dir).table("nation")
    return (
        li.join(o.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(c.select("c_custkey", "c_name", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                           .cast("decimal(18,6)")), 2)
             .cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14 shape: conditional aggregation ratio over a broadcast "
        "part join; a single global aggregate — zero-row-group-by, one "
        "partial/final reduction, no data shuffle.",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp")))
    p = Catalog(spark, sf_dir).table("part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4)
             .alias("promo_revenue_pct"))
    )


@register(
    "q18_big_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(t.sum_qty, 2)      AS sum_qty
    FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 180) t
    JOIN orders o   ON t.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: HAVING over a fact-table group-by feeding a "
        "dimension join — the aggregate runs FIRST so only qualifying "
        "orderkeys (a tiny set) join orders/customer (broadcast-able).",
)
def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("_sq"))
           .where(F.col("_sq") > 180))
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey", "c_name"),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("_sq", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_bracket_predicates",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive brackets across both "
        "join sides. Catalyst derives common prefilters (quantity/size "
        "ranges) pushed below the join; the OR residual evaluates post-"
        "join inside codegen.",
)
def q19_bracket_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    p = Catalog(spark, sf_dir).table("part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    br = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#21") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 40))
    )
    return j.where(br).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue"))


@register(
    "q22_idle_customers",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*)                 AS n_cust,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape: scalar subquery (global average, computed once "
        "and broadcast as a literal) + anti-join against recent orders — "
        "rich customers with no order since 1999, by segment.",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders")
    avg_bal = (c.where(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("avg_bal"))
            .drop("avg_bal"))
    recent = o.where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    idle = rich.join(recent.select("o_custkey"),
                     rich.c_custkey == F.col("o_custkey"), "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"))


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape: per-supplier revenue feeding a scalar MAX "
        "subquery over the same aggregate — the aggregate computes once "
        "and the max arrives as a broadcast literal (no second scan of "
        "the fact table).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    s = Catalog(spark, sf_dir).table("supplier")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    rev = rev.cache()  # reused by the scalar max and the final join
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    top = (rev.crossJoin(F.broadcast(mx))
           .where(F.col("total_revenue") == F.col("max_rev")))
    return (
        s.join(top, s.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated per-part average as the filter "
        "threshold — decorrelated into ONE window (avg over partkey) on "
        "the already-filtered fact rows joined to the brand's parts, "
        "instead of re-scanning lineitem per part.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = Catalog(spark, sf_dir).table("lineitem")
    p = Catalog(spark, sf_dir).table("part").where(F.col("p_brand") == "Brand#11")
    joined = li.join(p.select("p_partkey"),
                     li.l_partkey == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    flagged = joined.withColumn("_avg_qty", F.avg("l_quantity").over(w))
    return (
        flagged.where(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           day_no,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY day_no
               RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING), 2) AS window_spend
    FROM (SELECT o_orderkey, o_custkey, o_totalprice,
                 datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS day_no
          FROM orders)
    """,
    doc="RANGE-framed window (value bounds, not row counts): per customer, "
        "total spend within +/-30 days of each order. The frame is by the "
        "ORDER BY VALUE, so same-day orders share one frame — semantics "
        "ROWS frames cannot express; one shuffle on custkey.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.datediff(F.col("o_orderdate"),
                   F.lit("1995-01-01").cast("timestamp")).cast("long").alias("day_no"))
    w = (Window.partitionBy("o_custkey").orderBy("day_no")
         .rangeBetween(-30, 30))
    return o.select(
        "o_orderkey", "o_custkey", "day_no",
        F.round(F.sum("o_totalprice").over(w), 2).alias("window_spend"))


@register(
    "q_window_rank_family",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           ROUND(CUME_DIST()    OVER w, 6) AS cdist,
           NTILE(4)       OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    doc="The full ranking-function family over one window definition — "
        "ties handled by rank vs dense_rank, distribution stats by "
        "percent_rank/cume_dist, equi-depth bucketing by ntile; a single "
        "shuffle+sort on the partition key serves all five.",
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = Catalog(spark, sf_dir).table("customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (lang = 'en' AND doc_id % 2 = 0)
       OR (lang <> 'en' AND doc_id % 10 = 0)
    """,
    doc="Deterministic stratified sampling (training-data curation): keep "
        "50% of English docs and 10% of everything else by a key-modulus "
        "predicate — reproducible across runs/engines/cluster sizes "
        "(unlike rand()-based sample()), and the predicate pushes to the "
        "scan. At scale substitute pmod(xxhash64(key), 100) < rate for "
        "key-distribution independence.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    keep = (
        ((F.col("lang") == "en") & (F.col("doc_id") % 2 == 0))
        | ((F.col("lang") != "en") & (F.col("doc_id") % 10 == 0))
    )
    return d.where(keep).select("doc_id", "lang")


@register(
    "q_window_interval_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
           ROUND(SUM(o_totalprice) OVER w, 2) AS spend_trailing_30d
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING
                           AND CURRENT ROW)
    """,
    doc="Time-INTERVAL RANGE window frame: per customer, rolling count "
        "and spend over the trailing 30 calendar days of each order — "
        "ordered by the raw TIMESTAMP with an INTERVAL bound, not a "
        "precomputed day number (q_window_range_frame covers the "
        "numeric-bound variant; this pins the calendar-typed frame "
        "the SQL surface must accept, where month/day arithmetic "
        "can't be reduced to a constant integer offset in general). "
        "One shuffle+sort on the partition key serves both "
        "aggregates; RANGE frames evaluate by bound-seeking in the "
        "sorted run, so the frame cost is O(rows) amortized per "
        "partition regardless of frame width — the property that "
        "makes trailing-window features tractable at 100 TB. Ties on "
        "o_orderdate share a frame in BOTH engines by RANGE "
        "semantics, so results are order-deterministic without a "
        "tie-break column.",
)
def q_window_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_custkey") % 100 == 0)
    return spark.sql("""
        SELECT o_orderkey, o_custkey,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
               ROUND(SUM(o_totalprice) OVER w, 2) AS spend_trailing_30d
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING
                               AND CURRENT ROW)
    """, orders=o)


@register(
    "q_window_distinct_running",
    oracle="""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                   AS month,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1),
    firstm AS (
        SELECT o_custkey,
               MIN(strftime(date_trunc('month', o_orderdate), '%Y-%m'))
                   AS first_month
        FROM orders GROUP BY 1),
    news AS (
        SELECT first_month AS month, COUNT(*) AS n_new
        FROM firstm GROUP BY 1)
    SELECT m.month, m.n_orders,
           COALESCE(CAST((SELECT SUM(n.n_new) FROM news n
                          WHERE n.month <= m.month) AS BIGINT), 0)
               AS running_distinct_customers
    FROM m ORDER BY m.month
    """,
    doc="Running DISTINCT-customer count per order month — the "
        "COUNT(DISTINCT) OVER (ORDER BY month) window SQL defines "
        "but Spark does not implement. The scalable rewrite is the "
        "first-seen identity: a customer enters the running distinct "
        "count exactly once, in their FIRST month, so the expanding "
        "distinct count equals the cumulative sum of new-customer "
        "arrivals — two keyed aggregates (per-month orders, per-"
        "customer min month) and a cumulative fold over the BOUNDED "
        "month table (~84 rows), done as a broadcast <=-self-join "
        "rather than an empty-partition-spec window (the engine's "
        "standing discipline). At 100 TB the expensive parts stay "
        "map-side-combinable groupBys on o_custkey / month; nothing "
        "corpus-sized ever sorts globally — the naive dense_rank-"
        "over-everything workaround would.",
)
def q_window_distinct_running(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    month = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    m = (o.groupBy(month.alias("month"))
         .agg(F.count(F.lit(1)).alias("n_orders")))
    firstm = (o.groupBy("o_custkey")
              .agg(F.min(month).alias("first_month")))
    news = (firstm.groupBy(F.col("first_month").alias("nm"))
            .agg(F.count(F.lit(1)).alias("n_new")))
    return (m.join(F.broadcast(news), F.col("nm") <= F.col("month"),
                   "left")
            .groupBy("month")
            .agg(F.any_value("n_orders").alias("n_orders"),
                 F.coalesce(F.sum("n_new"), F.lit(0)).cast("long")
                 .alias("running_distinct_customers"))
            .orderBy("month"))
