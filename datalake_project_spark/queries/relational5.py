"""Relational surface, tranche 5: the five TPC-H shapes that complete
the 22-query battery (Q2, Q5, Q11, Q12, Q16; Q6 lives in tranche 1 as
``q6_revenue_forecast``), adapted to the fixture star schema. The fixture has no partsupp table, so Q2/Q11/Q16 derive the
part-supplier relation from lineitem (distinct (l_partkey, l_suppkey)
pairs with MIN(l_extendedprice / l_quantity) as the unit-cost proxy) —
the query SHAPES (correlated scalar-min subquery, same-nation join
chain, relative-threshold HAVING, conditional counts, NOT-IN +
count-distinct) are what's exercised.

Cross-engine determinism notes: the Q2 unit cost is MIN over per-row
IEEE divisions — exact and summation-order-independent, so the
correlated ``cost = min(cost)`` equality is bit-identical in Spark and
DuckDB (an AVG-based cost would be order-dependent). Conditional counts
in Q12 use COUNT(CASE ...) not SUM(CASE ...) so the DuckDB oracle stays
BIGINT (SUM over INTEGER promotes to HUGEINT, which the driver's hasher
can't match — the round-2 lesson, linted by tests/test_registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import register


def _deletion_neighborhood(col, width: int, depth: int):
    """FastSS deletion neighborhood (Bocek et al. 2007) of a fixed-width
    string column as an array expression: every string obtainable by
    REMOVING up to ``depth`` characters (depth 2 over width 9 -> 1 + 9 +
    36 = 46 variants). Lossless blocking key set for levenshtein <=
    depth: an optimal alignment with s substitutions, d deletions, i
    insertions (s+d+i <= depth) leaves a common subsequence reachable by
    deleting s+d chars from one side and s+i from the other — every edit
    shape, including the insert+delete window shifts that same-position
    MASK keys ('_' placeholders) provably miss. Variant length encodes
    deletion count, so a single string-equality join covers all depth
    pairings (required for unequal-length pairs). Constant fanout:
    shuffle bytes per record do not grow with n."""
    variants = [col]  # depth 0
    variants += [F.concat(F.substring(col, 1, i),
                          F.substring(col, i + 2, width - i - 1))
                 for i in range(width)]
    if depth >= 2:
        variants += [F.concat(F.substring(col, 1, i),
                              F.substring(col, i + 2, j - i - 1),
                              F.substring(col, j + 2, width - j - 1))
                     for i in range(width) for j in range(i + 1, width)]
    # repeated characters (digit runs) make distinct deletion positions
    # collapse to the same variant — dedup per record so the exploded
    # key stream (and with it join multiplicity ahead of the pair
    # distinct) doesn't carry redundant copies
    return F.array_distinct(F.array(*variants))


def _bounded_key_sample(df: DataFrame, key_col: str,
                        min_mod: int, target_keys: int) -> DataFrame:
    """Deterministic FIXED-SIZE key sample: rows with key ≡ 1 mod q,
    q = GREATEST(min_mod, CEIL(n / target_keys)). A fixed-FRACTION
    sample (constant modulus) keeps O(n²) pair mass in any
    sample-side self-join — the 100x ladder measured the FS
    u-sample's 1/8 keys at ~700M comparator pairs and a
    broadcast-build OOM; scaling the modulus caps the sampled keys
    at ~target_keys so sample pair volume is CONSTANT in n.
    min_mod pins sf<=0.1 behavior bit-identical to the historic
    constant modulus. CEIL over one exact IEEE division is
    engine-deterministic (no log2/pow — transcendentals could round
    a boundary differently across engines). The count rides a
    broadcast 1-row crossJoin, so the sample is still one lazy DAG."""
    n = df.agg(F.count(F.lit(1)).alias("_n_rows"))
    q = F.greatest(F.lit(min_mod),
                   F.ceil(F.col("_n_rows") / float(target_keys))
                   ).cast("long")
    return (df.crossJoin(F.broadcast(n))
            .where(F.col(key_col) % q == 1).drop("_n_rows"))


def _attr_side(dim: DataFrame, sf_dir: str,
               table: str = "customer") -> DataFrame:
    """Attribute side of a candidate-key re-join, with the join
    strategy gated on the dim's on-disk FOOTPRINT instead of Spark's
    compressed-size estimate. Parquet under-estimates the built hash
    relation ~10-20x on narrow string tables, so a dim that reads as
    19 MB (under the 64 MB autoBroadcastJoinThreshold) builds to a
    few hundred MB — twice, for left+right attributes — and the
    exploded variant self-join inherits the same pre-explode estimate
    while actually building 3.9 GiB: the 100x ladder leg died in
    BroadcastExchangeExec ('Not enough memory to build and
    broadcast'). Above 1 MB compressed the re-join and the self-join
    pin sort-merge via hint — the gate is MEASURED, not defensive:
    the r8 ladder A/B showed SMJ strictly faster at every rung
    (FS 16.5 vs 24.6 s at 10x, 34.8 vs 61.2 at 30x, 54.3 vs 101.7
    at 60x; spill 36 MB vs 183 MB at 30x) because probing a
    multi-hundred-MB broadcast hash relation from a 46x-fanout
    stream costs more than shuffling the bounded candidate keys, and
    a single plan across the ladder makes the shuffle exponents
    directly comparable (1.02/0.89/1.00/1.00 — no strategy-flip leg
    to adjudicate). Below 1 MB (sf <= 0.1, the bench/gate scales)
    broadcast stays — plans and timings there are unchanged."""
    from datalake_project_spark.tuning import dir_bytes

    if dir_bytes(f"{sf_dir}/{table}.parquet") > (1 << 20):
        return dim.hint("merge")
    return dim


def _unit_cost(li: DataFrame) -> DataFrame:
    """lineitem-derived partsupp stand-in: per (part, supplier) the
    minimum observed unit price. MIN of exact per-row divisions — no
    summation-order sensitivity across engines."""
    return (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                 .alias("unit_cost")))


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ), eu AS (
        SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
               s.s_acctbal, s.s_name, n.n_name
        FROM cost c
        JOIN supplier s ON c.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
           ROUND(e.unit_cost, 2) AS unit_cost
    FROM part p JOIN eu e ON p.p_partkey = e.l_partkey
    WHERE p.p_size IN (5, 15, 25, 35, 45) AND p.p_type IN ('LARGE', 'SMALL')
      AND e.unit_cost = (SELECT MIN(e2.unit_cost) FROM eu e2
                         WHERE e2.l_partkey = p.p_partkey)
    """,
    doc="TPC-H Q2 shape: correlated scalar-MIN subquery (cheapest "
        "regional supplier per part) over the lineitem-derived partsupp "
        "relation. Spark plan: per-part min as a groupBy re-joined on "
        "(partkey, unit_cost) — one shuffle on partkey reused by both "
        "the min and the equality join; dims broadcast.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation")
    r = Catalog(spark, sf_dir).table("region").where(F.col("r_name") == "EUROPE")
    p = Catalog(spark, sf_dir).table("part").where(
        F.col("p_size").isin(5, 15, 25, 35, 45)
        & F.col("p_type").isin("LARGE", "SMALL"))
    eu = (_unit_cost(li)
          .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
          .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
          .select("l_partkey", "unit_cost", "s_acctbal", "s_name", "n_name"))
    best = eu.groupBy("l_partkey").agg(F.min("unit_cost").alias("unit_cost"))
    return (eu.join(best, ["l_partkey", "unit_cost"])
            .join(F.broadcast(p), eu.l_partkey == p.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
                    F.round("unit_cost", 2).alias("unit_cost")))


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: same-nation customer/supplier chain (the join "
        "carries BOTH an equi-key and the c_nationkey = s_nationkey "
        "residual) under a region filter; lineitem shuffles once on "
        "orderkey, every dimension broadcasts.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = Catalog(spark, sf_dir).table("lineitem")
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation")
    r = Catalog(spark, sf_dir).table("region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH value AS (
        SELECT l_partkey, SUM(l_extendedprice * (1 - l_discount)) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
        GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, ROUND(val, 2) AS part_value
    FROM value
    WHERE val > (SELECT SUM(val) * 0.001 FROM value)
    """,
    doc="TPC-H Q11 shape: relative-threshold HAVING — per-part value "
        "filtered against a scalar subquery over the SAME aggregate. "
        "Spark plan: the per-part aggregate is computed once, the global "
        "total derived from it as a 1-row broadcast cross join (no "
        "second scan, no collect).",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation").where(F.col("n_name") == "NATION_7")
    value = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("val"))
    )
    total = value.agg((F.sum("val") * 0.001).alias("threshold"))
    return (value.crossJoin(F.broadcast(total))
            .where(F.col("val") > F.col("threshold"))
            .select(F.col("l_partkey").alias("partkey"),
                    F.round("val", 2).alias("part_value")))


@register(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12 shape: conditional counts over a fact-fact join "
        "(priority-class split per return flag; the fixture has no "
        "l_shipmode so l_returnflag is the grouping dimension). "
        "COUNT(CASE), not SUM(CASE): DuckDB's SUM over INTEGER is "
        "HUGEINT, the round-2 hash-fail class.",
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    li = Catalog(spark, sf_dir).table("lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.when(high, 1)).alias("high_line_count"),
                 F.count(F.when(~high, 1)).alias("low_line_count")))


@register(
    "q16_supplier_relationship",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%7')
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 shape: NOT IN anti-join against a filtered supplier "
        "list + COUNT(DISTINCT) per part descriptor over the lineitem-"
        "derived part-supplier relation. The excluded-supplier side is "
        "tiny and broadcast; distinct-count shuffles once on the "
        "(brand, type, size) grouping key.",
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir).table("part").where(
        (F.col("p_brand") != "Brand#3") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45))
    li = Catalog(spark, sf_dir).table("lineitem")
    bad = Catalog(spark, sf_dir).table("supplier").where(
        F.col("s_name").like("%7")).select("s_suppkey")
    return (li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                    "left_anti")
            .join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@register(
    "q_basket_pairs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, COUNT(*) AS support
    FROM pairs
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    """,
    doc="Market-basket co-occurrence (the candidate-pair pass of frequent-"
        "itemset mining): part pairs appearing together in >= 2 orders. "
        "Self-join keyed on the order id — cost is Σ per-order "
        "basket_size², never |parts|²; at 100 TB skewed mega-baskets get "
        "the same df-cap valve as the shingle index (drop or sample "
        "baskets above a size cap before pairing).",
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    # the distinct basket index feeds both join sides: one shuffle, not
    # two (lazy localCheckpoint, the inverted-index discipline)
    items = li.select("l_orderkey", "l_partkey").distinct() \
        .localCheckpoint(eager=False)
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part_a"),
                 F.col("b.l_partkey").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
    )


@register(
    "q_customer_rfm",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey)
    SELECT custkey, STRFTIME(last_order, '%Y-%m-%d') AS last_order,
           frequency, monetary,
           CASE WHEN last_order >= DATE '1998-01-01'
                     AND frequency >= 10 AND monetary >= 1000000 THEN 'champion'
                WHEN last_order >= DATE '1997-01-01' AND frequency >= 5 THEN 'loyal'
                WHEN last_order <  DATE '1995-01-01' THEN 'lapsed'
                ELSE 'regular' END AS segment
    FROM rfm
    """,
    doc="RFM customer segmentation (recency / frequency / monetary): one "
        "groupBy computes all three signals with map-side partials, and "
        "fixed threshold CASE rules assign deterministic segments "
        "(quantile-based tiers would be engine-tie-dependent; thresholds "
        "are the reproducible formulation). The standard warehouse "
        "segmentation query over the orders table.",
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    rfm = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.max(F.to_date("o_orderdate")).alias("last_order"),
                F.count(F.lit(1)).alias("frequency"),
                F.round(F.sum("o_totalprice"), 2).alias("monetary")))
    seg = (F.when((F.col("last_order") >= F.lit("1998-01-01"))
                  & (F.col("frequency") >= 10)
                  & (F.col("monetary") >= 1000000), "champion")
           .when((F.col("last_order") >= F.lit("1997-01-01"))
                 & (F.col("frequency") >= 5), "loyal")
           .when(F.col("last_order") < F.lit("1995-01-01"), "lapsed")
           .otherwise("regular"))
    return rfm.select(
        "custkey",
        F.date_format("last_order", "yyyy-MM-dd").alias("last_order"),
        "frequency", "monetary", seg.alias("segment"))


@register(
    "q_record_linkage",
    oracle="""
    SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
           levenshtein(a.c_name, b.c_name) AS name_dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Record linkage / entity resolution: candidate duplicate-entity "
        "pairs by edit distance <= 1 on the name, within nation. The "
        "blocker (vs the r6 judge's scale-killer: nation-only = 25 "
        "blocks = n²/25 pairs, ~90 B levenshtein calls at 100×) is the "
        "TRUE FastSS 1-DELETION NEIGHBORHOOD over the name's 9-digit "
        "identifier block: each record explodes 10 keys — the block "
        "itself plus the 9 strings with one character REMOVED (r8: "
        "real deletions, not '_' position masks, so insert/delete "
        "shapes on variable-width data are covered too, and variant "
        "length encodes depth so one string-equality join pairs depth "
        "0 with depth 1). Any pair within levenshtein <= 1 shares a "
        "variant (FastSS: s+d <= 1 deletions on one side, s+i <= 1 on "
        "the other reach the alignment's common subsequence): "
        "candidate generation is LOSSLESS for the <=1 predicate, and "
        "the oracle deliberately stays the unblocked spec (all "
        "same-nation pairs) — the value-hash gate is a standing proof "
        "of losslessness, not just of the comparator. Candidates stay "
        "~n·k (measured: the nation-only join's 4.5 M sf0.1 pairs "
        "drop to ~10 k) and the explode factor is a CONSTANT 10 — "
        "shuffle bytes per record do not grow with n. The fanout "
        "carries KEYS ONLY (custkey, nation, variant); names re-join "
        "on the primary key after the pair distinct, matching the "
        "Fellegi-Sunter twin's shape.",
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    # FastSS 1-deletion neighborhood over the 9-digit suffix (name
    # chars 10..18): 10 variants (0 or 1 char removed), constant fanout
    segs = c.select(F.col("c_custkey").alias("k"),
                    F.col("c_nationkey").alias("_n"),
                    F.explode(_deletion_neighborhood(
                        F.substring("c_name", 10, 9), 9, 1)).alias("seg"))
    a = segs.select(F.col("k").alias("left_key"), "_n", "seg")
    # self-join never broadcasts (see q_linkage_fellegi_sunter: the
    # exploded key stream's estimate rides the compressed scan)
    b = _attr_side(
        segs.select(F.col("k").alias("right_key"), "_n", "seg"), sf_dir)
    cand = (a.join(b, ["_n", "seg"])
            .where(F.col("left_key") < F.col("right_key"))
            .select("left_key", "right_key").distinct())
    ln = _attr_side(c.select(F.col("c_custkey").alias("left_key"),
                             F.col("c_name").alias("_ln")), sf_dir)
    rn = _attr_side(c.select(F.col("c_custkey").alias("right_key"),
                             F.col("c_name").alias("_rn")), sf_dir)
    return (cand.join(ln, "left_key").join(rn, "right_key")
            .withColumn("name_dist", F.levenshtein("_ln", "_rn"))
            .where(F.col("name_dist") <= 1)
            .select("left_key", "right_key", "name_dist"))


@register(
    "q_sql_entrypoint_q1",
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
    doc="The spark.sql STRING entrypoint as a driver-checkable row: the "
        "engine's second API (Catalog.sql over registered temp views) "
        "runs the TPC-H Q1 text through Spark's SQL parser/analyzer and "
        "must hash-match the same oracle as the DataFrame formulation "
        "(q1_pricing_summary) — one namespace, two APIs, one plan.",
)
def q_sql_entrypoint_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Catalog(spark, sf_dir).sql("""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 2)                                       AS avg_qty,
               ROUND(AVG(l_extendedprice), 2)                                  AS avg_price,
               ROUND(AVG(l_discount), 4)                                       AS avg_disc,
               COUNT(*)                                                        AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """)


@register(
    "q_sql_scalar_udf",
    oracle="""
    SELECT CASE WHEN l_tax < 0.03 THEN 'low'
                WHEN l_tax < 0.06 THEN 'mid'
                ELSE 'high' END AS tax_bucket,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY 1
    """,
    doc="SQL-defined scalar UDFs (Spark 4 'CREATE TEMPORARY FUNCTION "
        "... RETURNS ... RETURN <expr>'): disc_price and tax_bucket are "
        "declared in SQL and used from a SQL query over the registered "
        "views — the governed-UDF surface that lets analysts share "
        "logic WITHOUT Python: the body is a catalyst EXPRESSION, so "
        "it inlines into whole-stage codegen (zero serialization "
        "boundary, unlike any Python UDF) and predicate/column pruning "
        "see through it. The oracle states the inlined expressions "
        "verbatim, proving the UDF layer adds no semantic drift.",
)
def q_sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION tax_bucket(t DOUBLE)
        RETURNS STRING RETURN CASE WHEN t < 0.03 THEN 'low'
                                   WHEN t < 0.06 THEN 'mid'
                                   ELSE 'high' END
    """)
    return cat.sql("""
        SELECT tax_bucket(l_tax) AS tax_bucket,
               COUNT(*) AS n_items,
               ROUND(SUM(disc_price(l_extendedprice, l_discount)), 2)
                   AS revenue
        FROM lineitem
        GROUP BY tax_bucket(l_tax)
    """)


@register(
    "q_sql_identifier_param",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    doc="Parameterized SQL + the IDENTIFIER() clause (Spark 4): table "
        "and column names arrive as named PARAMETERS (spark.sql(..., "
        "args={...})) and bind through IDENTIFIER(:name), values "
        "through plain :name — the injection-safe way to template the "
        "per-table jobs the reference builds with f-strings "
        "(script_api_apify_to_spark.py interpolates table names "
        "directly into SQL text; one hostile account name away from "
        "SQL injection). IDENTIFIER resolves at analysis time, so the "
        "plan is byte-identical to the literal query — pruning, "
        "pushdown, and codegen are unaffected; the oracle states the "
        "resolved query verbatim.",
)
def q_sql_identifier_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp_col) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(IDENTIFIER(:val_col)), 2) AS total
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp_col)
        """,
        args={"grp_col": "o_orderpriority",
              "val_col": "o_totalprice", "tbl": "orders"})


@register(
    "q_null_semantics",
    oracle="""
    WITH t AS (
        SELECT o_custkey,
               NULLIF(o_orderpriority, '3-MEDIUM') AS prio_or_null,
               CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price_n
        FROM orders),
    agg AS (
        SELECT prio_or_null,
               COUNT(*) AS n_rows,
               COUNT(price_n) AS n_price_nonnull,
               ROUND(SUM(COALESCE(price_n, 0)), 2) AS total_coalesced
        FROM t GROUP BY prio_or_null),
    nullsafe AS (
        SELECT COUNT(*) AS n_nullsafe_eq
        FROM t a JOIN t b
          ON a.o_custkey = b.o_custkey
         AND a.prio_or_null IS NOT DISTINCT FROM b.prio_or_null)
    SELECT agg.prio_or_null, agg.n_rows, agg.n_price_nonnull,
           agg.total_coalesced, ns.n_nullsafe_eq
    FROM agg CROSS JOIN nullsafe ns
    """,
    doc="NULL-semantics battery in one query: NULLIF-produced nulls as a "
        "group key (NULL forms its own group), COUNT(col) vs COUNT(*) "
        "under nulls, COALESCE in aggregation, and a null-safe equality "
        "join (Spark <=> == SQL IS NOT DISTINCT FROM, which matches "
        "NULL to NULL where = would drop the row). Three-valued logic "
        "is where engines silently diverge; this stamps the engine's "
        "behavior against the standard.",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    t = o.select(
        "o_custkey",
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio_or_null"),
        F.when(F.col("o_custkey") % 7 == 0, None)
        .otherwise(F.col("o_totalprice")).alias("price_n"))
    agg = (t.groupBy("prio_or_null")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.count("price_n").alias("n_price_nonnull"),
                F.round(F.sum(F.coalesce("price_n", F.lit(0.0))), 2)
                .alias("total_coalesced")))
    a, b = t.alias("a"), t.alias("b")
    ns = (a.join(b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
                 & F.col("a.prio_or_null").eqNullSafe(F.col("b.prio_or_null")))
          .agg(F.count(F.lit(1)).alias("n_nullsafe_eq")))
    return agg.crossJoin(F.broadcast(ns))


@register(
    "q_decimal_money",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
               AS exact_total,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact money arithmetic: totals aggregated as DECIMAL(18,2), not "
        "double — decimal SUM is exact and association-order-independent, "
        "so the stringified total is bit-identical on any engine, any "
        "partitioning, any cluster size (the property float rounding "
        "only approximates). The column every revenue pipeline should be "
        "in; emitted as VARCHAR so the cross-engine comparison is on the "
        "exact digits, not on precision-differing decimal types.",
)
def q_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("string").alias("exact_total"),
                 F.count(F.lit(1)).alias("n_orders")))


@register(
    "q_window_lead_lag_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(LAG(o_totalprice, 1) OVER w, 2)  AS prev_price,
           ROUND(LEAD(o_totalprice, 1) OVER w, 2) AS next_price,
           ROUND(FIRST_VALUE(o_totalprice) OVER w_full, 2) AS first_price,
           ROUND(LAST_VALUE(o_totalprice) OVER w_full, 2)  AS last_price,
           ROUND(NTH_VALUE(o_totalprice, 2) OVER w_full, 2) AS second_price
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w_full AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="Navigation-function battery: LAG/LEAD plus FIRST/LAST/NTH_VALUE "
        "over an EXPLICIT unbounded frame — last_value's default frame "
        "(RANGE ... CURRENT ROW) is the classic silent-wrong-answer "
        "trap, so the frame is pinned on both engines. Total order "
        "(o_orderdate, o_orderkey) makes every navigation value "
        "engine-exact; one shuffle serves all five functions.",
)
def q_window_lead_lag_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    p = F.col("o_totalprice")
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.lag(p, 1).over(w), 2).alias("prev_price"),
        F.round(F.lead(p, 1).over(w), 2).alias("next_price"),
        F.round(F.first(p).over(w_full), 2).alias("first_price"),
        F.round(F.last(p).over(w_full), 2).alias("last_price"),
        F.round(F.nth_value(p, 2).over(w_full), 2).alias("second_price"))


@register(
    "q_stats_correlation",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(CORR(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
           ROUND(CORR(l_discount, l_extendedprice), 4) + 0.0 AS corr_disc_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) + 0.0 AS covar_qty_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 2) + 0.0 AS stddev_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Bivariate-statistics battery (the profiling pass a feature-"
        "engineering pipeline runs before training): Pearson "
        "correlation, sample covariance, and sample stddev per group, "
        "all as single-pass streaming aggregates (Spark and DuckDB "
        "both use one-pass co-moment updates) — one shuffle, map-side "
        "partials, no second scan. Rounded on both sides so "
        "summation-order ulps don't flip the hash.",
)
def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4)
         + F.lit(0.0)).alias("corr_qty_price"),
        (F.round(F.corr("l_discount", "l_extendedprice"), 4)
         + F.lit(0.0)).alias("corr_disc_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
         + F.lit(0.0)).alias("covar_qty_price"),
        (F.round(F.stddev_samp("l_extendedprice"), 2)
         + F.lit(0.0)).alias("stddev_price"))


@register(
    "q_udaf_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
               + 0.0 AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="User-defined AGGREGATE surface (SURVEY §2.8 — the reference "
        "has none): quantity-weighted mean price per return flag via an "
        "Arrow-batched grouped-agg pandas UDF "
        "(functions/udx.make_weighted_avg_udaf). The oracle recomputes "
        "it as plain SQL, and tests/test_udx.py additionally proves "
        "parity with the native sum(v*w)/sum(w) expression — the UDAF "
        "template for semantics Catalyst can't express, carrying the "
        "same native-parity discipline as the gender UDF.",
)
def q_udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.udx import make_weighted_avg_udaf

    wavg = make_weighted_avg_udaf()
    li = Catalog(spark, sf_dir).table("lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(wavg(F.col("l_extendedprice"), F.col("l_quantity")), 4)
         + F.lit(0.0)).alias("wavg_price"))


@register(
    "q_winsorize",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS rk,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
    cuts AS (
        SELECT l_returnflag,
               MAX(CASE WHEN rk = CAST(FLOOR((n - 1) * 0.01) AS BIGINT) + 1
                        THEN v END) AS p01,
               MAX(CASE WHEN rk = CAST(FLOOR((n - 1) * 0.99) AS BIGINT) + 1
                        THEN v END) AS p99
        FROM ranked GROUP BY l_returnflag)
    SELECT r.l_returnflag,
           ROUND(c.p01, 2) AS p01,
           ROUND(c.p99, 2) AS p99,
           CAST(COUNT(CASE WHEN r.v < c.p01 THEN 1 END) AS BIGINT) AS n_below,
           CAST(COUNT(CASE WHEN r.v > c.p99 THEN 1 END) AS BIGINT) AS n_above,
           ROUND(SUM(LEAST(GREATEST(r.v, c.p01), c.p99)), 2) AS sum_winsorized
    FROM ranked r JOIN cuts c USING (l_returnflag)
    GROUP BY r.l_returnflag, c.p01, c.p99
    """,
    doc="Winsorization (robust-stats outlier clipping): per group, the "
        "EXACT 1st/99th order statistics (k = floor((n-1)*q)+1 — the "
        "same discrete-quantile formula on both engines, so no "
        "interpolation-convention mismatch), tail counts, and the sum "
        "after clamping to [p01, p99] — the feature-engineering "
        "normalization pass. One shuffle on the group key serves the "
        "ranking window, the cut extraction, and the final aggregate; "
        "the cuts table is group-count-sized and broadcasts.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = Catalog(spark, sf_dir).table("lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag", F.col("l_extendedprice").alias("v"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"))
    k01 = F.floor((F.col("n") - 1) * 0.01).cast("long") + 1
    k99 = F.floor((F.col("n") - 1) * 0.99).cast("long") + 1
    cuts = (ranked.groupBy("l_returnflag")
            .agg(F.max(F.when(F.col("rk") == k01, F.col("v"))).alias("p01"),
                 F.max(F.when(F.col("rk") == k99, F.col("v"))).alias("p99")))
    clamped = F.least(F.greatest(F.col("v"), F.col("p01")), F.col("p99"))
    return (ranked.join(F.broadcast(cuts), "l_returnflag")
            .groupBy("l_returnflag", F.round("p01", 2).alias("p01"),
                     F.round("p99", 2).alias("p99"))
            .agg(F.count(F.when(F.col("v") < F.col("p01"), 1)).cast("long")
                 .alias("n_below"),
                 F.count(F.when(F.col("v") > F.col("p99"), 1)).cast("long")
                 .alias("n_above"),
                 F.round(F.sum(clamped), 2).alias("sum_winsorized")))


@register(
    "q_revenue_concentration",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, SUM(o_totalprice) AS r
        FROM orders GROUP BY o_custkey),
    thr AS (SELECT quantile_cont(r, 0.9) AS p90 FROM rev)
    SELECT COUNT(*) AS n_customers,
           ROUND(thr.p90, 2) + 0.0 AS p90_revenue,
           CAST(COUNT(CASE WHEN r >= thr.p90 THEN 1 END) AS BIGINT)
               AS n_top_decile,
           ROUND(SUM(CASE WHEN r >= thr.p90 THEN r ELSE 0 END)
                 / SUM(r), 4) + 0.0 AS top_decile_share
    FROM rev CROSS JOIN thr
    GROUP BY thr.p90
    """,
    doc="Revenue concentration (Pareto check): the share of total "
        "revenue held by customers at or above the exact interpolated "
        "P90 of per-customer revenue. The threshold is ONE scalar "
        "(percentile as a broadcast 1-row aggregate — Spark percentile "
        "and DuckDB quantile_cont share the interpolated definition), "
        "so no global ranking window exists: per-customer revenue "
        "aggregates once, the scalar broadcasts, and the concentration "
        "is a conditional aggregate — the decile-share query at 100 TB "
        "without an ntile sort.",
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    rev = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    thr = rev.agg(F.percentile("r", F.lit(0.9)).alias("p90"))
    top = F.when(F.col("r") >= F.col("p90"), F.col("r"))
    return (rev.crossJoin(F.broadcast(thr))
            .groupBy("p90")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.count(top).alias("n_top_decile"),
                 (F.round(F.sum(F.coalesce(top, F.lit(0.0))) / F.sum("r"), 4)
                  + F.lit(0.0)).alias("top_decile_share"))
            .select("n_customers",
                    (F.round("p90", 2) + F.lit(0.0)).alias("p90_revenue"),
                    F.col("n_top_decile").cast("long").alias("n_top_decile"),
                    "top_decile_share"))


@register(
    "q_customer_cohort_ltv",
    oracle="""
    WITH first AS (
        SELECT o_custkey,
               MIN(CAST(EXTRACT(year FROM o_orderdate) AS INT)) AS cohort
        FROM orders GROUP BY o_custkey)
    SELECT f.cohort,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) - f.cohort AS age,
           COUNT(DISTINCT o.o_custkey) AS n_active,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
    doc="Cohort lifetime-value matrix (the revenue companion of "
        "q_events_retention's count triangle): customers cohorted by "
        "first-order year, revenue and active-customer count per "
        "(cohort, age) cell — the table LTV curves and payback windows "
        "read off. The cohort assignment is one keyed aggregate joined "
        "back to the facts (shuffle on custkey serves both sides); the "
        "matrix is years^2 cells, metadata-sized at any scale.",
)
def q_customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort"))
    return (o.join(first, "o_custkey")
            .groupBy("cohort",
                     (F.year("o_orderdate") - F.col("cohort")).alias("age"))
            .agg(F.countDistinct("o_custkey").alias("n_active"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


@register(
    "q_price_trend_regression",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand,
               CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS yr,
               l.l_extendedprice / l.l_quantity AS unit_price
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0)
    SELECT p_brand,
           COUNT(*) AS n_obs,
           ROUND(regr_slope(unit_price, yr), 4) + 0.0 AS slope,
           ROUND(regr_intercept(unit_price, yr), 2) + 0.0 AS intercept,
           ROUND(regr_r2(unit_price, yr), 4) + 0.0 AS r2
    FROM pts GROUP BY p_brand
    """,
    doc="Per-group OLS trend via the regr_* aggregate family "
        "(slope/intercept/R^2 of unit price over ship year per part "
        "brand): closed-form least squares as ONE grouped aggregate "
        "with map-side partials — the per-entity trend fit that at "
        "100 TB replaces a per-group model-fitting UDF with pure "
        "codegen (Spark and DuckDB share the regr_* definitions). "
        "Complements q_stats_correlation (corr/cov) with the "
        "predictive-fit statistics.",
)
def q_price_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    p = Catalog(spark, sf_dir).table("part")
    pts = (li.where(F.col("l_quantity") > 0)
           .join(F.broadcast(p.select("p_partkey", "p_brand")),
                 li.l_partkey == F.col("p_partkey"))
           .select("p_brand", F.year("l_shipdate").alias("yr"),
                   (F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("unit_price")))
    return (pts.groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 (F.round(F.regr_slope("unit_price", "yr"), 4)
                  + F.lit(0.0)).alias("slope"),
                 (F.round(F.regr_intercept("unit_price", "yr"), 2)
                  + F.lit(0.0)).alias("intercept"),
                 (F.round(F.regr_r2("unit_price", "yr"), 4)
                  + F.lit(0.0)).alias("r2")))


@register(
    "q_forecast_seasonal_naive",
    oracle="""
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
               SUM(CAST(o_totalprice AS DECIMAL(15, 2))) AS rev
        FROM orders GROUP BY 1, 2),
    j AS (
        SELECT cur.rev, ABS(cur.rev - prev.rev) AS err
        FROM m cur JOIN m prev
          ON prev.yr = cur.yr - 1 AND prev.mo = cur.mo),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(err / rev AS DECIMAL(38, 12))) AS ape,
               CAST(SUM(err) * 100 AS HUGEINT) AS cents
        FROM j)
    -- DuckDB's decimal AVG and division return DOUBLE, so the mean
    -- error is rounded half-up to the cent in integer cents (Spark
    -- rounds its exact decimal AVG half-up)
    SELECT n AS n_months,
           ROUND(ape / n, 4) + 0.0 AS mape,
           CAST((2 * cents + n) // (2 * n) AS DOUBLE) / 100 AS mae
    FROM s
    """,
    doc="Seasonal-naive forecast backtest (forecast month m = actual "
        "of month m minus one year) with MAPE/MAE over every month "
        "that has a year-ago observation: the baseline every real "
        "forecasting model must beat, and the zero-parameter sanity "
        "check on a revenue series. One monthly rollup (map-side "
        "partials) self-joined on the lag-12 key — the join is "
        "months^2-bounded metadata, never fact-table-sized.",
)
def q_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decimal sums and means are exact, so the result does not depend on
    # the order partials merge in (double sums put the sf0.01 mae, an
    # exact half cent, on either side of its rounding)
    o = Catalog(spark, sf_dir).table("orders")
    m = (o.groupBy(F.year("o_orderdate").alias("yr"),
                   F.month("o_orderdate").alias("mo"))
         .agg(F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("rev")))
    prev = m.select((F.col("yr") + 1).alias("yr"), F.col("mo"),
                    F.col("rev").alias("forecast"))
    err = F.abs(F.col("rev") - F.col("forecast"))
    j = m.join(prev, ["yr", "mo"])
    return j.agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(F.avg((err / F.col("rev")).cast("decimal(38,12)")), 4)
        .cast("double").alias("mape"),
        F.round(F.avg(err), 2).cast("double").alias("mae"))


@register(
    "q_market_concentration_hhi",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS r
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name, l.l_suppkey),
    tot AS (SELECT nation, SUM(r) AS t FROM rev GROUP BY nation)
    SELECT rev.nation,
           COUNT(*) AS n_suppliers,
           ROUND(SUM(POW(rev.r / tot.t, 2)) * 10000, 1) + 0.0 AS hhi
    FROM rev JOIN tot USING (nation)
    GROUP BY rev.nation
    """,
    doc="Market concentration per nation by the Herfindahl-Hirschman "
        "index (sum of squared supplier revenue shares x 10000 — "
        "the antitrust-threshold scale where < 1500 is competitive): "
        "two keyed aggregates (per-(nation, supplier) revenue with "
        "map-side partials, then per-nation totals joined back) and a "
        "closed-form share-square sum. The concentration diagnostic "
        "that pairs with q_revenue_concentration's decile share and "
        "q_skew_key_diagnostics' row-share table.",
)
def q_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    li, s, n = (cat.table(t) for t in ("lineitem", "supplier", "nation"))
    rev = (li.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                   li.l_suppkey == F.col("s_suppkey"))
           .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("r")))
    tot = rev.groupBy("nation").agg(F.sum("r").alias("t"))
    return (rev.join(tot, "nation")
            .groupBy("nation")
            .agg(F.count(F.lit(1)).alias("n_suppliers"),
                 (F.round(F.sum(F.pow(F.col("r") / F.col("t"), 2)) * 10000, 1)
                  + F.lit(0.0)).alias("hhi")))


@register(
    "q_orders_backlog_series",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               date_trunc('month', o_orderdate) AS placed_m,
               date_trunc('month', (SELECT MAX(l_shipdate) FROM lineitem l
                                    WHERE l.l_orderkey = o.o_orderkey))
                   AS shipped_m
        FROM orders o),
    spans AS (
        SELECT o_orderkey,
               unnest(generate_series(placed_m, shipped_m,
                                      INTERVAL 1 MONTH)) AS m
        FROM o WHERE shipped_m IS NOT NULL AND shipped_m >= placed_m)
    SELECT STRFTIME(m, '%Y-%m') AS month,
           COUNT(*) AS open_orders
    FROM spans GROUP BY m
    """,
    doc="Open-order backlog series: for every month, how many orders "
        "were placed but not yet fully shipped (open interval = order "
        "month .. max lineitem ship month) — the operations dashboard "
        "series. Same interval-coverage expansion as the exact-WAU "
        "query: each order explodes to the months it spans (sequence + "
        "explode, span-length-bounded), then one count per month — "
        "never a month-range theta-join of the fact table. The "
        "ship-month lookup is one keyed aggregate joined back "
        "(shuffle on orderkey serves both sides). Orders whose last "
        "ship month precedes the order month (possible in the "
        "synthetic fixture) are excluded identically on both "
        "engines.",
)
def q_orders_backlog_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    li = Catalog(spark, sf_dir).table("lineitem")
    shipped = li.groupBy("l_orderkey").agg(
        F.date_trunc("month", F.max("l_shipdate")).alias("shipped_m"))
    spans = (o.select("o_orderkey",
                      F.date_trunc("month", "o_orderdate").alias("placed_m"))
             .join(shipped, o.o_orderkey == shipped.l_orderkey)
             .where(F.col("shipped_m") >= F.col("placed_m"))
             .select(F.explode(F.sequence(
                 "placed_m", "shipped_m",
                 F.expr("INTERVAL 1 MONTH"))).alias("m")))
    return (spans.groupBy(F.date_format("m", "yyyy-MM").alias("month"))
            .agg(F.count(F.lit(1)).alias("open_orders")))


@register(
    "q_recs_item_knn",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey AS p, COUNT(*) AS n FROM items GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n12
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
    sym AS (
        SELECT pa AS p, pb AS q, n12 FROM pairs
        UNION ALL
        SELECT pb AS p, pa AS q, n12 FROM pairs),
    sim AS (
        SELECT s.p, s.q, s.n12 / sqrt(dp.n::DOUBLE * dq.n::DOUBLE) AS c
        FROM sym s
        JOIN deg dp ON dp.p = s.p
        JOIN deg dq ON dq.p = s.q)
    SELECT p AS part, q AS neighbor, ROUND(c, 6) + 0.0 AS cosine
    FROM sim
    QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY c DESC, q) <= 3
    """,
    doc="Item-item collaborative filtering: per-part top-3 most similar "
        "parts by co-purchase cosine n12/sqrt(n1*n2) — the "
        "recommendation step ON TOP of q_basket_pairs' raw support "
        "counts (same order-keyed self-join builds the pairs, so cost "
        "stays Σ basket², never |parts|²; min-support 2 prunes noise "
        "pairs before normalization). Neighbor selection is a window "
        "PARTITIONED by the anchor part (never a global ranking), and "
        "the tie-break orders by the raw cosine — bit-identical across "
        "engines because inputs are integers under IEEE sqrt/divide — "
        "then neighbor id, a total order.",
)
def q_recs_item_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    li = Catalog(spark, sf_dir).table("lineitem")
    # distinct basket index reused by the degree table and both join
    # sides: lazy localCheckpoint pays the distinct shuffle once
    items = li.select("l_orderkey", "l_partkey").distinct() \
        .localCheckpoint(eager=False)
    deg = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("pa"),
                      F.col("b.l_partkey").alias("pb"))
             .agg(F.count(F.lit(1)).alias("n12"))
             .where(F.col("n12") >= 2))
    sym = (pairs.select(F.col("pa").alias("p"), F.col("pb").alias("q"), "n12")
           .unionAll(pairs.select(F.col("pb").alias("p"),
                                  F.col("pa").alias("q"), "n12")))
    dp = deg.select(F.col("p"), F.col("n").alias("np"))
    dq = deg.select(F.col("p").alias("q"), F.col("n").alias("nq"))
    sim = (sym.join(dp, "p").join(dq, "q")
           .select("p", "q", (F.col("n12")
                              / F.sqrt(F.col("np").cast("double")
                                       * F.col("nq").cast("double")))
                   .alias("c")))
    w = Window.partitionBy("p").orderBy(F.col("c").desc(), "q")
    return (sim.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(F.col("p").alias("part"), F.col("q").alias("neighbor"),
                    (F.round("c", 6) + F.lit(0.0)).alias("cosine")))


@register(
    "q_orders_seasonal_index",
    oracle="""
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mon,
               SUM(o_totalprice) AS rev
        FROM orders GROUP BY yr, mon),
    avgm AS (SELECT mon, COUNT(*) AS n_years, AVG(rev) AS avg_rev,
                    SUM(rev) AS total_rev
             FROM m GROUP BY mon),
    tot AS (SELECT AVG(rev) AS overall FROM m)
    SELECT mon AS month, n_years,
           ROUND(total_rev, 2) + 0.0 AS total_rev,
           ROUND(avg_rev / tot.overall, 6) + 0.0 AS seasonal_index
    FROM avgm CROSS JOIN tot
    """,
    doc="Classical seasonal decomposition, the index step: each "
        "calendar month's average revenue across years divided by the "
        "overall monthly average — the multiplicative seasonal factor "
        "that q_forecast_seasonal_naive implicitly assumes and this "
        "makes explicit (index > 1 = peak month). Two keyed aggregates "
        "over a months-sized table plus a broadcast 1-row overall "
        "average — the corpus cost is one scan with month extraction "
        "fused in; no window anywhere.",
)
def q_orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    m = (o.groupBy(F.year("o_orderdate").alias("yr"),
                   F.month("o_orderdate").alias("mon"))
         .agg(F.sum("o_totalprice").alias("rev")))
    avgm = (m.groupBy("mon")
            .agg(F.count(F.lit(1)).alias("n_years"),
                 F.avg("rev").alias("avg_rev"),
                 F.sum("rev").alias("total_rev")))
    tot = m.agg(F.avg("rev").alias("overall"))
    # total (not mean) is displayed: a mean of month sums can land on a
    # half-cent rounding boundary and flip between engines
    return (avgm.crossJoin(F.broadcast(tot))
            .select(F.col("mon").alias("month"), "n_years",
                    (F.round("total_rev", 2) + F.lit(0.0)).alias("total_rev"),
                    (F.round(F.col("avg_rev") / F.col("overall"), 6)
                     + F.lit(0.0)).alias("seasonal_index")))


def _rfm_seg_sql(cutoff: str) -> str:
    """Segment CASE with recency thresholds relative to ``cutoff``
    (same rule shape as q_customer_rfm, made as-of-aware)."""
    return f"""CASE WHEN last_order >= DATE '{cutoff}' - INTERVAL 1 YEAR
                     AND frequency >= 5 THEN 'active'
                WHEN last_order >= DATE '{cutoff}' - INTERVAL 2 YEAR
                     THEN 'cooling'
                ELSE 'lapsed' END"""


@register(
    "q_customer_segment_migration",
    oracle=f"""
    WITH r97 AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS frequency
        FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY o_custkey),
    r99 AS (
        SELECT o_custkey AS custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_order,
               COUNT(*) AS frequency
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY o_custkey),
    s97 AS (SELECT custkey, {_rfm_seg_sql('1997-01-01')} AS seg FROM r97),
    s99 AS (SELECT custkey, {_rfm_seg_sql('1999-01-01')} AS seg FROM r99)
    SELECT COALESCE(s97.seg, 'new') AS segment_1997,
           s99.seg AS segment_1999,
           COUNT(*) AS n_customers
    FROM s99 LEFT JOIN s97 USING (custkey)
    GROUP BY segment_1997, segment_1999
    """,
    doc="Customer segment MIGRATION matrix: the as-of-aware RFM rules "
        "(recency thresholds relative to each cutoff) scored at two "
        "points in time, joined per customer — where q_customer_rfm "
        "answers 'who is what now', this answers 'who MOVED where' "
        "(active->lapsed flow is the churn alarm; new->active the "
        "activation rate). Two per-customer aggregates (the 1997 one "
        "scans a strict subset of the 1999 one), one keyed join, a "
        "segments^2-bounded output. Deterministic: fixed thresholds, "
        "no quantile tiers.",
)
def q_customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")

    def scored(cutoff: str) -> DataFrame:
        rfm = (o.where(F.col("o_orderdate")
                       < F.lit(cutoff).cast("timestamp"))
               .groupBy(F.col("o_custkey").alias("custkey"))
               .agg(F.max(F.to_date("o_orderdate")).alias("last_order"),
                    F.count(F.lit(1)).alias("frequency")))
        seg = (F.when((F.col("last_order")
                       >= F.add_months(F.lit(cutoff).cast("date"), -12))
                      & (F.col("frequency") >= 5), "active")
               .when(F.col("last_order")
                     >= F.add_months(F.lit(cutoff).cast("date"), -24),
                     "cooling")
               .otherwise("lapsed"))
        return rfm.select("custkey", seg.alias("seg"))

    s97 = scored("1997-01-01").withColumnRenamed("seg", "seg97")
    s99 = scored("1999-01-01").withColumnRenamed("seg", "seg99")
    return (s99.join(s97, "custkey", "left")
            .groupBy(F.coalesce("seg97", F.lit("new")).alias("segment_1997"),
                     F.col("seg99").alias("segment_1999"))
            .agg(F.count(F.lit(1)).alias("n_customers")))


@register(
    "q_orders_fulfillment_latency",
    oracle="""
    WITH lat AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                         CAST(MIN(l.l_shipdate) AS DATE)) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
    ranked AS (
        SELECT o_orderpriority, days,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY days, o_orderkey) AS rk,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM lat)
    SELECT o_orderpriority,
           MAX(n) AS n_orders,
           MAX(CASE WHEN rk = (n - 1) // 2 + 1 THEN days END) AS median_days,
           MAX(CASE WHEN rk = (n - 1) * 9 // 10 + 1 THEN days END) AS p90_days,
           ROUND(AVG(days), 4) + 0.0 AS mean_days
    FROM ranked GROUP BY o_orderpriority
    """,
    doc="Order-fulfillment latency SLA panel: days from order date to "
        "FIRST line shipment, with EXACT per-priority median and p90 "
        "by order statistics (k = floor((n-1)q)+1 over a total order — "
        "the q_winsorize discipline, so both engines pick the identical "
        "element; approx_percentile would be engine-dependent). One "
        "join + per-order min, then a priority-keyed ranking window "
        "(never single-partition) and conditional aggregation. The "
        "operations dashboard beside the backlog series.",
)
def q_orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir).table("orders")
    li = Catalog(spark, sf_dir).table("lineitem")
    lat = (li.join(o, li.l_orderkey == o.o_orderkey)
           .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
           .agg(F.min("l_shipdate").alias("first_ship"))
           .select("o_orderkey", "o_orderpriority",
                   F.datediff(F.to_date("first_ship"),
                              F.to_date("o_orderdate")).alias("days")))
    w = Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = (lat.withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(wn)))
    k_med = F.floor((F.col("n") - 1) * 0.5).cast("long") + 1
    k_p90 = F.floor((F.col("n") - 1) * 0.9).cast("long") + 1
    return (ranked.groupBy("o_orderpriority")
            .agg(F.max("n").cast("long").alias("n_orders"),
                 F.max(F.when(F.col("rk") == k_med, F.col("days")))
                 .alias("median_days"),
                 F.max(F.when(F.col("rk") == k_p90, F.col("days")))
                 .alias("p90_days"),
                 (F.round(F.avg("days"), 4) + F.lit(0.0)).alias("mean_days")))


@register(
    "q_supplier_scorecard",
    oracle="""
    SELECT s.s_name,
           COUNT(*) AS n_lines,
           COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS n_returned,
           ROUND(COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END)::DOUBLE
                 / COUNT(*), 6) + 0.0 AS return_rate,
           ROUND(AVG(DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))), 4)
               + 0.0 AS mean_ship_days,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    doc="Supplier scorecard — the vendor-performance mart: per "
        "supplier, line volume, return count/rate (l_returnflag='R'), "
        "mean order-to-ship days, and discounted revenue, in ONE "
        "grouped pass over the fact joined to orders (dates) and the "
        "broadcast supplier dim. COUNT(CASE) not SUM(CASE) for the "
        "return tally (the HUGEINT lesson); the rate divides the two "
        "counts so it is a ratio of ints rounded identically on both "
        "engines. At 100 TB: one fact shuffle on suppkey after the "
        "broadcast joins.",
)
def q_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    o = Catalog(spark, sf_dir).table("orders")
    s = Catalog(spark, sf_dir).table("supplier")
    ret = F.count(F.when(F.col("l_returnflag") == "R", 1))
    ship_days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 ret.alias("n_returned"),
                 (F.round(ret.cast("double") / F.count(F.lit(1)), 6)
                  + F.lit(0.0)).alias("return_rate"),
                 (F.round(F.avg(ship_days), 4) + F.lit(0.0))
                 .alias("mean_ship_days"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


@register(
    "q_json_variant",
    oracle="""
    WITH x AS (
        SELECT CAST(json_extract(props, '$.k') AS INT) AS k
        FROM events)
    SELECT k % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM x GROUP BY k_bucket
    """,
    doc="Semi-structured analytics through the Spark 4 VARIANT type: "
        "props parses ONCE into the binary variant encoding "
        "(parse_json), fields extract with typed variant_get — the "
        "modern engine path for JSON columns, where "
        "q_json_extract's get_json_object re-parses the string per "
        "access. At 100 TB the parse cost is paid once per row "
        "regardless of how many fields later stages pull, and the "
        "binary encoding pushes through shuffles; the aggregate here "
        "proves the typed round-trip end-to-end against the oracle's "
        "json_extract.",
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    v = e.select(F.parse_json("props").alias("v"))
    k = v.select(F.expr("variant_get(v, '$.k', 'int')").alias("k"))
    return (k.groupBy((F.col("k") % 10).alias("k_bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("long").alias("sum_k")))


@register(
    "q_transpose",
    oracle="""
    WITH m AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               COUNT(*)::DOUBLE AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) <= 1997
        GROUP BY yr)
    SELECT 'n_orders' AS key,
           MAX(CASE WHEN yr = 1995 THEN n_orders END) AS "1995",
           MAX(CASE WHEN yr = 1996 THEN n_orders END) AS "1996",
           MAX(CASE WHEN yr = 1997 THEN n_orders END) AS "1997"
    FROM m
    UNION ALL
    SELECT 'revenue',
           MAX(CASE WHEN yr = 1995 THEN revenue END),
           MAX(CASE WHEN yr = 1996 THEN revenue END),
           MAX(CASE WHEN yr = 1997 THEN revenue END)
    FROM m
    """,
    doc="Matrix transpose of a yearly-metrics table "
        "(DataFrame.transpose, Spark 4.0): metric rows become the key "
        "column, year values become columns — the reshape that "
        "completes the pivot/unpivot pair for the 'metrics as rows, "
        "periods as columns' report layout. Bounded by definition "
        "(transpose collects the index column to name the output "
        "columns, so it is a small-aggregate operation, never a "
        "corpus one); the oracle states the same reshape as "
        "conditional aggregation.",
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    m = (o.where(F.year("o_orderdate") <= 1997)
         .groupBy(F.year("o_orderdate").alias("yr"))
         .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
              F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    return m.transpose("yr")


@register(
    "q_unknown_member_join",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal >= 0)
    SELECT COALESCE(dim.c_mktsegment, 'UNKNOWN') AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue,
           COUNT(CASE WHEN dim.c_custkey IS NULL THEN 1 END)
               AS n_unmatched
    FROM orders o LEFT JOIN dim ON o.o_custkey = dim.c_custkey
    GROUP BY segment
    """,
    doc="Unknown-member dimension join — the warehouse pattern for "
        "late-arriving/incomplete dimensions: facts whose key misses "
        "the (filtered) customer dim don't vanish (inner join) or "
        "null-pollute the report; they land in an explicit 'UNKNOWN' "
        "member with their own tally, so revenue totals reconcile with "
        "the fact table exactly. LEFT join against the broadcast dim, "
        "COALESCE to the sentinel, one grouped pass — the n_unmatched "
        "column is the data-quality signal that feeds the referential "
        "check in q_data_quality_audit.",
)
def q_unknown_member_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    dim = (Catalog(spark, sf_dir).table("customer")
           .where(F.col("c_acctbal") >= 0)
           .select("c_custkey", "c_mktsegment"))
    return (o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "left")
            .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN"))
                     .alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.when(F.col("c_custkey").isNull(), 1))
                 .alias("n_unmatched")))


@register(
    "q_try_functions",
    oracle="""
    WITH x AS (SELECT o_orderkey AS k, o_totalprice AS p,
                      o_orderpriority AS s
               FROM orders WHERE o_orderkey < 100)
    SELECT k,
           CASE WHEN (k % 10) <> 0 THEN p / (k % 10) END AS safe_div,
           TRY_CAST(s AS DOUBLE) AS bad_cast,
           TRY_CAST(SUBSTR(s, 1, 1) AS BIGINT) AS prio_digit
    FROM x
    """,
    doc="Error-safe expression battery (try_divide / try_cast): under "
        "ANSI mode (the engine default) a divide-by-zero or malformed "
        "cast FAILS the job; the try_* family returns NULL instead — "
        "the difference between one bad row killing a 100 TB pipeline "
        "and it landing in a quarantine column. Three shapes: guarded "
        "division (NULL at zero divisors), a cast that always fails "
        "(priority strings -> DOUBLE), and one that partially succeeds "
        "(leading digit -> BIGINT). DuckDB lacks try_divide, so the "
        "oracle states the division guard as CASE — same values.",
)
def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").where(F.col("o_orderkey") < 100)
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.try_divide("o_totalprice", F.col("o_orderkey") % 10)
        .alias("safe_div"),
        F.expr("try_cast(o_orderpriority AS DOUBLE)").alias("bad_cast"),
        F.expr("try_cast(substr(o_orderpriority, 1, 1) AS BIGINT)")
        .alias("prio_digit"))


@register(
    "q_recs_coverage",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey AS p, COUNT(*) AS n FROM items GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n12
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
    sym AS (
        SELECT pa AS p, pb AS q, n12 FROM pairs
        UNION ALL
        SELECT pb AS p, pa AS q, n12 FROM pairs),
    sim AS (
        SELECT s.p, s.q, s.n12 / sqrt(dp.n::DOUBLE * dq.n::DOUBLE) AS c
        FROM sym s
        JOIN deg dp ON dp.p = s.p
        JOIN deg dq ON dq.p = s.q),
    topk AS (
        SELECT p, q FROM sim
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY c DESC, q) <= 3),
    uni AS (SELECT COUNT(*) AS n_parts FROM deg)
    SELECT uni.n_parts,
           (SELECT COUNT(DISTINCT p) FROM topk) AS n_anchors,
           (SELECT COUNT(DISTINCT q) FROM topk) AS n_recommended,
           ROUND((SELECT COUNT(DISTINCT q) FROM topk)::DOUBLE
                 / uni.n_parts, 6) + 0.0 AS catalog_coverage
    FROM uni
    """,
    doc="Recommender catalog coverage — the recsys health metric on "
        "top of q_recs_item_knn: what fraction of the purchasable "
        "catalog ever appears in ANY top-3 neighbor list (low coverage "
        "= popularity bias, the long tail never gets surfaced), plus "
        "how many anchor parts have recommendations at all. The "
        "neighbor lists are the EXACT q_recs_item_knn output (same "
        "registered function), reduced to three distinct-count "
        "aggregates over the per-part-bounded top-k table.",
)
def q_recs_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.queries import REGISTRY

    li = Catalog(spark, sf_dir).table("lineitem")
    topk = REGISTRY["q_recs_item_knn"].fn(spark, sf_dir)
    uni = (li.select("l_partkey").distinct()
           .agg(F.count(F.lit(1)).alias("n_parts")))
    stats = topk.agg(F.countDistinct("part").alias("n_anchors"),
                     F.countDistinct("neighbor").alias("n_recommended"))
    return (uni.crossJoin(F.broadcast(stats))
            .select("n_parts", "n_anchors", "n_recommended",
                    (F.round(F.col("n_recommended").cast("double")
                             / F.col("n_parts"), 6)
                     + F.lit(0.0)).alias("catalog_coverage")))


@register(
    "q_pricing_integrity_audit",
    oracle="""
    WITH up AS (
        SELECT l_partkey,
               COUNT(*) AS n_lines,
               MIN(l_extendedprice / l_quantity) AS min_unit,
               MAX(l_extendedprice / l_quantity) AS max_unit
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_partkey)
    SELECT l_partkey AS partkey, n_lines,
           CAST(FLOOR(10000 * min_unit) AS BIGINT) AS min_unit_e4,
           CAST(FLOOR(10000 * max_unit) AS BIGINT) AS max_unit_e4,
           CAST(FLOOR(10000 * max_unit / min_unit) AS BIGINT)
               AS dispersion_bp
    FROM up
    ORDER BY max_unit / min_unit DESC, l_partkey LIMIT 10
    """,
    doc="Pricing-integrity audit: per-part unit-price dispersion "
        "(max/min of extendedprice/quantity across its order lines) — "
        "the worst-10 panel that catches unit errors, currency mixups, "
        "or broken discount application in a fact table (a part "
        "selling at 3x its own unit price on another line is a data "
        "bug or a story). One grouped pass over the fact with the "
        "quantity guard pushed to the scan, TakeOrderedAndProject for "
        "the panel. The dispersion reports as FLOORed basis points: "
        "the ratio double is bit-identical on both engines (same "
        "element divisions, same min/max selection), so floor is "
        "deterministic where ROUND's half-way tie-breaking is not — "
        "measured: half-ulp ROUND divergences at 4 dp (unit prices "
        "are 2-dp decimals over integer quantities, so exact half-way "
        "values are COMMON, not rare). All three metrics report as "
        "FLOORed 1e4-scaled integers.",
)
def q_pricing_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem").where(F.col("l_quantity") > 0)
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    up = (li.groupBy(F.col("l_partkey").alias("partkey"))
          .agg(F.count(F.lit(1)).alias("n_lines"),
               F.min(unit).alias("min_unit"),
               F.max(unit).alias("max_unit")))
    return (up.select(
        "partkey", "n_lines",
        F.floor(10000 * F.col("min_unit")).cast("long").alias("min_unit_e4"),
        F.floor(10000 * F.col("max_unit")).cast("long").alias("max_unit_e4"),
        F.floor(10000 * F.col("max_unit") / F.col("min_unit"))
        .cast("long").alias("dispersion_bp"),
        (F.col("max_unit") / F.col("min_unit")).alias("_o"))
        .orderBy(F.desc("_o"), "partkey").limit(10).drop("_o"))


@register(
    "q_recursive_month_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
        FROM orders
    ),
    cal AS (
        SELECT lo AS month_start, hi FROM bounds
        UNION ALL
        SELECT CAST(month_start + INTERVAL 1 MONTH AS DATE), hi
        FROM cal WHERE month_start < hi
    ),
    rev AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT strftime(c.month_start, '%Y-%m') AS month,
           COALESCE(rev.n_orders, 0) AS n_orders,
           COALESCE(rev.revenue, 0.0) AS revenue
    FROM cal c LEFT JOIN rev ON rev.m = c.month_start
    """,
    doc="Recursive CTE (WITH RECURSIVE — Spark 4's native recursion "
        "surface, SPARK-24497): generates the complete month spine "
        "between the first and last order date by recursive "
        "month-increment, then LEFT JOINs monthly revenue so months "
        "with no orders still appear (the calendar-dimension pattern "
        "without a calendar table). Both engines run structurally "
        "identical recursive SQL — this pins the recursion surface "
        "itself (anchor referencing a prior CTE, recursive member with "
        "a carried bound column, termination by WHERE), not just the "
        "join. Scale note: the recursion materializes one row per "
        "month (~decades = hundreds of rows, driver-scale) while the "
        "revenue aggregate is the only corpus-sized pass — recursion "
        "depth is bounded by calendar span, never by data volume; the "
        "recursion-level limit is raised explicitly so a longer "
        "fixture span cannot hit the default 100-level ceiling.",
)
def q_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately session-sticky (not save/restored): the returned
    # DataFrame executes LAZILY after this function returns, so a
    # scoped restore would re-lower the ceiling before the recursion
    # runs. Raising this limit is a monotonic safety-ceiling change
    # with no behavioral effect on other queries.
    try:
        spark.conf.set("spark.sql.cteRecursionLevelLimit", "2000")
    except Exception:
        pass  # conf absent on this build -> default limit applies
    return Catalog(spark, sf_dir).sql("""
        WITH RECURSIVE bounds AS (
            SELECT CAST(date_trunc('MM', MIN(o_orderdate)) AS DATE) AS lo,
                   CAST(date_trunc('MM', MAX(o_orderdate)) AS DATE) AS hi
            FROM orders
        ),
        cal AS (
            SELECT lo AS month_start, hi FROM bounds
            UNION ALL
            SELECT add_months(month_start, 1), hi
            FROM cal WHERE month_start < hi
        ),
        rev AS (
            SELECT CAST(date_trunc('MM', o_orderdate) AS DATE) AS m,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1
        )
        SELECT date_format(c.month_start, 'yyyy-MM') AS month,
               COALESCE(rev.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               COALESCE(rev.revenue, CAST(0.0 AS DOUBLE)) AS revenue
        FROM cal c LEFT JOIN rev ON rev.m = c.month_start
    """)


@register(
    "q_collation_group",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN upper(source)
                    WHEN doc_id % 3 = 1 THEN source
                    ELSE lower(source) END AS sv,
               n_chars
        FROM documents)
    SELECT lower(sv) AS source_lc,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM v GROUP BY lower(sv)
    """,
    doc="Collation-aware grouping (Spark 4's collation engine, "
        "F.collate / UTF8_LCASE): a deliberately case-scrambled source "
        "column (upper/as-is/lower by doc_id residue) groups "
        "case-insensitively under the UTF8_LCASE collation — "
        "exercising collation-aware hashing and equality in the "
        "aggregate exchange itself, not an expression-level lower() "
        "rewrite. The output key is normalized to lower and cast back "
        "to a plain (UTF8_BINARY) string so the result schema is "
        "collation-free; the oracle states the same grouping as "
        "GROUP BY lower(). At scale collation-aware grouping shuffles "
        "on the collation key exactly like any agg — one exchange, "
        "map-side partials; ICU comparison cost is per-row CPU, not a "
        "plan-shape change.",
)
def q_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    res = F.col("doc_id") % 3
    variant = (F.when(res == 0, F.upper("source"))
               .when(res == 1, F.col("source"))
               .otherwise(F.lower("source")))
    return (d.select(F.collate(variant, "UTF8_LCASE").alias("src_ci"),
                     "n_chars")
            .groupBy("src_ci")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .select(F.lower("src_ci").cast("string").alias("source_lc"),
                    "n_docs", "total_chars"))


@register(
    "q_geo_radius_join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS k,
               ('0x' || substr(md5(c_custkey::VARCHAR || ':gx'), 1, 8))
                   ::BIGINT / 4294967296.0 * 100 AS x,
               ('0x' || substr(md5(c_custkey::VARCHAR || ':gy'), 1, 8))
                   ::BIGINT / 4294967296.0 * 100 AS y
        FROM customer)
    SELECT a.k AS a_key, b.k AS b_key,
           ROUND(SQRT((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)), 4) + 0.0 AS dist
    FROM pts a JOIN pts b ON a.k < b.k
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4.0
    """,
    doc="Spatial radius self-join via GRID BUCKETING: deterministic "
        "points in [0,100)^2 (engine-portable md5-uniform per customer "
        "key), pairs within Euclidean distance 2 found by hashing each "
        "point to a radius-sized grid cell, expanding the LEFT side to "
        "its 3x3 cell neighborhood (a bounded 9x explode), equi-"
        "joining on cell id, then exact-distance filtering — each true "
        "pair matches exactly once because the right side keeps its "
        "single exact cell. This turns the quadratic theta-join the "
        "ORACLE states (the spec) into an equi-join whose cost is "
        "sum-of-squares of CELL occupancy — the standard spatial-join "
        "scale shape (uniform points: ~(9*density^2) per cell, never "
        "n^2), with cell skew handled by the same AQE valves as any "
        "hash join. Distance is one identical expression tree on both "
        "engines -> bit-identical doubles under 4-dp rounding.",
)
def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")

    def uniform(salt: str):
        h = F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(salt)))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
                / F.lit(4294967296.0) * 100)

    pts = c.select(F.col("c_custkey").alias("k"),
                   uniform(":gx").alias("x"), uniform(":gy").alias("y"))
    offsets = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    a = (pts.select("k", "x", "y", F.explode(offsets).alias("o"))
         .select(F.col("k").alias("a_key"), F.col("x").alias("ax"),
                 F.col("y").alias("ay"),
                 (F.floor(F.col("x") / 2) + F.col("o.dx")).alias("cx"),
                 (F.floor(F.col("y") / 2) + F.col("o.dy")).alias("cy")))
    b = pts.select(F.col("k").alias("b_key"), F.col("x").alias("bx"),
                   F.col("y").alias("by"),
                   F.floor(F.col("x") / 2).alias("cx"),
                   F.floor(F.col("y") / 2).alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (a.join(b, ["cx", "cy"])
            .where((F.col("a_key") < F.col("b_key")) & (d2 <= 4.0))
            .select("a_key", "b_key",
                    (F.round(F.sqrt(d2), 4) + F.lit(0.0)).alias("dist")))


@register(
    "q_skyline_pareto",
    oracle="""
    WITH s AS (
        SELECT p_partkey, p_retailprice, p_size FROM part)
    SELECT a.p_partkey, a.p_retailprice, a.p_size
    FROM s a
    WHERE NOT EXISTS (
        SELECT 1 FROM s b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size <= a.p_size
          AND (b.p_retailprice < a.p_retailprice
               OR b.p_size < a.p_size))
    """,
    doc="2-D skyline (Pareto frontier) of parts minimizing both retail "
        "price and size: the multi-criteria shortlist query (cheapest-"
        "AND-smallest tradeoff curve). The oracle states the quadratic "
        "NOT-EXISTS domination spec; the engine computes it linearly — "
        "a point survives iff no strictly-cheaper price level has "
        "min-size <= its size AND it achieves its own price level's "
        "min size. The strictly-cheaper prefix-min runs over the "
        "per-price-level min-size table (already groupBy-reduced) "
        "with the sharded-window discipline (monotone price-band "
        "shard, intra-shard exclusive window, broadcast cross-shard "
        "band mins), so the plan is two keyed aggregates + one "
        "partitioned window + a broadcast join — no n^2 pair "
        "comparison and no single-partition WindowExec at any scale. "
        "Equal-(price,size) duplicates survive together, matching the "
        "spec's strict-domination semantics.",
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    s = Catalog(spark, sf_dir).table("part").select(
        "p_partkey", "p_retailprice", "p_size")
    lvl = (s.groupBy("p_retailprice")
           .agg(F.min("p_size").alias("m2"))
           .withColumn("shard",
                       F.floor(F.col("p_retailprice") / 100).cast("int")))
    w_ex = (Window.partitionBy("shard").orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1))
    intra = lvl.withColumn("m_intra", F.min("m2").over(w_ex))
    stot = lvl.groupBy("shard").agg(F.min("m2").alias("s_min"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.min("b.s_min").alias("m_shards")))
    m1 = (intra.join(F.broadcast(below), "shard")
          .select("p_retailprice", "m2",
                  F.least(
                      F.coalesce("m_intra", F.lit(2 ** 31)),
                      F.coalesce("m_shards", F.lit(2 ** 31))).alias("m1")))
    return (s.join(m1, "p_retailprice")
            .where((F.col("m1") > F.col("p_size"))
                   & (F.col("p_size") == F.col("m2")))
            .select("p_partkey", "p_retailprice", "p_size"))


@register(
    "q_sql_variables",
    oracle="""
    WITH t AS (SELECT AVG(o_totalprice) AS a FROM orders)
    SELECT o_orderpriority, COUNT(*) AS n_above,
           ROUND(t.a, 2) + 0.0 AS threshold
    FROM orders, t
    WHERE o_totalprice > t.a
    GROUP BY o_orderpriority, t.a
    """,
    doc="SQL session variables (Spark 4's DECLARE VARIABLE / SET VAR "
        "surface): a data-derived threshold (average order price) is "
        "captured into a typed session variable and referenced by a "
        "second statement — the parameterized-script pattern SQL-first "
        "users port from warehouse procedures (the variable name is "
        "engine-prefixed to keep the session namespace clean). SET VAR "
        "runs the scalar "
        "aggregate as its own driver-side job by construction (that is "
        "the variable semantics — one scalar job, then the main query "
        "plans with the value as a LITERAL, enabling pushdown of the "
        "derived predicate); the all-lazy alternative for plan-fusion "
        "cases is the broadcast-crossJoin scalar the LM family uses. "
        "Oracle states the same computation as a scalar CTE.",
)
def q_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    spark.sql("DECLARE OR REPLACE VARIABLE dlps_avg_price DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR dlps_avg_price = (SELECT AVG(o_totalprice) FROM orders)")
    return spark.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_above,
               ROUND(dlps_avg_price, 2) + 0.0 AS threshold
        FROM orders
        WHERE o_totalprice > dlps_avg_price
        GROUP BY o_orderpriority
    """)


@register(
    "q_null_safe_join",
    oracle="""
    WITH a AS (
        SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1),
    b AS (
        SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS k,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders GROUP BY 1)
    SELECT a.k AS priority, a.n_orders, b.total_price
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc="NULL-safe equi-join (<=> / IS NOT DISTINCT FROM): two "
        "aggregates keyed by a NULLABLE bucket (one priority mapped to "
        "NULL via NULLIF — the 'unknown' bucket every dimensional "
        "model carries) reconcile with the null-safe operator, so the "
        "NULL groups MATCH each other instead of silently dropping as "
        "ordinary equality would — the standard bug when metric "
        "tables with unknown-member rows are stitched. <=> plans as a "
        "normal hash join (NULL hashes like any value under null-safe "
        "semantics, no fallback to nested-loop), so the shape is "
        "unchanged at scale.",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    k = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    a = o.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_orders"))
    b = (o.groupBy(k.alias("k"))
         .agg(F.round(F.sum("o_totalprice"), 2).alias("total_price")))
    return (a.alias("a")
            .join(b.alias("b"), F.col("a.k").eqNullSafe(F.col("b.k")))
            .select(F.col("a.k").alias("priority"), "n_orders",
                    "total_price"))


@register(
    "q_linkage_fellegi_sunter",
    oracle="""
    WITH dig AS (
        SELECT c_custkey, c_nationkey, c_name, c_mktsegment, c_acctbal,
               substr(c_name, 10, 9) AS d
        FROM customer),
    segs AS (
        SELECT c_custkey, c_nationkey, d AS seg FROM dig
        UNION ALL
        SELECT c_custkey, c_nationkey,
               substr(d, 1, i - 1) || substr(d, i + 1) AS seg
        FROM dig, (SELECT unnest(range(1, 10)) AS i)
        UNION ALL
        SELECT c_custkey, c_nationkey,
               substr(d, 1, m.i - 1)
               || substr(d, m.i + 1, m.j - m.i - 1)
               || substr(d, m.j + 1) AS seg
        FROM dig, (SELECT a.i AS i, b.j AS j
                   FROM (SELECT unnest(range(1, 10)) AS i) a,
                        (SELECT unnest(range(1, 10)) AS j) b
                   WHERE a.i < b.j) m),
    ck AS (
        SELECT DISTINCT a.c_custkey AS left_key, b.c_custkey AS right_key
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey),
    cand AS (
        SELECT k.left_key, k.right_key,
               la.c_name AS ln, ra.c_name AS rn,
               la.c_mktsegment AS ls, ra.c_mktsegment AS rs,
               la.c_acctbal AS lb, ra.c_acctbal AS rb
        FROM ck k
        JOIN customer la ON k.left_key = la.c_custkey
        JOIN customer ra ON k.right_key = ra.c_custkey),
    pairs AS (
        SELECT left_key, right_key,
               CASE WHEN levenshtein(ln, rn) <= 2 THEN 1 ELSE 0 END AS g1,
               CASE WHEN ls = rs THEN 1 ELSE 0 END AS g2,
               CASE WHEN ABS(lb - rb) < 100.0 THEN 1 ELSE 0 END AS g3
        FROM cand),
    smod AS (
        SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 1875.0) AS BIGINT)) AS q
        FROM customer),
    sg AS (
        SELECT CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN ABS(a.c_acctbal - b.c_acctbal) < 100.0
                    THEN 1 ELSE 0 END AS g3
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey, smod
        WHERE a.c_custkey % smod.q = 1 AND b.c_custkey % smod.q = 1),
    u AS (
        SELECT GREATEST(LEAST(COALESCE(AVG(CAST(g1 AS DOUBLE)), 0.5),
                              1 - 1e-6), 1e-6) AS u1,
               GREATEST(LEAST(COALESCE(AVG(CAST(g2 AS DOUBLE)), 0.5),
                              1 - 1e-6), 1e-6) AS u2,
               GREATEST(LEAST(COALESCE(AVG(CAST(g3 AS DOUBLE)), 0.5),
                              1 - 1e-6), 1e-6) AS u3
        FROM sg),
    scored AS (
        SELECT p.left_key, p.right_key,
               (CASE WHEN g1 = 1 THEN LN(0.95 / u1)
                     ELSE LN(0.05 / (1 - u1)) END)
             + (CASE WHEN g2 = 1 THEN LN(0.90 / u2)
                     ELSE LN(0.10 / (1 - u2)) END)
             + (CASE WHEN g3 = 1 THEN LN(0.80 / u3)
                     ELSE LN(0.20 / (1 - u3)) END) AS s
        FROM pairs p, u)
    SELECT left_key, right_key, ROUND(s, 4) + 0.0 AS match_weight
    FROM scored
    ORDER BY s DESC, left_key, right_key LIMIT 15
    """,
    doc="Fellegi-Sunter probabilistic record linkage with TRUE FastSS "
        "2-deletion-neighborhood blocking (Bocek et al. 2007) — the r8 "
        "correction of two prior blockers: r5's interleaved digit "
        "classes saturated the keyspace (candidates trended n²/7500, "
        "measured 10x shuffle exponent 1.25), and r7's position-MASK "
        "keys ('_' placeholders at masked positions) were NOT lossless "
        "for the g1 comparator levenshtein <= 2 — masks only align "
        "same-position substitutions, silently dropping insert+delete "
        "digit-window shifts (measured at sf0.1: 6% of true g1 pairs). "
        "Candidates are now (nation × deletion-variant) keyed: each "
        "record explodes the 46 strings obtainable by REMOVING 0, 1, "
        "or 2 characters from the name's 9-digit identifier block. "
        "Any pair within levenshtein <= 2 — ANY edit shape — shares a "
        "variant (s subs + d dels + i ins <= 2 leaves a common "
        "subsequence at deletion depth s+d on one side, s+i on the "
        "other; variant length encodes depth so one string-equality "
        "join covers unequal depths): candidate generation is "
        "genuinely LOSSLESS for g1, with NO saturation cap — block "
        "selectivity grows with the varying-digit count, so per-block "
        "occupancy stays ~constant as n grows — while the explode "
        "factor stays a FIXED 46, so shuffle bytes/record do not grow "
        "with n. Measured at sf0.1: 4,501,092 within-nation pairs -> "
        "694,624 deletion-variant candidates (6.5x fewer levenshtein "
        "calls; 163,383 of them are true lev<=2 pairs — 24% "
        "precision) vs r7's 149,863 mask candidates that silently "
        "dropped 13,520 true pairs and r5's 717,098 class candidates "
        "whose volume saturates quadratically. "
        "u-probabilities (P(agree | random pair)) are "
        "estimated on a deterministic FIXED-SIZE pair sample: both "
        "keys ≡ 1 mod q within nation with q = GREATEST(8, "
        "CEIL(n/1875)), so the sampled key count is bounded at ~1875 "
        "and the comparator pair mass stays ~constant at ANY corpus "
        "scale (a fixed FRACTION of pairs is still O(n²) — the 1/8 "
        "key sample of r7 meant ~700M sample pairs and a broadcast "
        "OOM at the 100x ladder point; COALESCE 0.5 on an empty "
        "sample). That is how production FS estimates u — a bounded "
        "random sample, never all pairs; m stays a stated prior. Multi-variant "
        "hits dedup with one keys-only distinct before attributes "
        "re-join on the primary key; levenshtein uses the threshold "
        "form (early exit at distance 2, -1 = over, same predicate as "
        "the oracle's levenshtein <= 2). The oracle mirrors the "
        "blocker because the output (top-15 scored pairs) depends on "
        "the candidate set; q_linkage_blocking_recall holds the "
        "losslessness receipt against an UNBLOCKED truth arm. Clamps "
        "keep degenerate u in (0,1) so LN stays finite on any "
        "fixture.",
)
def q_linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import dir_bytes, width

    c = Catalog(spark, sf_dir).table("customer")
    base = c.select("c_custkey", "c_nationkey", "c_name",
                    "c_mktsegment", "c_acctbal")
    # Sized exchanges for the candidate/verify arms (r8 ladder: the
    # 69.5M-candidate SMJ+levenshtein verify arm spilled 4.5 GB disk
    # at 100x because its sorts ran at AQE-coalesced session width —
    # the same unsized-call-site failure as the savings-ladder fix).
    # expansion 200 ≈ measured verify-arm working set / customer
    # footprint (46x keys-only fanout -> ~46x candidate pairs, each
    # re-joined to two name+segment+balance attribute sides). The 8 MB
    # per-partition target is deliberately small: the verify stage
    # PIPELINES the candidate distinct's final HashAggregate, the SMJ
    # sort, and the join in one task, so the three consumers share one
    # task's slice of executor memory — the r9 attribution measured
    # 32 MB targets still spilling ~50+97 MB/task of inflated
    # UnsafeRow state across exactly those nodes. Gated on the same
    # >1 MB footprint as _attr_side so bench-scale plans (broadcast,
    # no exchange) are untouched.
    c_bytes = dir_bytes(f"{sf_dir}/customer.parquet")
    _big = c_bytes > (1 << 20)
    # n_pair is bound unconditionally (None when small) so sized() can
    # never hit an unbound name if a future call site escapes the _big
    # gate — it degrades to a no-op instead of NameError.
    n_pair = (width(spark, "jvm_shuffle", 200 * c_bytes,
                    target_bytes=8 << 20)
              if _big else None)

    def sized(df, *cols):
        return df.repartition(n_pair, *cols) if n_pair else df
    # FastSS 2-deletion neighborhood over the 9-digit suffix: 46 keys
    # per record (0/1/2 characters removed; variant length encodes
    # depth, so the string-equality join pairs every depth combination
    # — required for the insert+delete shapes masks missed).
    # payloads never ride the 46x fanout: explode KEYS only (custkey,
    # nation, variant — one shuffle of ~30 B/row), dedup candidate key
    # pairs, then re-join the comparator attributes on the primary key
    # (candidates are ~n·density rows, tiny)
    segs = base.select("c_custkey", F.col("c_nationkey").alias("nk"),
                       F.explode(_deletion_neighborhood(
                           F.substring("c_name", 10, 9), 9, 2))
                       .alias("seg")) \
        .localCheckpoint(eager=False)
    a = sized(segs.select(F.col("c_custkey").alias("left_key"),
                          "nk", "seg"), "nk", "seg")
    # the variant self-join must never broadcast: Catalyst's size
    # estimate rides the (compressed, pre-explode) customer scan, so
    # the 46x-exploded key stream still reads "small" — at the 100x
    # ladder point the planner built it as a 3.9 GiB broadcast
    # relation and died; the same footprint gate pins sort-merge
    b = _attr_side(
        sized(segs.select(F.col("c_custkey").alias("right_key"),
                          "nk", "seg"), "nk", "seg"),
        sf_dir)
    # co-partitioned (nk, seg) at n_pair on both sides: the SMJ reuses
    # the distribution, so its sorts run at the SIZED width; the
    # left_key repartition below is likewise reused by BOTH the
    # distinct (hash(left_key) satisfies the (left_key, right_key)
    # clustering) and the first verify join
    cand_keys = sized((a.join(b, ["nk", "seg"])
                       .where(F.col("left_key") < F.col("right_key"))
                       .select("left_key", "right_key")),
                      "left_key").distinct()
    lattr = _attr_side(
        base.select(F.col("c_custkey").alias("left_key"),
                    F.col("c_name").alias("ln_"),
                    F.col("c_mktsegment").alias("ls_"),
                    F.col("c_acctbal").alias("lb_")), sf_dir)
    rattr = _attr_side(
        base.select(F.col("c_custkey").alias("right_key"),
                    F.col("c_name").alias("rn_"),
                    F.col("c_mktsegment").alias("rs_"),
                    F.col("c_acctbal").alias("rb_")), sf_dir)
    cand = sized(cand_keys.join(lattr, "left_key"),
                 "right_key").join(rattr, "right_key")
    pairs = cand.select(
        "left_key", "right_key",
        (F.levenshtein("ln_", "rn_", 2) >= 0).cast("int").alias("g1"),
        (F.col("ls_") == F.col("rs_")).cast("int").alias("g2"),
        (F.abs(F.col("lb_") - F.col("rb_")) < 100.0).cast("int").alias("g3"))

    # u-sample bounded at ~1875 keys regardless of n (see
    # _bounded_key_sample: fixed-size, not fixed-fraction; min_mod 8
    # keeps sf<=0.1 bit-identical to the historic % 8 sample)
    sa = _bounded_key_sample(base, "c_custkey", 8, 1875)
    sl = sa.select(F.col("c_custkey").alias("lk"),
                   F.col("c_nationkey").alias("nk"),
                   F.col("c_name").alias("ln_"),
                   F.col("c_mktsegment").alias("ls_"),
                   F.col("c_acctbal").alias("lb_"))
    sr = sa.select(F.col("c_custkey").alias("rk"),
                   F.col("c_nationkey").alias("nk"),
                   F.col("c_name").alias("rn_"),
                   F.col("c_mktsegment").alias("rs_"),
                   F.col("c_acctbal").alias("rb_"))
    sg = (sl.join(sr, "nk").where(F.col("lk") < F.col("rk"))
          .select((F.levenshtein("ln_", "rn_", 2) >= 0).cast("int")
                  .alias("g1"),
                  (F.col("ls_") == F.col("rs_")).cast("int").alias("g2"),
                  (F.abs(F.col("lb_") - F.col("rb_")) < 100.0)
                  .cast("int").alias("g3")))

    def clamp(col):
        return F.greatest(
            F.least(F.coalesce(col, F.lit(0.5)), F.lit(1 - 1e-6)),
            F.lit(1e-6))

    u = sg.agg(clamp(F.avg(F.col("g1").cast("double"))).alias("u1"),
               clamp(F.avg(F.col("g2").cast("double"))).alias("u2"),
               clamp(F.avg(F.col("g3").cast("double"))).alias("u3"))

    def term(g, m, uc):
        return (F.when(F.col(g) == 1, F.log(F.lit(m) / F.col(uc)))
                .otherwise(F.log(F.lit(1 - m) / (F.lit(1.0) - F.col(uc)))))

    s = (term("g1", 0.95, "u1") + term("g2", 0.90, "u2")
         + term("g3", 0.80, "u3"))
    return (pairs.crossJoin(F.broadcast(u))
            .select("left_key", "right_key", s.alias("s"))
            .orderBy(F.desc("s"), "left_key", "right_key").limit(15)
            .select("left_key", "right_key",
                    (F.round("s", 4) + F.lit(0.0)).alias("match_weight")))


@register(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev),
    cum AS (
        SELECT l_partkey, cents,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
        FROM rev),
    cls AS (
        SELECT CASE WHEN cc * 100 <= t * 80 THEN 'A'
                    WHEN cc * 100 <= t * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               cents
        FROM cum, tot)
    SELECT abc_class, COUNT(*) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM cls GROUP BY abc_class
    """,
    doc="ABC (Pareto) classification of parts by revenue: rank by "
        "revenue descending, class A = parts inside the first 80% of "
        "cumulative revenue, B to 95%, C the tail — the inventory-"
        "prioritization classic. EXACT by construction: revenue is "
        "summed as integer CENTS (2-dp prices scale losslessly), so "
        "the corpus-wide cumulative sum and the 80/95 boundary "
        "comparisons (cc*100 <= t*80, integer arithmetic) are "
        "order-independent — no float cum-share near a threshold can "
        "flip between engines. The ranked cumulative runs with the "
        "sharded-window discipline (revenue-magnitude shard via "
        "int bit-length, monotone in the DESC sort key; broadcast "
        "cross-shard offsets); ties share a shard since the shard is "
        "a function of the sort key.",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = Catalog(spark, sf_dir).table("lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                      .cast("long")).alias("cents")))
    tot = rev.agg(F.sum("cents").alias("t"))
    # shard = magnitude bucket of cents -> monotone DESC in cents
    # (larger revenue => smaller shard index); ties share a shard.
    sharded = rev.withColumn(
        "shard",
        (F.lit(63) - F.floor(F.log2(F.col("cents") + 1))).cast("int"))
    w_in = (Window.partitionBy("shard")
            .orderBy(F.desc("cents"), "l_partkey")
            .rowsBetween(Window.unboundedPreceding, 0))
    intra = sharded.withColumn("cum_intra", F.sum("cents").over(w_in))
    stot = sharded.groupBy("shard").agg(F.sum("cents").alias("s_c"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_c"), F.lit(0)).alias("cum_shards")))
    cum = (intra.join(F.broadcast(below), "shard")
           .crossJoin(F.broadcast(tot))
           .withColumn("cc", F.col("cum_shards") + F.col("cum_intra")))
    cls = F.when(F.col("cc") * 100 <= F.col("t") * 80, "A") \
        .when(F.col("cc") * 100 <= F.col("t") * 95, "B").otherwise("C")
    return (cum.select(cls.alias("abc_class"), "cents")
            .groupBy("abc_class")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.sum("cents").cast("long").alias("revenue_cents")))


@register(
    "q_lateral_topn",
    oracle="""
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
           t.o_totalprice AS totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 3
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
    """,
    doc="LATERAL correlated subquery in FROM — the SQL-standard "
        "per-row-subquery surface (each BUILDING customer's top-3 "
        "orders by price): the form warehouse users write instead of "
        "a window + filter, and a Spark engine surface distinct from "
        "correlated WHERE subqueries. Catalyst DECORRELATES the "
        "lateral LIMIT into a partitioned window + rank filter (one "
        "shuffle on the join key, no per-row re-execution), so the "
        "plan is the same scale-safe shape as q_window_topn — the "
        "pass proves the decorrelation rewrite preserves per-group "
        "LIMIT semantics against an engine (DuckDB) that executes "
        "the lateral loop natively. Tie-break on o_orderkey makes "
        "the per-group top-3 a total order in both engines.",
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.sql("""
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
               t.o_totalprice AS totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
    """)


@register(
    "q_sql_udf_margin",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS charged,
           ROUND(SUM(CASE WHEN l_discount > 0.05
                          THEN l_extendedprice * l_discount END), 2)
               AS heavy_discount_given
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="SQL scalar UDFs (Spark 4 CREATE FUNCTION ... RETURNS ... "
        "RETURN expr): the charged-amount and discount-given formulas "
        "are declared ONCE as named SQL functions and reused across "
        "aggregates — the warehouse pattern for shared business logic "
        "that row-at-a-time engines implement as procedures. Spark "
        "INLINES the SQL function body into the plan at analysis time, "
        "so the aggregate runs fully inside whole-stage codegen with "
        "ZERO Python or procedure-call overhead (the oracle states the "
        "inlined expressions directly, proving the inlining preserves "
        "semantics). This is the 100 TB answer to shared logic: a "
        "library of SQL UDFs costs nothing at execution time, unlike "
        "the per-row UDF tax every call-based engine pays.",
)
def q_sql_udf_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION dlps_charged(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS DOUBLE RETURN price * (1 - disc) * (1 + tax)
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION dlps_disc_given(
            price DOUBLE, disc DOUBLE)
        RETURNS DOUBLE
        RETURN CASE WHEN disc > 0.05 THEN price * disc END
    """)
    return spark.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_lines,
               ROUND(SUM(dlps_charged(l_extendedprice, l_discount, l_tax)), 2)
                   AS charged,
               ROUND(SUM(dlps_disc_given(l_extendedprice, l_discount)), 2)
                   AS heavy_discount_given
        FROM lineitem
        GROUP BY l_returnflag
    """)


@register(
    "q_linkage_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
               ROW_NUMBER() OVER (ORDER BY c_name) AS rnk
        FROM customer),
    cand AS (
        SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
               CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN ABS(a.c_acctbal - b.c_acctbal) < 100.0
                    THEN 1 ELSE 0 END AS g3
        FROM ranked a JOIN ranked b
          ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + 4),
    scored AS (
        SELECT left_key, right_key,
               (CASE WHEN g1 = 1 THEN 2.9444389791664403
                     ELSE -2.9444389791664394 END)
             + (CASE WHEN g2 = 1 THEN 1.0033021088637848
                     ELSE -1.9021075263969205 END)
             + (CASE WHEN g3 = 1 THEN 0.47000362924573563
                     ELSE -0.9162907318741553 END) AS s
        FROM cand)
    SELECT left_key, right_key, ROUND(s, 4) + 0.0 AS match_weight
    FROM scored
    ORDER BY s DESC, left_key, right_key LIMIT 15
    """,
    doc="Sorted-neighborhood record linkage — the OTHER classic "
        "blocking strategy beside q_linkage_fellegi_sunter's composite "
        "keys: sort all records by a composite key (c_name), slide a "
        "w=5 window down the sorted order, compare only records whose "
        "rank distance is <= 4. Pair volume is EXACTLY n*(w-1) — "
        "linear in n by construction, the strongest possible blocking "
        "guarantee (key blocking is only probabilistically sub-"
        "quadratic). The global rank runs with the sharded-window "
        "discipline (name-prefix shard — monotone because names are "
        "fixed-width — intra-shard row_number + broadcast cross-shard "
        "count offsets), and neighborhood pairs come from an EQUI-join "
        "on rank-band keys (each left row exploded to its band and the "
        "next, filter 1 <= rank gap <= 4) — no range join, no "
        "single-partition window, so the whole operator is two "
        "bounded shuffles at any scale. Agreement weights are "
        "Fellegi-Sunter log-odds with STATED priors (m = .95/.90/.80, "
        "u = .05/.33/.50) injected as exact double literals into both "
        "engines, so no libm log() is evaluated at query time; the "
        "sampled-u estimation path is q_linkage_fellegi_sunter's.",
)
def q_linkage_sorted_neighborhood(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = Catalog(spark, sf_dir).table("customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    # Fixed-width names ('Customer#000000001'): the 3 chars after the
    # constant prefix are a monotone prefix shard of the c_name sort
    # order. Kept as a STRING — prefix order IS lexicographic name
    # order, and casting assumed digits (the scale-ladder fixture
    # writes letter group codes there; r8 crash).
    sharded = c.withColumn("shard", F.substring("c_name", 10, 3))
    rn = F.row_number().over(
        Window.partitionBy("shard").orderBy("c_name"))
    intra = sharded.withColumn("rn_intra", rn)
    stot = sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("s_n"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_n"), F.lit(0)).alias("off_n")))
    ranked = (intra.join(F.broadcast(below), "shard")
              .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal",
                      (F.col("off_n") + F.col("rn_intra")).alias("rnk"))
              .localCheckpoint(eager=False))
    W = 5
    a = ranked.select(
        F.col("c_custkey").alias("left_key"), F.col("c_name").alias("ln_"),
        F.col("c_mktsegment").alias("ls_"), F.col("c_acctbal").alias("lb_"),
        F.col("rnk").alias("ra"),
        F.explode(F.array(F.floor(F.col("rnk") / W),
                          F.floor(F.col("rnk") / W) + 1)).alias("band"))
    b = ranked.select(
        F.col("c_custkey").alias("right_key"), F.col("c_name").alias("rn_"),
        F.col("c_mktsegment").alias("rs_"), F.col("c_acctbal").alias("rb_"),
        F.col("rnk").alias("rb"),
        F.floor(F.col("rnk") / W).alias("band"))
    cand = (a.join(b, "band")
            .where((F.col("rb") - F.col("ra")).between(1, W - 1)))
    s = (F.when(F.levenshtein("ln_", "rn_", 2) >= 0,
                F.lit(2.9444389791664403))
         .otherwise(F.lit(-2.9444389791664394))
         + F.when(F.col("ls_") == F.col("rs_"),
                  F.lit(1.0033021088637848))
         .otherwise(F.lit(-1.9021075263969205))
         + F.when(F.abs(F.col("lb_") - F.col("rb_")) < 100.0,
                  F.lit(0.47000362924573563))
         .otherwise(F.lit(-0.9162907318741553)))
    return (cand.select("left_key", "right_key", s.alias("s"))
            .select("left_key", "right_key",
                    (F.round("s", 4) + F.lit(0.0)).alias("match_weight"),
                    "s")
            .orderBy(F.desc("s"), "left_key", "right_key")
            .limit(15)
            .drop("s"))


@register(
    "q_sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY l_returnflag
    HAVING COUNT(*) > 10
    ORDER BY l_returnflag
    """,
    doc="SQL pipe syntax (Spark 4's |> operator chain — SQL:2023-style "
        "piped dataflow, the fourth round-5 engine surface beside "
        "LATERAL, SQL UDFs, and WITH RECURSIVE): the same "
        "filter -> aggregate -> having -> order dataflow a warehouse "
        "user writes top-down instead of inside-out. A pass proves the "
        "pipe parser lowers to the IDENTICAL logical plan semantics as "
        "the classic formulation the DuckDB oracle runs — Catalyst "
        "sees one plan either way, so pipe syntax costs nothing at "
        "execution and every optimization (pushdown, partial agg) "
        "applies unchanged.",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.sql("""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |> AGGREGATE COUNT(*) AS n_items,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
           GROUP BY l_returnflag
        |> WHERE n_items > 10
        |> SELECT l_returnflag, n_items, revenue
        |> ORDER BY l_returnflag
    """)


@register(
    "q_sql_group_order_by_all",
    oracle="""
    SELECT o_orderpriority,
           EXTRACT(year FROM o_orderdate) AS order_year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="GROUP BY ALL + ORDER BY ALL (the Spark-4 / modern-SQL "
        "shorthand that infers the grouping set as every non-aggregate "
        "select item and the sort key as the full output column list) "
        "proven against the explicit classic formulation the DuckDB "
        "oracle runs — the resolver-sugar surface beside pipe syntax "
        "(q_sql_pipe_syntax): the analyzer expands ALL before "
        "optimization, so the plan and every optimization are "
        "identical to the explicit form. Grouped rows form a unique "
        "key, so ORDER BY ALL is a total order and the row order is "
        "deterministic in both engines.",
)
def q_sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return cat.sql("""
        SELECT o_orderpriority,
               EXTRACT(YEAR FROM o_orderdate) AS order_year,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """)


@register(
    "q_basket_rules",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM items),
    isup AS (SELECT l_partkey, COUNT(*) AS s FROM items
             GROUP BY l_partkey),
    psup AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS sab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
    rules AS (
        SELECT pa AS antecedent, pb AS consequent, sab,
               sa.s AS s_ant, sb.s AS s_con
        FROM psup JOIN isup sa ON sa.l_partkey = pa
                  JOIN isup sb ON sb.l_partkey = pb
        UNION ALL
        SELECT pb, pa, sab, sb.s, sa.s
        FROM psup JOIN isup sa ON sa.l_partkey = pa
                  JOIN isup sb ON sb.l_partkey = pb)
    SELECT antecedent, consequent, sab AS support,
           ROUND(sab::DOUBLE / s_ant, 6) AS confidence,
           ROUND(sab::DOUBLE * n.n_baskets / (s_ant::DOUBLE * s_con), 6)
               AS lift
    FROM rules CROSS JOIN n
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
    """,
    doc="Association rules over the market baskets — the "
        "confidence/lift layer on q_basket_pairs' co-occurrence "
        "counts: for each frequent pair, BOTH directed rules A -> B "
        "with confidence = s(A,B)/s(A) and lift = N*s(A,B)/(s(A)*s(B)) "
        "(lift is direction-symmetric; confidence is not — emitting "
        "both directions is what a recommender consumes). Same "
        "basket-keyed self-join cost model (Sigma basket^2, never "
        "|parts|^2, mega-basket cap valve at scale); item supports "
        "and the basket count join back as broadcast-sized tables; "
        "every measure is an exact integer ratio rounded once; top-20 "
        "by lift via TakeOrderedAndProject with a total order.",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct() \
        .localCheckpoint(eager=False)
    n = items.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    isup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    psup = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_partkey") < F.col("b.l_partkey")))
            .groupBy(F.col("a.l_partkey").alias("pa"),
                     F.col("b.l_partkey").alias("pb"))
            .agg(F.count(F.lit(1)).alias("sab"))
            .where(F.col("sab") >= 2))
    sa = isup.select(F.col("l_partkey").alias("pa"),
                     F.col("s").alias("s_a"))
    sb = isup.select(F.col("l_partkey").alias("pb"),
                     F.col("s").alias("s_b"))
    joined = (psup.join(F.broadcast(sa), "pa")
              .join(F.broadcast(sb), "pb"))
    fwd = joined.select(F.col("pa").alias("antecedent"),
                        F.col("pb").alias("consequent"),
                        "sab", F.col("s_a").alias("s_ant"),
                        F.col("s_b").alias("s_con"))
    rev = joined.select(F.col("pb").alias("antecedent"),
                        F.col("pa").alias("consequent"),
                        "sab", F.col("s_b").alias("s_ant"),
                        F.col("s_a").alias("s_con"))
    return (fwd.unionByName(rev)
            .crossJoin(F.broadcast(n))
            .select("antecedent", "consequent",
                    F.col("sab").alias("support"),
                    F.round(F.col("sab").cast("double") / F.col("s_ant"), 6)
                    .alias("confidence"),
                    F.round(F.col("sab").cast("double") * F.col("n_baskets")
                            / (F.col("s_ant").cast("double")
                               * F.col("s_con")), 6).alias("lift"))
            .orderBy(F.desc("lift"), "antecedent", "consequent")
            .limit(20))


# --------------------------------------------------------------------------
# NTILE deciles — the partitioned quantile-bucket window
# --------------------------------------------------------------------------

@register(
    "q_window_ntile_deciles",
    oracle="""
    WITH t AS (
        SELECT c_nationkey, c_acctbal,
               NTILE(10) OVER (PARTITION BY c_nationkey
                               ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer
        WHERE c_nationkey < 5)
    SELECT c_nationkey, CAST(decile AS INT) AS decile,
           COUNT(*) AS n,
           ROUND(MIN(c_acctbal), 2) AS lo_balance,
           ROUND(MAX(c_acctbal), 2) AS hi_balance
    FROM t GROUP BY c_nationkey, decile
    ORDER BY c_nationkey, decile
    """,
    doc="NTILE(10) decile assignment per nation — the remaining member "
        "of the rank-family window surface (rank/dense_rank/percent_"
        "rank/row_number are covered by q_window_rank_family). NTILE's "
        "bucket-size contract (earlier buckets get the remainder, "
        "sizes differ by at most one) is identical in Spark and "
        "DuckDB, and the (balance, custkey) tie-break makes the "
        "ordering total so bucket boundaries are deterministic. The "
        "window is PARTITIONED by nation — per-group quantile bucketing "
        "is the shape that scales (a global NTILE would be an "
        "Exchange SinglePartition; for global quantiles use the "
        "histogram sketch instead, q_sketch_quantile_histogram).",
)
def q_window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = (Catalog(spark, sf_dir).table("customer")
         .where(F.col("c_nationkey") < 5))
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    t = c.select("c_nationkey", "c_acctbal",
                 F.ntile(10).over(w).alias("decile"))
    return (t.groupBy("c_nationkey", "decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("c_acctbal"), 2).alias("lo_balance"),
                 F.round(F.max("c_acctbal"), 2).alias("hi_balance"))
            .withColumn("decile", F.col("decile").cast("int"))
            .orderBy("c_nationkey", "decile"))


# --------------------------------------------------------------------------
# XYZ demand-variability classification — the ABC companion
# --------------------------------------------------------------------------

@register(
    "q_xyz_classification",
    oracle="""
    WITH mo AS (
        SELECT l_partkey,
               (EXTRACT(YEAR FROM l_shipdate) * 12
                + EXTRACT(MONTH FROM l_shipdate) - 1) AS m,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY l_partkey, m),
    bounds AS (
        SELECT MIN((EXTRACT(YEAR FROM l_shipdate) * 12
                    + EXTRACT(MONTH FROM l_shipdate) - 1)) AS lo,
               MAX((EXTRACT(YEAR FROM l_shipdate) * 12
                    + EXTRACT(MONTH FROM l_shipdate) - 1)) AS hi
        FROM lineitem),
    g AS (
        SELECT l_partkey, SUM(q) AS s1, SUM(q * q) AS s2
        FROM mo GROUP BY l_partkey),
    cv AS (
        SELECT g.l_partkey,
               CAST(g.s1 AS DOUBLE) / (b.hi - b.lo + 1) AS mu,
               SQRT((CAST(g.s2 AS DOUBLE)
                     - 2.0 * (CAST(g.s1 AS DOUBLE) / (b.hi - b.lo + 1))
                       * g.s1
                     + (b.hi - b.lo + 1)
                       * (CAST(g.s1 AS DOUBLE) / (b.hi - b.lo + 1))
                       * (CAST(g.s1 AS DOUBLE) / (b.hi - b.lo + 1)))
                    / (b.hi - b.lo + 1))
                   / (CAST(g.s1 AS DOUBLE) / (b.hi - b.lo + 1)) AS c
        FROM g CROSS JOIN bounds b),
    cls AS (
        SELECT l_partkey,
               CASE WHEN c < 1.75 THEN 'X'
                    WHEN c < 2.10 THEN 'Y' ELSE 'Z' END AS xyz, c
        FROM cv)
    SELECT xyz, COUNT(*) AS n_parts,
           ROUND(AVG(c), 4) AS avg_cv,
           ROUND(MIN(c), 4) AS min_cv,
           ROUND(MAX(c), 4) AS max_cv
    FROM cls GROUP BY xyz ORDER BY xyz
    """,
    doc="XYZ demand-variability classification — the companion to ABC "
        "value classification (q_abc_classification) that inventory "
        "and capacity planning cross-tabulate: per part, the "
        "coefficient of variation of MONTHLY demand over the full "
        "month range (zero-demand months included WITHOUT a dense "
        "part x month grid — population variance over H months "
        "derives from the active-month aggregates sum q, sum q^2 and "
        "H alone, the sparse-moments trick). Class cuts are "
        "CONFIGURATION, set here to the fixture's CV scale (1.75 / "
        "2.10 — sparse per-part monthly demand makes every CV > 1; "
        "the textbook 0.5/1.0 cuts apply to dense aggregated SKUs "
        "and would put the whole catalog in Z). X = steadiest, "
        "Y = variable, Z = erratic. Quantities "
        "are integer; month index is integer year*12+month arithmetic "
        "(no date formatting divergence); one (part, month) group-by "
        "plus one per-part fold.",
)
def q_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    m = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
    mo = (li.select("l_partkey", m.alias("m"),
                    F.col("l_quantity").cast("long").alias("qv"))
          .groupBy("l_partkey", "m").agg(F.sum("qv").alias("q")))
    bounds = li.agg(F.min(m).alias("lo"), F.max(m).alias("hi"))
    g = mo.groupBy("l_partkey").agg(F.sum("q").alias("s1"),
                                    F.sum(F.col("q") * F.col("q"))
                                    .alias("s2"))
    j = g.crossJoin(F.broadcast(bounds))
    hh = F.col("hi") - F.col("lo") + 1
    mu = F.col("s1").cast("double") / hh
    var = ((F.col("s2").cast("double") - 2.0 * mu * F.col("s1")
            + hh * mu * mu) / hh)
    c = F.sqrt(var) / mu
    cls = j.select(
        F.when(c < 1.75, "X").when(c < 2.10, "Y").otherwise("Z").alias("xyz"),
        c.alias("c"))
    return (cls.groupBy("xyz")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 F.round(F.avg("c"), 4).alias("avg_cv"),
                 F.round(F.min("c"), 4).alias("min_cv"),
                 F.round(F.max("c"), 4).alias("max_cv"))
            .orderBy("xyz"))


# --------------------------------------------------------------------------
# Q-gram count filter — the edit-distance join's candidate-pruning theorem
# --------------------------------------------------------------------------

@register(
    "q_linkage_qgram_filter",
    oracle="""
    WITH smod AS (
        SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 3750.0) AS BIGINT)) AS q
        FROM customer),
    cust AS (
        SELECT c_custkey AS key, c_nationkey AS nk, c_name AS nm
        FROM customer, smod WHERE c_custkey % smod.q = 1),
    prof AS (
        SELECT key, nk, substr(nm, CAST(p AS INT), 2) AS g,
               COUNT(*) AS cnt
        FROM (SELECT key, nk, nm,
                     unnest(range(1, length(nm)::BIGINT)) AS p
              FROM cust)
        GROUP BY 1, 2, 3),
    glen AS (SELECT key, length(nm) - 1 AS ng FROM cust),
    shared AS (
        SELECT a.key AS a_id, b.key AS b_id,
               SUM(LEAST(a.cnt, b.cnt)) AS ov
        FROM prof a JOIN prof b
          ON a.g = b.g AND a.nk = b.nk AND a.key < b.key
        GROUP BY 1, 2),
    cand AS (
        SELECT s.a_id, s.b_id
        FROM shared s
        JOIN glen la ON la.key = s.a_id
        JOIN glen lb ON lb.key = s.b_id
        WHERE s.ov >= GREATEST(la.ng, lb.ng) - 4),
    truth AS (
        SELECT a.key AS a_id, b.key AS b_id
        FROM cust a JOIN cust b
          ON a.nk = b.nk AND a.key < b.key
        WHERE levenshtein(a.nm, b.nm) <= 2),
    missed AS (
        SELECT t.a_id, t.b_id FROM truth t
        WHERE NOT EXISTS (SELECT 1 FROM cand c
                          WHERE c.a_id = t.a_id AND c.b_id = t.b_id)),
    df AS (SELECT nk, g, COUNT(*) AS df FROM prof GROUP BY 1, 2)
    SELECT (SELECT COUNT(*) FROM cust)::BIGINT AS n_names,
           (SELECT CAST(SUM(df * (df - 1) // 2) AS BIGINT) FROM df)
               AS n_full_pair_slots,
           (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT COUNT(*) FROM truth)::BIGINT AS n_true_pairs,
           (SELECT COUNT(*) FROM missed)::BIGINT AS n_missed_true,
           (SELECT COUNT(*) FROM missed) = 0 AS filter_complete
    """,
    doc="Q-gram count filtering (Gravano et al., VLDB'01) — the "
        "candidate-pruning theorem behind scalable edit-distance joins, "
        "audited end to end the way q_dedup_prefix_filter audits "
        "PPJoin. Each name's positional bigrams form a BAG profile "
        "(multiplicity kept — set semantics would break the bound on "
        "names with repeated grams like 'Customer#000...'); one edit "
        "operation destroys at most q grams, so ed(s,t) <= d forces "
        "bag overlap >= max(|s|,|t|) - q + 1 - d*q (here q=2, d=2: "
        "max_grams - 4). Candidates come from the nation-blocked "
        "inverted gram index with SUM(LEAST(cnt_a, cnt_b)) overlap; "
        "truth is the exhaustive nation-blocked levenshtein <= 2 pair "
        "set on a deterministic FIXED-SIZE key sample (q = GREATEST(4, "
        "CEIL(n/3750)) — ~3750 keys at any scale, the bounded audit "
        "leg, same discipline as the FS u-sample); "
        "filter_complete value-checks zero lost true pairs. The "
        "full-index denominator is Sigma C(df,2) computed "
        "arithmetically from the df table — never materialized. At "
        "100 TB this composes with blocking exactly like FS: the "
        "count filter bounds per-block candidate volume, the "
        "verification step pays levenshtein only on survivors.",
)
def q_linkage_qgram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (_bounded_key_sample(Catalog(spark, sf_dir).table("customer"),
                             "c_custkey", 4, 3750)
         .select(F.col("c_custkey").alias("key"),
                 F.col("c_nationkey").alias("nk"),
                 F.col("c_name").alias("nm"))
         .localCheckpoint(eager=False))
    pos = F.sequence(F.lit(1), F.length("nm") - 1)
    prof = (c.select("key", "nk",
                     F.explode(pos).alias("p"),
                     F.col("nm"))
            .select("key", "nk",
                    F.expr("substring(nm, p, 2)").alias("g"))
            .groupBy("key", "nk", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=False))
    glen = c.select("key", (F.length("nm") - 1).alias("ng"))
    a = prof.select(F.col("key").alias("a_id"), "nk", "g",
                    F.col("cnt").alias("ca"))
    b = prof.select(F.col("key").alias("b_id"),
                    F.col("nk").alias("nkb"), F.col("g").alias("gb"),
                    F.col("cnt").alias("cb"))
    shared = (a.join(b, (F.col("g") == F.col("gb"))
                     & (F.col("nk") == F.col("nkb"))
                     & (F.col("a_id") < F.col("b_id")))
              .groupBy("a_id", "b_id")
              .agg(F.sum(F.least("ca", "cb")).alias("ov")))
    la = glen.select(F.col("key").alias("a_id"), F.col("ng").alias("ga"))
    lb = glen.select(F.col("key").alias("b_id"), F.col("ng").alias("gb2"))
    cand = (shared.join(F.broadcast(la), "a_id")
            .join(F.broadcast(lb), "b_id")
            .where(F.col("ov") >= F.greatest("ga", "gb2") - 4)
            .select("a_id", "b_id").localCheckpoint(eager=False))
    ca2 = c.select(F.col("key").alias("a_id"), F.col("nk").alias("nka"),
                   F.col("nm").alias("na"))
    cb2 = c.select(F.col("key").alias("b_id"), F.col("nk").alias("nkb2"),
                   F.col("nm").alias("nb"))
    truth = (ca2.join(cb2, (F.col("nka") == F.col("nkb2"))
                      & (F.col("a_id") < F.col("b_id")))
             .where(F.levenshtein("na", "nb") <= 2)
             .select("a_id", "b_id").localCheckpoint(eager=False))
    missed = truth.join(cand, ["a_id", "b_id"], "left_anti")
    dfreq = prof.groupBy("nk", "g").agg(F.count(F.lit(1)).alias("df"))
    slots = F.broadcast(dfreq.agg(
        F.sum(F.expr("df * (df - 1) DIV 2")).cast("long")
        .alias("n_full_pair_slots")))
    one = lambda df, nm_: F.broadcast(
        df.agg(F.count(F.lit(1)).cast("long").alias(nm_)))
    return (one(c, "n_names").crossJoin(slots)
            .crossJoin(one(cand, "n_candidates"))
            .crossJoin(one(truth, "n_true_pairs"))
            .crossJoin(one(missed, "n_missed_true"))
            .select("n_names", "n_full_pair_slots", "n_candidates",
                    "n_true_pairs", "n_missed_true",
                    (F.col("n_missed_true") == 0)
                    .alias("filter_complete")))


@register(
    "q_linkage_blocking_recall",
    oracle="""
    WITH smod AS (
        SELECT GREATEST(4, CAST(CEIL(COUNT(*) / 3750.0) AS BIGINT)) AS q
        FROM customer),
    s AS (
        SELECT c_custkey, c_nationkey, c_name
        FROM customer, smod WHERE c_custkey % smod.q = 1),
    truth AS (
        SELECT a.c_custkey AS l, b.c_custkey AS r
        FROM s a JOIN s b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2),
    dig AS (SELECT c_custkey, c_nationkey,
                   substr(c_name, 10, 9) AS d FROM s),
    segs AS (
        SELECT c_custkey, c_nationkey, d AS seg FROM dig
        UNION ALL
        SELECT c_custkey, c_nationkey,
               substr(d, 1, i - 1) || substr(d, i + 1) AS seg
        FROM dig, (SELECT unnest(range(1, 10)) AS i)
        UNION ALL
        SELECT c_custkey, c_nationkey,
               substr(d, 1, m.i - 1)
               || substr(d, m.i + 1, m.j - m.i - 1)
               || substr(d, m.j + 1) AS seg
        FROM dig, (SELECT a.i AS i, b.j AS j
                   FROM (SELECT unnest(range(1, 10)) AS i) a,
                        (SELECT unnest(range(1, 10)) AS j) b
                   WHERE a.i < b.j) m),
    cand AS (
        SELECT DISTINCT a.c_custkey AS l, b.c_custkey AS r
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey),
    np AS (
        SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_nation_pairs
        FROM (SELECT COUNT(*) AS c FROM s GROUP BY c_nationkey)),
    missed AS (
        SELECT COUNT(*) AS n_missed
        FROM truth t LEFT JOIN cand c ON t.l = c.l AND t.r = c.r
        WHERE c.l IS NULL)
    SELECT (SELECT COUNT(*) FROM s)::BIGINT AS n_sample,
           (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
           (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT n_nation_pairs FROM np) AS n_nation_pairs,
           (SELECT n_missed FROM missed)::BIGINT AS n_missed,
           ROUND((SELECT n_nation_pairs FROM np)::DOUBLE
                 / (SELECT COUNT(*) FROM cand), 2) AS reduction_x
    """,
    doc="Blocking-recall audit — the losslessness claim as a MEASURED "
        "row, the receipt production entity resolution keeps next to "
        "its blocker: on a deterministic FIXED-SIZE key sample "
        "(custkey ≡ 1 mod q, q = GREATEST(4, CEIL(n/3750)) — ~3750 "
        "keys at ANY scale, the bounded-sample discipline of "
        "q_linkage_fellegi_sunter's u-estimation; a constant modulus "
        "would keep the truth arm O(n²)), compute ground-truth "
        "matches (levenshtein <= 2 within nation, brute force over "
        "the SAMPLE only — the price of a truth arm, CONSTANT pair "
        "mass by construction, exactly like production recall audits) "
        "and the "
        "TRUE FastSS 2-deletion-neighborhood candidates on the same "
        "sample: each record keys on every string obtainable by "
        "REMOVING 0, 1, or 2 characters from the 9-digit id block "
        "(1+9+36 = 46 variants; variant length encodes depth, so one "
        "string-equality join covers all depth pairings). n_missed "
        "MUST be 0 by the FastSS theorem (Bocek et al. 2007): an "
        "optimal alignment with s subs, d dels, i ins (s+d+i <= 2) "
        "leaves a common subsequence reachable by deleting s+d <= 2 "
        "chars from the left and s+i <= 2 from the right — EVERY edit "
        "shape, including the insert+delete digit-window shifts that "
        "r7's position-MASK keys provably missed (masks only align "
        "same-position substitutions; measured at sf0.1 they dropped "
        "1016 of 16858 truth pairs — the r8 fix this row now guards "
        "against regressing). reduction_x states the measured "
        "candidate-volume win over nation-only blocking. Integer "
        "columns end to end; the one ratio is a single rounded "
        "division.",
)
def q_linkage_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    s = (_bounded_key_sample(c, "c_custkey", 4, 3750)
         .select("c_custkey", "c_nationkey", "c_name")
         .localCheckpoint(eager=False))
    ta = s.select(F.col("c_custkey").alias("l"),
                  F.col("c_nationkey").alias("nk"),
                  F.col("c_name").alias("ln"))
    tb = s.select(F.col("c_custkey").alias("r"),
                  F.col("c_nationkey").alias("nk"),
                  F.col("c_name").alias("rn"))
    truth = (ta.join(tb, "nk").where(F.col("l") < F.col("r"))
             .where(F.levenshtein("ln", "rn", 2) >= 0)
             .select("l", "r").localCheckpoint(eager=False))
    segs = s.select(F.col("c_custkey").alias("k"),
                    F.col("c_nationkey").alias("nk"),
                    F.explode(_deletion_neighborhood(
                        F.substring("c_name", 10, 9), 9, 2)).alias("seg"))
    ca = segs.select(F.col("k").alias("l"), "nk", "seg")
    cb = segs.select(F.col("k").alias("r"), "nk", "seg")
    cand = (ca.join(cb, ["nk", "seg"])
            .where(F.col("l") < F.col("r"))
            .select("l", "r").distinct().localCheckpoint(eager=False))
    np_ = (s.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("c"))
           .agg(F.sum(F.expr("c * (c - 1) DIV 2")).cast("long")
                .alias("n_nation_pairs")))
    missed = (truth.join(cand, ["l", "r"], "left_anti")
              .agg(F.count(F.lit(1)).cast("long").alias("n_missed")))

    def one(df, name):
        return F.broadcast(df.agg(F.count(F.lit(1)).cast("long")
                                  .alias(name)))

    return (one(s, "n_sample")
            .crossJoin(one(truth, "n_truth"))
            .crossJoin(one(cand, "n_candidates"))
            .crossJoin(F.broadcast(np_))
            .crossJoin(F.broadcast(missed))
            .select("n_sample", "n_truth", "n_candidates",
                    "n_nation_pairs", "n_missed",
                    F.round(F.col("n_nation_pairs").cast("double")
                            / F.col("n_candidates"), 2)
                    .alias("reduction_x")))


@register(
    "q_segment_revenue_concentration",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey,
               SUM(o.o_totalprice) AS rev
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    ranked AS (
        SELECT segment, c_custkey, rev,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY rev DESC, c_custkey) AS rk,
               COUNT(*) OVER (PARTITION BY segment) AS n,
               SUM(rev) OVER (PARTITION BY segment) AS seg_rev
        FROM rev)
    SELECT segment,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(SUM(CASE WHEN rk <= CEIL(n * 0.2) THEN rev
                          ELSE 0 END) / MAX(seg_rev), 4) AS top20_share,
           ROUND(MAX(CASE WHEN rk = 1 THEN rev ELSE 0 END)
                 / MAX(seg_rev), 4) AS top1_share
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
    doc="Revenue CONCENTRATION per market segment — the Pareto "
        "receipt next to q_customer_gini_spend's single coefficient: "
        "what share of a segment's revenue its top-20%% (and single "
        "top) customers carry, with the (revenue DESC, custkey) rank "
        "pinned as a total order. Every window is PARTITIONED BY "
        "SEGMENT — concentration is a within-partition prefix "
        "question, so the plan is one join-aggregate plus keyed "
        "windows sharing one exchange, no global sort and no "
        "empty-partition-spec window anywhere; at 100 TB each "
        "segment's customer list sorts inside its own partition "
        "(salt a mega-segment before the window if one ever "
        "dominates).",
)
def q_segment_revenue_concentration(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    rev = (c.join(o, o["o_custkey"] == c["c_custkey"])
           .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
           .agg(F.sum("o_totalprice").alias("rev")))
    wseg = Window.partitionBy("segment")
    ranked = (rev
              .withColumn("rk", F.row_number().over(
                  wseg.orderBy(F.desc("rev"), "c_custkey")))
              .withColumn("n", F.count(F.lit(1)).over(wseg))
              .withColumn("seg_rev", F.sum("rev").over(wseg)))
    return (ranked.groupBy("segment")
            .agg(F.max("n").cast("long").alias("n_customers"),
                 F.round(F.sum(F.when(
                     F.col("rk") <= F.ceil(F.col("n") * 0.2),
                     F.col("rev")).otherwise(0.0))
                     / F.max("seg_rev"), 4).alias("top20_share"),
                 F.round(F.max(F.when(F.col("rk") == 1, F.col("rev"))
                               .otherwise(0.0))
                         / F.max("seg_rev"), 4).alias("top1_share"))
            .orderBy("segment"))


@register(
    "q_recs_association_rules",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS item
        FROM lineitem),
    supp AS (SELECT item, COUNT(*) AS s FROM basket GROUP BY item),
    n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM basket),
    pair AS (
        SELECT a.item AS ante, b.item AS cons, COUNT(*) AS s_ab
        FROM basket a JOIN basket b
          ON a.ok = b.ok AND a.item <> b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= 3),
    rules AS (
        SELECT p.ante, p.cons, p.s_ab,
               ROUND(p.s_ab::DOUBLE / sa.s::DOUBLE, 4) AS confidence,
               ROUND((p.s_ab * n.n_baskets)::DOUBLE
                     / (sa.s * sb.s)::DOUBLE, 4) AS lift
        FROM pair p
        JOIN supp sa ON sa.item = p.ante
        JOIN supp sb ON sb.item = p.cons, n)
    SELECT ante, cons, CAST(s_ab AS BIGINT) AS support, confidence, lift
    FROM rules
    ORDER BY lift DESC, ante, cons LIMIT 20
    """,
    doc="ASSOCIATION RULES over co-purchase baskets (order = basket, "
        "item = part): directed rules A->B with support >= 3, "
        "confidence supp(AB)/supp(A) and lift confidence / "
        "base-rate(B) — the market-basket member of the recs family "
        "(q_recs_item_knn is the embedding-side analog; this is the "
        "count-side one). Candidate pairs come from the WITHIN-BASKET "
        "self-join, so the fanout is sum over baskets of "
        "items-per-basket^2 (order-bounded, ~4 items avg on this "
        "fixture), never catalog^2; item supports and the basket "
        "total are broadcast joins onto the pair aggregate. All "
        "measures are ratios of integers — hash-exact; top-20 by the "
        "(lift, ante, cons) total order via TakeOrderedAndProject.",
)
def q_recs_association_rules(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    basket = (li.select(F.col("l_orderkey").alias("ok"),
                        F.col("l_partkey").alias("item"))
              .distinct()
              .localCheckpoint(eager=False))  # feeds pairs + supports
    supp = basket.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    n = basket.agg(F.countDistinct("ok").alias("n_baskets"))
    a = basket.select("ok", F.col("item").alias("ante"))
    b = basket.select("ok", F.col("item").alias("cons"))
    pair = (a.join(b, "ok")
            .where(F.col("ante") != F.col("cons"))
            .groupBy("ante", "cons")
            .agg(F.count(F.lit(1)).alias("s_ab"))
            .where(F.col("s_ab") >= 3))
    sa = supp.select(F.col("item").alias("ante"), F.col("s").alias("sa"))
    sb = supp.select(F.col("item").alias("cons"), F.col("s").alias("sb"))
    conf = F.col("s_ab").cast("double") / F.col("sa").cast("double")
    # single-division form: integer products are exact in double, so
    # both engines produce the identical quotient (a conf/(sb/n) chain
    # differed in the 4th decimal from associativity alone)
    lift = ((F.col("s_ab") * F.col("n_baskets")).cast("double")
            / (F.col("sa") * F.col("sb")).cast("double"))
    return (pair.join(sa, "ante").join(sb, "cons")
            .crossJoin(F.broadcast(n))
            .select("ante", "cons",
                    F.col("s_ab").cast("long").alias("support"),
                    F.round(conf, 4).alias("confidence"),
                    F.round(lift, 4).alias("lift"))
            .orderBy(F.desc("lift"), "ante", "cons").limit(20))


@register(
    "q_orders_bullwhip",
    oracle="""
    WITH demand AS (
        SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m')
                   AS month,
               SUM(l.l_quantity) AS qty,
               COUNT(DISTINCT o.o_orderkey) AS n_orders
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1),
    st AS (
        SELECT COUNT(*) AS n_months,
               AVG(qty)::DOUBLE AS mu_q, STDDEV_SAMP(qty)::DOUBLE AS sd_q,
               AVG(n_orders)::DOUBLE AS mu_o,
               STDDEV_SAMP(n_orders)::DOUBLE AS sd_o
        FROM demand)
    SELECT CAST(n_months AS BIGINT) AS n_months,
           ROUND(sd_o / mu_o, 6) AS cv_orders,
           ROUND(sd_q / mu_q, 6) AS cv_quantity,
           ROUND((sd_o / mu_o) / (sd_q / mu_q), 4) AS bullwhip_ratio,
           ((sd_o / mu_o) / (sd_q / mu_q) > 1.0) AS amplifying
    FROM st
    """,
    doc="BULLWHIP ratio over the monthly series: the coefficient of "
        "variation of upstream signal (order counts) over the CV of "
        "downstream demand (total line quantity) — Lee et al.'s "
        "demand-amplification diagnostic; > 1 means order placement "
        "is NOISIER than the demand it serves (batching/panic "
        "ordering), the classic supply-chain instability smell. One "
        "fact join collapsed to a ~84-row monthly table, then a "
        "single global aggregate of that bounded table; all moments "
        "derive from integer monthly sums so both engines agree to "
        "the rounding.",
)
def q_orders_bullwhip(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    o, li = cat.table("orders"), cat.table("lineitem")
    demand = (o.join(li, li["l_orderkey"] == o["o_orderkey"])
              .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"),
                                     "yyyy-MM").alias("month"))
              .agg(F.sum("l_quantity").alias("qty"),
                   F.countDistinct("o_orderkey").alias("n_orders")))
    st = demand.agg(
        F.count(F.lit(1)).alias("n_months"),
        F.avg("qty").alias("mu_q"), F.stddev_samp("qty").alias("sd_q"),
        F.avg("n_orders").alias("mu_o"),
        F.stddev_samp("n_orders").alias("sd_o"))
    cv_o = F.col("sd_o") / F.col("mu_o")
    cv_q = F.col("sd_q") / F.col("mu_q")
    return st.select(
        F.col("n_months").cast("long").alias("n_months"),
        F.round(cv_o, 6).alias("cv_orders"),
        F.round(cv_q, 6).alias("cv_quantity"),
        F.round(cv_o / cv_q, 4).alias("bullwhip_ratio"),
        (cv_o / cv_q > 1.0).alias("amplifying"))


@register(
    "q_customer_lorenz_curve",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, c.c_custkey,
               SUM(o.o_totalprice) AS rev
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    ranked AS (
        SELECT nation, rev,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY rev, c_custkey) AS rk,
               COUNT(*) OVER (PARTITION BY nation) AS n,
               SUM(rev) OVER (PARTITION BY nation) AS tot
        FROM rev),
    cum AS (
        SELECT nation, rk, n, tot,
               SUM(rev) OVER (PARTITION BY nation ORDER BY rk
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS crev
        FROM ranked)
    SELECT nation, CAST(d AS BIGINT) AS decile,
           ROUND(MAX(crev / tot), 6) AS cum_rev_share
    FROM (SELECT nation, crev, tot,
                 CAST(CEIL(rk * 10.0 / n) AS BIGINT) AS d
          FROM cum) t
    GROUP BY nation, d
    ORDER BY nation, decile
    """,
    doc="LORENZ CURVE points per nation — the full concentration "
        "curve behind q_customer_gini_spend's single coefficient: "
        "customers ranked ASCENDING by spend inside their nation "
        "((rev, custkey) total order), cumulative revenue share "
        "sampled at each within-nation decile boundary (the max "
        "cumulative share inside decile d). Reading: row (n, 5, "
        "0.18) = the bottom half of nation n's customers carry 18% "
        "of its revenue; the gap to the diagonal IS the Gini. Every "
        "window keyed by nation (25 bounded partitions); the decile "
        "fold is one groupBy over the ranked rows. Shares are "
        "DECIMAL-sum ratios rounded at 6 dp.",
)
def q_customer_lorenz_curve(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    cat = Catalog(spark, sf_dir)
    c, n, o = (cat.table(t) for t in ("customer", "nation", "orders"))
    rev = (c.join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
           .join(o, o["o_custkey"] == c["c_custkey"])
           .groupBy(F.col("n_name").alias("nation"), "c_custkey")
           .agg(F.sum("o_totalprice").alias("rev")))
    wn = Window.partitionBy("nation")
    ranked = (rev
              .withColumn("rk", F.row_number().over(
                  wn.orderBy("rev", "c_custkey")))
              .withColumn("n", F.count(F.lit(1)).over(wn))
              .withColumn("tot", F.sum("rev").over(wn)))
    cum = ranked.withColumn(
        "crev", F.sum("rev").over(
            wn.orderBy("rk").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)))
    return (cum.withColumn("decile",
                           F.ceil(F.col("rk") * 10.0 / F.col("n"))
                           .cast("long"))
            .groupBy("nation", "decile")
            .agg(F.round(F.max(F.col("crev") / F.col("tot")), 6)
                 .alias("cum_rev_share"))
            .orderBy("nation", "decile"))
