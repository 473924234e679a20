"""Second tranche of the relational surface: pivot, approximate distinct,
exact percentiles, full-outer/cross joins, correlated subqueries,
multiset set-ops, array/map expressions, and the reference's gender
enrichment (F1) as an oracle-checked query.

Everything stays declarative DataFrame code; the point of each query is
the *plan shape* Catalyst produces (conditional aggregation for pivot,
partial HLL sketches for approx distinct, a single shuffle for the
correlated-subquery rewrite), not just the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import local_df, register


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@register(
    "q_pivot",
    oracle=f"""
    SELECT c_nationkey,
           {", ".join(f"COUNT(*) FILTER (WHERE c_mktsegment = '{s}') AS n_{s.lower()}"
                      for s in _SEGMENTS)}
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="Pivot (long->wide): groupBy().pivot() with an explicit value list "
        "(one pass, no value-discovery job; Catalyst compiles to "
        "conditional counts == the oracle's FILTER aggregates).",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    out = (c.groupBy("c_nationkey").pivot("c_mktsegment", _SEGMENTS)
           .agg(F.count(F.lit(1))))
    renamed = out.select(
        "c_nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in _SEGMENTS])
    return renamed


@register(
    "q_approx_distinct",
    oracle="""
    SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="approx_count_distinct via HLL++: at <= 25 distinct values the "
        "sketch is in sparse mode and exact, so the exact-oracle comparison "
        "is valid while still exercising the approximate-agg physical plan.",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = Catalog(spark, sf_dir).table("region")
    n = Catalog(spark, sf_dir).table("nation")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.approx_count_distinct("n_nationkey").alias("n_nations"))
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           ROUND(MAX(o_totalprice), 2)                 AS p_max
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (Spark `percentile` == DuckDB "
        "quantile_cont). The approx path (percentile_approx / t-digest) "
        "is the 100 TB default but is engine-specific, so the exact form "
        "carries the oracle.",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
        F.round(F.max("o_totalprice"), 2).alias("p_max"),
    )


@register(
    "q_join_full_outer",
    oracle="""
    WITH cust_n AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust
                    FROM customer GROUP BY c_nationkey),
         supp_n AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp
                    FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cust_n.k, supp_n.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM cust_n FULL OUTER JOIN supp_n ON cust_n.k = supp_n.k
    """,
    doc="Full outer join of two aggregates (nations with customers only, "
        "suppliers only, or both).",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (Catalog(spark, sf_dir).table("customer").groupBy(F.col("c_nationkey").alias("k"))
         .agg(F.count(F.lit(1)).alias("n_cust")))
    s = (Catalog(spark, sf_dir).table("supplier").groupBy(F.col("s_nationkey").alias("k"))
         .agg(F.count(F.lit(1)).alias("n_supp")))
    return (
        c.join(s, "k", "full_outer")
        .select(
            F.col("k").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "q_cross_join",
    oracle="""
    SELECT r.r_name, s.o_orderstatus, COUNT(*) AS n
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    GROUP BY r.r_name, s.o_orderstatus
    """,
    doc="Cartesian product of two tiny inputs (dimension scaffolding; "
        "Catalyst plans BroadcastNestedLoopJoin).",
)
def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = Catalog(spark, sf_dir).table("region").select("r_name")
    s = Catalog(spark, sf_dir).table("orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).groupBy("r_name", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"))


@register(
    "q_correlated_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders i
                              WHERE i.o_custkey = o.o_custkey)
    """,
    doc="Correlated scalar subquery (rows above 2x their customer's own "
        "average). Catalyst decorrelates to one aggregate + equi-join — "
        "the same single-shuffle plan as the manual window formulation.",
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return cat.spark.sql("""
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS price
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders i
                                  WHERE i.o_custkey = o.o_custkey)
    """)


@register(
    "q_in_subquery",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                          JOIN region ON n_regionkey = r_regionkey
                          WHERE r_name = 'EUROPE')
    """,
    doc="IN-subquery (compiled to left-semi join against a broadcast dim).",
)
def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = Catalog(spark, sf_dir).table("supplier")
    n = Catalog(spark, sf_dir).table("nation")
    r = Catalog(spark, sf_dir).table("region").where(F.col("r_name") == "EUROPE")
    eu = n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey")
    return (s.join(eu, s.s_nationkey == eu.n_nationkey, "left_semi")
            .select("s_suppkey", "s_name"))


@register(
    "q_set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="INTERSECT ALL (multiset intersection keeping duplicate "
        "multiplicity min(l, r)).",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    lo = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    hi = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return lo.intersectAll(hi)


@register(
    "q_set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="EXCEPT ALL (multiset difference: multiplicity max(l - r, 0)).",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    lo = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    hi = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return lo.exceptAll(hi)


@register(
    "q_explode_posexplode",
    oracle="""
    WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
                 FROM documents WHERE doc_id < 50)
    SELECT doc_id, CAST(pos - 1 AS INT) AS pos, tok
    FROM (SELECT doc_id, UNNEST(toks) AS tok,
                 generate_subscripts(toks, 1) AS pos
          FROM tok) t
    WHERE pos - 1 < 5
    """,
    doc="Lateral array explode with position (UDTF-style row generation "
        "from array columns).",
)
def q_explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import tokens
    d = Catalog(spark, sf_dir).table("documents").where(F.col("doc_id") < 50)
    return (
        d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
        .where(F.col("pos") < 5)
    )


@register(
    "q_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding)                                        AS dim,
           ROUND(list_sum(list_transform(embedding, x -> x::DOUBLE)), 4)    AS vsum,
           ROUND(list_max(list_transform(embedding, x -> x::DOUBLE)), 4)    AS vmax,
           ROUND(list_sum(list_transform(embedding,
                 x -> CASE WHEN x::DOUBLE > 0 THEN x::DOUBLE ELSE 0 END)), 4) AS pos_sum
    FROM embeddings WHERE vec_id < 100
    """,
    doc="Array higher-order functions (size/aggregate/transform/filter) "
        "over embedding columns — all inside codegen.",
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings").where(F.col("vec_id") < 100)
    dsum = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double"))
    dmax = F.array_max(F.transform("embedding", lambda x: x.cast("double")))
    psum = F.aggregate("embedding", F.lit(0.0),
                       lambda a, x: a + F.when(x > 0, x.cast("double")).otherwise(0.0))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(dsum, 4).alias("vsum"),
        F.round(dmax, 4).alias("vmax"),
        F.round(psum, 4).alias("pos_sum"),
    )


# --------------------------------------------------------------------------
# Reference F1: gender enrichment as an oracle-checked query.
# --------------------------------------------------------------------------

# Deterministic lookup (FIXTURES.md `name_gender_lookup` shape) — embedded
# so Spark and the SQL oracle share one source of truth.
_GENDER_LOOKUP = [
    ("alice", "female"), ("bob", "male"), ("carol", "female"),
    ("dave", "male"), ("erin", "female"), ("frank", "male"),
    ("grace", "female"), ("henry", "male"), ("ivy", "mostly_female"),
    ("jordan", "mostly_male"), ("kim", "andy"), ("lee", "mostly_male"),
]
_FIRST_NAMES = [n for n, _ in _GENDER_LOOKUP] + ["zorp", "qux"]


def _gender_oracle() -> str:
    lookup_rows = ", ".join(f"('{n}', '{g}')" for n, g in _GENDER_LOOKUP)
    names = ", ".join(f"'{n}'" for n in _FIRST_NAMES)
    return f"""
    WITH lookup(first_name, gender) AS (VALUES {lookup_rows}),
    accounts AS (
        SELECT c_custkey,
               'user' || CAST(c_custkey AS VARCHAR) AS username,
               [{names}][CAST(c_custkey % {len(_FIRST_NAMES)} AS INT) + 1]
                   || ' Cust' || CAST(c_custkey AS VARCHAR) AS full_name
        FROM customer),
    fn AS (
        SELECT a.*, l.gender AS g_fn
        FROM accounts a LEFT JOIN lookup l
          ON lower(split_part(a.full_name, ' ', 1)) = l.first_name),
    bth AS (
        SELECT fn.*, l2.gender AS g_un
        FROM fn LEFT JOIN lookup l2
          ON lower(regexp_replace(fn.username, '[^A-Za-z]', '', 'g')) = l2.first_name),
    scored AS (
        SELECT c_custkey, username, full_name,
            CASE WHEN g_fn IN ('male','female') THEN g_fn
                 WHEN g_fn = 'mostly_male' THEN 'male'
                 WHEN g_fn = 'mostly_female' THEN 'female'
                 ELSE 'unknown' END AS p_fn,
            CASE WHEN g_fn IN ('male','female') THEN 0.9
                 WHEN g_fn IN ('mostly_male','mostly_female') THEN 0.5
                 ELSE 0.0 END AS c_fn,
            CASE WHEN g_un IN ('male','female') THEN g_un
                 WHEN g_un = 'mostly_male' THEN 'male'
                 WHEN g_un = 'mostly_female' THEN 'female'
                 ELSE 'unknown' END AS p_un,
            CASE WHEN g_un IN ('male','female') THEN 0.7
                 WHEN g_un IN ('mostly_male','mostly_female') THEN 0.4
                 ELSE 0.0 END AS c_un
        FROM bth)
    SELECT c_custkey, username, full_name,
           CASE WHEN GREATEST(c_fn, c_un) = 0 THEN 'unknown'
                WHEN c_fn >= c_un THEN p_fn ELSE p_un END AS predicted_gender,
           CAST(CASE WHEN c_fn >= c_un THEN c_fn ELSE c_un END AS FLOAT) AS confidence
    FROM scored
    """


@register(
    "q_gender_enrichment",
    oracle=_gender_oracle(),
    doc="Reference F1 parity (scripts/script_api_apify_to_spark.py:18-78): "
        "first-token full-name lookup (conf 0.9/0.5), cleaned-username "
        "fallback (0.7/0.4), best-confidence pick — as a broadcast-join + "
        "when-chain, zero Python UDFs. Account frame derived "
        "deterministically from customer keys so both engines build "
        "identical inputs.",
)
def q_gender_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.gender import enrich_gender_native
    c = Catalog(spark, sf_dir).table("customer")
    names = F.array(*[F.lit(n) for n in _FIRST_NAMES])
    accounts = c.select(
        "c_custkey",
        F.concat(F.lit("user"), F.col("c_custkey").cast("string")).alias("username"),
        F.concat(
            names[(F.col("c_custkey") % len(_FIRST_NAMES)).cast("int")],
            F.lit(" Cust"), F.col("c_custkey").cast("string"),
        ).alias("full_name"),
    )
    lookup = local_df(c.sparkSession, _GENDER_LOOKUP, "first_name string, gender string")
    return enrich_gender_native(accounts, lookup).select(
        "c_custkey", "username", "full_name", "predicted_gender", "confidence")


@register(
    "q_approx_quantile_bound",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice,
               PERCENT_RANK() OVER (ORDER BY o_totalprice) AS pr
        FROM orders
    )
    SELECT COUNT(*) AS n_quantiles,
           COUNT(CASE WHEN within THEN 1 END) AS n_within_bound
    FROM (
        SELECT q, bool_and(ABS(pr - q) <= 0.02) AS within
        FROM ranked, (VALUES (0.25), (0.5), (0.75), (0.9)) AS qs(q)
        WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM ranked r2
                              WHERE r2.pr <= qs.q)
        GROUP BY q
    )
    """,
    doc="Sketch-accuracy floor for the 100 TB quantile path: "
        "approx_percentile (GK sketch, relative-error 0.01) must land "
        "each of four quantiles within rank-error 0.02 of the true "
        "distribution. Spark computes the sketch and verifies each "
        "estimate's true percent-rank via a broadcast of 4 scalars; the "
        "oracle derives the same bound check from the exact "
        "distribution. Companion to q_percentiles the way the recall "
        "floors back the ANN paths.",
)
def q_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    qs = [0.25, 0.5, 0.75, 0.9]
    est = o.agg(F.percentile_approx(
        "o_totalprice", qs, 100).alias("est")).collect()[0]["est"]
    # true rank of each estimate (fraction of rows strictly below it),
    # all four plus the total in ONE aggregate job
    ranks = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(F.when(F.col("o_totalprice") < e, 1)).alias(f"r{i}")
          for i, e in enumerate(est)]).collect()[0]
    denom = max(ranks["n"] - 1, 1)
    checks = [abs(ranks[f"r{i}"] / denom - q) <= 0.02
              for i, q in enumerate(qs)]
    return local_df(spark, 
        [(len(qs), sum(checks))],
        "n_quantiles long, n_within_bound long")


@register(
    "q_unpivot",
    oracle=f"""
    WITH keys AS (SELECT DISTINCT c_nationkey FROM customer),
    segs AS (SELECT unnest([{", ".join(f"'{s}'" for s in _SEGMENTS)}]) AS seg),
    cnt AS (SELECT c_nationkey, c_mktsegment AS seg, COUNT(*) AS n
            FROM customer GROUP BY 1, 2)
    SELECT k.c_nationkey,
           'n_' || lower(s.seg) AS segment,
           COALESCE(cnt.n, 0) AS n
    FROM keys k CROSS JOIN segs s
    LEFT JOIN cnt ON cnt.c_nationkey = k.c_nationkey AND cnt.seg = s.seg
    """,
    doc="Unpivot / melt (wide->long): the pivot round-trip — the "
        "q_pivot wide table (per-nation segment counts incl. explicit "
        "zeros) melts back to (key, variable, value) rows via "
        "DataFrame.unpivot, which Catalyst compiles to a zero-shuffle "
        "Expand node (each input row fans out to n_variables rows "
        "map-side). The oracle rebuilds the same long form from the "
        "dense key x segment grid. Together with q_pivot this closes "
        "the reshape pair every reporting layer needs.",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    wide = (c.groupBy("c_nationkey").pivot("c_mktsegment", _SEGMENTS)
            .agg(F.count(F.lit(1))))
    wide = wide.select(
        "c_nationkey",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}")
          for s in _SEGMENTS])
    return wide.unpivot(
        ids=["c_nationkey"],
        values=[f"n_{s.lower()}" for s in _SEGMENTS],
        variableColumnName="segment", valueColumnName="n")


@register(
    "q_group_concat",
    oracle="""
    SELECT r_name,
           COUNT(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Group concatenation (LISTAGG / string_agg): per region, the "
        "member nations as one deterministic comma-joined string — "
        "collect_list is order-nondeterministic under parallel "
        "aggregation, so the engine sorts the array before joining "
        "(array_sort + concat_ws), matching the oracle's "
        "string_agg(... ORDER BY). The denormalization every export/"
        "report layer asks for; safe only where groups are bounded "
        "(collect_list materializes the group in memory — at 100 TB "
        "guard with a size cap or slice(array_sort(...), 1, k)).",
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = Catalog(spark, sf_dir).table("region")
    n = Catalog(spark, sf_dir).table("nation")
    return (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_nations"),
                 F.concat_ws(",", F.array_sort(F.collect_list("n_name")))
                 .alias("nations")))


@register(
    "q_customer_mode_priority",
    oracle="""
    WITH joined AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cnt AS (SELECT seg, pri, COUNT(*) AS c FROM joined GROUP BY seg, pri),
    ranked AS (
        SELECT seg, pri, c,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY c DESC, pri ASC) AS rn
        FROM cnt)
    SELECT seg AS c_mktsegment, pri AS modal_priority,
           CAST(c AS BIGINT) AS n_orders
    FROM ranked WHERE rn = 1
    """,
    doc="Exact per-group MODE via the count-then-argmax pattern: the "
        "modal order priority per market segment, deterministic tie-"
        "break (count DESC, value ASC). This is THE scalable exact-"
        "mode shape at 100 TB: a map-side-combined groupBy collapses "
        "the data to |groups| x |distinct values| rows (here 5 x 5), "
        "and the argmax window runs over that TINY aggregate — never "
        "over raw rows — so the only full-data exchange is the keyed "
        "count. (Spark's built-in F.mode is non-deterministic on ties "
        "and single-valued; the explicit form pins the tie-break and "
        "exposes the count, which is what a data audit wants.) The "
        "customer dim joins broadcast, so the fact side never "
        "shuffles for the join either.",
)
def q_customer_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = Catalog(spark, sf_dir).table("orders")
    c = Catalog(spark, sf_dir).table("customer").select("c_custkey", "c_mktsegment")
    cnt = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .groupBy(F.col("c_mktsegment").alias("seg"),
                    F.col("o_orderpriority").alias("pri"))
           .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("seg").orderBy(F.desc("c"), F.asc("pri"))
    return (cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("seg").alias("c_mktsegment"),
                    F.col("pri").alias("modal_priority"),
                    F.col("c").cast("long").alias("n_orders")))
