"""Graph analytics over derived relational graphs.

Connected components live in ``operators/dedup.py`` (min-label
propagation for the near-dup graph); this module adds the other
canonical iterative-graph workload: weighted PageRank, over the
nation-to-nation trade graph derived from orders/lineitem (edge
cust_nation -> supp_nation weighted by line count).

The iteration count is FIXED (3), so the whole computation is one lazy
DAG — three chained join+aggregate layers over a cached edge table, no
driver-side loop actions at all (contrast the BPE trainer, whose
arg-max per round genuinely needs an action). The oracle unrolls the
same three iterations as CTEs. At 100 TB the edge table is
nation-pair-sized (tiny) here; for a billion-node graph the same plan
shape shuffles (node, rank) pairs per iteration — the standard Pregel
realization as DataFrame joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import register

DAMPING = 0.85
N_ITER = 3

_EDGES_SQL = """
    edges AS (
        SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2),
    outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout
             FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT name FROM (
        SELECT src AS name FROM edges UNION SELECT dst FROM edges)),
    nn AS (SELECT COUNT(*) AS n FROM nodes)"""


def _trade_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ lineitem ⋈ supplier ⋈ nation: one row
    per line item, carrying its customer nation ``src`` and supplier
    nation ``dst`` — the join every nation-trade-graph query starts from
    (``_EDGES_SQL`` is its oracle twin)."""
    cat = Catalog(spark, sf_dir)
    o, c, li, s, n = (cat.table(t) for t in
                      ("orders", "customer", "lineitem", "supplier", "nation"))
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("src"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("dst"))
    return (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
            .join(li, F.col("l_orderkey") == o.o_orderkey)
            .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk")))


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade graph's directed edges (src, dst, w = line count)."""
    return (_trade_rows(spark, sf_dir)
            .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")))


def _nodes(edges: DataFrame) -> DataFrame:
    """Distinct endpoint names of ``edges`` as column ``name``."""
    return (edges.select(F.col("src").alias("name"))
            .union(edges.select(F.col("dst").alias("name"))).distinct())


def _out_fractions(edges: DataFrame) -> DataFrame:
    """(src, dst, frac): each edge's share of its source's out-weight."""
    outs = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    return (edges.join(outs, "src")
            .select("src", "dst", (F.col("w") / F.col("wout")).alias("frac")))


def _inflow(frac: DataFrame, ranks: DataFrame) -> DataFrame:
    """(dst, mass): the rank (name, r) each node receives along ``frac``
    — one Pregel step's src join and dst aggregate."""
    return (frac.join(ranks.select(F.col("name").alias("src"),
                                   F.col("r").alias("pr")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("frac")).alias("mass")))


def _triangles(ue: DataFrame) -> DataFrame:
    """Each triangle of the undirected edges ``ue`` (u < v) once, as the
    join e1=(a,b) ⋈ e2=(a,c) ⋈ e3=(b,c) with a < b < c (aliases e1-e3)."""
    e1, e2, e3 = ue.alias("e1"), ue.alias("e2"), ue.alias("e3")
    return (e1.join(e2, (F.col("e2.u") == F.col("e1.u"))
                    & (F.col("e2.v") > F.col("e1.v")))
            .join(e3, (F.col("e3.u") == F.col("e1.v"))
                  & (F.col("e3.v") == F.col("e2.v"))))


def _undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges (u < v) of ``edges``, self-loops dropped."""
    return (edges.where(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("u"),
                    F.greatest("src", "dst").alias("v"))
            .distinct())


def _pagerank_oracle(n_iter: int) -> str:
    parts = ["    WITH" + _EDGES_SQL + """,
    r0 AS (SELECT name, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    r{i} AS (
        SELECT n.name,
               (1.0 - {DAMPING}) / ANY_VALUE(nn.n)
               + {DAMPING} * COALESCE(SUM(p.r * e.w / o.wout), 0) AS r
        FROM nodes n
        CROSS JOIN nn
        LEFT JOIN edges e ON e.dst = n.name
        LEFT JOIN r{i-1} p ON p.name = e.src
        LEFT JOIN outs o ON o.src = e.src
        GROUP BY n.name)""")
    return "".join(parts) + f"""
    SELECT name AS nation, ROUND(r, 6) + 0.0 AS pagerank FROM r{n_iter}"""


@register(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(N_ITER),
    doc=f"Weighted PageRank ({N_ITER} iterations, damping {DAMPING}) "
        "over the nation trade graph (cust_nation -> supp_nation, edge "
        "weight = line count): the canonical iterative-graph workload "
        "beside connected components, expressed as the Pregel pattern "
        "in DataFrame form — per iteration, ranks join edges on src, "
        "contributions aggregate on dst. The iteration count is fixed, "
        "so the WHOLE computation is one lazy DAG (no driver loop "
        "actions); the oracle unrolls the identical three iterations. "
        "Contributions r*w/wout are rounded at 6 dp on both sides so "
        "in-edge summation order can't flip the hash.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir)
    nodes = _nodes(edges)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = (nodes.crossJoin(F.broadcast(nn))
             .select("name", (F.lit(1.0) / F.col("n")).alias("r")))
    frac = _out_fractions(edges)
    for _ in range(N_ITER):
        contribs = _inflow(frac, ranks)
        ranks = (nodes.join(contribs, nodes.name == contribs.dst, "left")
                 .crossJoin(F.broadcast(nn))
                 .select("name",
                         ((1.0 - DAMPING) / F.col("n")
                          + DAMPING * F.coalesce(F.col("mass"), F.lit(0.0)))
                         .alias("r")))
    return ranks.select(F.col("name").alias("nation"),
                        (F.round(F.col("r"), 6) + F.lit(0.0)).alias("pagerank"))


@register(
    "q_graph_triangles",
    oracle="WITH" + _EDGES_SQL + """,
    ue AS (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM edges WHERE src <> dst)
    SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM ue) AS n_edges,
           (SELECT COUNT(*)
            FROM ue e1 JOIN ue e2 ON e2.u = e1.u AND e2.v > e1.v
                       JOIN ue e3 ON e3.u = e1.v AND e3.v = e2.v)
           AS n_triangles
    """,
    doc="Triangle count over the undirected nation trade graph (same "
        "edge derivation as PageRank; self-loops dropped, edges "
        "canonicalized u < v): the standard two-join enumeration "
        "e1=(a,b), e2=(a,c), e3=(b,c) with a < b < c counting each "
        "triangle exactly once. At scale this is the degree-ordered "
        "triangle algorithm's join shape — each join shuffles on a "
        "node key, candidate wedges are pruned by the v > e1.v "
        "predicate before the closing-edge join.",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_rows(spark, sf_dir).select("src", "dst").distinct()
    ue = _undirected(edges)
    nodes = _nodes(edges)
    tri = (_triangles(ue)
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    return (nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
            .crossJoin(F.broadcast(ue.agg(F.count(F.lit(1)).alias("n_edges"))))
            .crossJoin(F.broadcast(tri)))


@register(
    "q_graph_degrees",
    oracle="WITH" + _EDGES_SQL + """,
    ue AS (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM edges WHERE src <> dst),
    deg AS (
        SELECT name, COUNT(*) AS degree FROM (
            SELECT u AS name FROM ue UNION ALL SELECT v FROM ue)
        GROUP BY name)
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
    doc="Degree distribution of the undirected trade graph (histogram "
        "of node degrees): the first diagnostic of any graph workload "
        "— heavy-tailed degrees predict skewed joins in PageRank/"
        "components/triangles and decide whether high-degree vertices "
        "need the salting valve. Edge endpoints unioned and counted "
        "per node, then a tiny histogram aggregate; both shuffles are "
        "node-keyed with map-side partials.",
)
def q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_rows(spark, sf_dir).select("src", "dst").distinct()
    ue = _undirected(edges)
    deg = (ue.select(F.col("u").alias("name"))
           .unionAll(ue.select(F.col("v").alias("name")))
           .groupBy("name").agg(F.count(F.lit(1)).alias("degree")))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@register(
    "q_graph_trade_balance",
    oracle="WITH" + _EDGES_SQL + """,
    w AS (
        SELECT cn.n_name AS src, sn.n_name AS dst,
               SUM(l_extendedprice * (1 - l_discount)) AS v
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2),
    outf AS (SELECT src AS nation, SUM(v) AS imports FROM w GROUP BY src),
    inf AS (SELECT dst AS nation, SUM(v) AS exports FROM w GROUP BY dst)
    SELECT n.name AS nation,
           ROUND(COALESCE(inf.exports, 0), 2) AS exports,
           ROUND(COALESCE(outf.imports, 0), 2) AS imports,
           ROUND(COALESCE(inf.exports, 0) - COALESCE(outf.imports, 0), 2)
               AS net_balance
    FROM nodes n
    LEFT JOIN inf ON inf.nation = n.name
    LEFT JOIN outf ON outf.nation = n.name
    """,
    doc="Trade balance per nation over the weighted flow graph "
        "(exports = value supplied to other nations' customers, "
        "imports = value bought from other nations' suppliers, "
        "net = exports - imports): the flow-conservation aggregate "
        "beside PageRank/triangles/degrees on the same edge "
        "derivation. Two directional aggregates of the edge table "
        "(nation-pair-sized) left-joined to the node list — edge "
        "construction is the only fact-table work.",
)
def q_graph_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (_trade_rows(spark, sf_dir)
         .groupBy("src", "dst")
         .agg(F.sum(F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))).alias("v")))
    nodes = _nodes(w)
    imports = w.groupBy(F.col("src").alias("nation")).agg(
        F.sum("v").alias("imports"))
    exports = w.groupBy(F.col("dst").alias("nation")).agg(
        F.sum("v").alias("exports"))
    return (nodes
            .join(exports, nodes.name == exports.nation, "left").drop("nation")
            .join(imports, nodes.name == imports.nation, "left").drop("nation")
            .select(F.col("name").alias("nation"),
                    F.round(F.coalesce("exports", F.lit(0.0)), 2)
                    .alias("exports"),
                    F.round(F.coalesce("imports", F.lit(0.0)), 2)
                    .alias("imports"),
                    F.round(F.coalesce("exports", F.lit(0.0))
                            - F.coalesce("imports", F.lit(0.0)), 2)
                    .alias("net_balance")))


@register(
    "q_graph_adamic_adar",
    oracle="""
    WITH bip AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    deg AS (SELECT p, COUNT(*) AS np FROM bip GROUP BY p),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2,
               SUM(1.0 / ln(d.np)) AS aa,
               COUNT(*) AS shared_parts
        FROM bip a
        JOIN bip b ON a.p = b.p AND a.s < b.s
        JOIN deg d ON d.p = a.p
        WHERE d.np >= 2
        GROUP BY 1, 2)
    SELECT s1, s2, ROUND(aa, 6) + 0.0 AS aa, shared_parts
    FROM pairs
    ORDER BY aa DESC, s1, s2
    LIMIT 20
    """,
    doc="Adamic-Adar link prediction between suppliers via co-supplied "
        "parts: AA(u,v) = sum over shared parts of 1/ln(#suppliers of "
        "the part) — rare shared parts say more than ubiquitous ones. "
        "Same inverted-index self-join shape as the n-gram Jaccard "
        "dedup (operators/dedup.py): per-part supplier lists joined on "
        "the part key, cost Σ np² never |S|²; a heavy-hitter part is "
        "exactly the df-cap-valve situation and would be capped the "
        "same way at scale (parts with np >= some bound contribute "
        "~1/ln(np) ≈ 0 anyway, so capping is also numerically cheap). "
        "Top-20 via orderBy+limit -> TakeOrderedAndProject with a "
        "total-order tie-break (aa desc, s1, s2).",
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    # the bipartite index feeds the degree table AND both join sides:
    # lazy localCheckpoint runs the lineitem distinct once, not thrice
    bip = li.select(F.col("l_suppkey").alias("s"),
                    F.col("l_partkey").alias("p")).distinct() \
        .localCheckpoint(eager=False)
    deg = bip.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    a = bip.select(F.col("s").alias("s1"), "p")
    b = bip.select(F.col("s").alias("s2"), "p")
    pairs = (a.join(b, "p")
             .where(F.col("s1") < F.col("s2"))
             .join(deg.where(F.col("np") >= 2), "p")
             .groupBy("s1", "s2")
             .agg(F.sum(1.0 / F.log(F.col("np"))).alias("aa_raw"),
                  F.count(F.lit(1)).alias("shared_parts")))
    return (pairs.select("s1", "s2",
                         (F.round("aa_raw", 6) + F.lit(0.0)).alias("aa"),
                         "shared_parts")
            .orderBy(F.col("aa").desc(), "s1", "s2")
            .limit(20))


def _labelprop_cte(n_iter: int) -> str:
    """Shared label-propagation CTE chain (no final SELECT)."""
    parts = ["    WITH" + _EDGES_SQL + """,
    sym AS (
        SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
            SELECT src AS u, dst AS v, w FROM edges WHERE src <> dst
            UNION ALL
            SELECT dst AS u, src AS v, w FROM edges WHERE src <> dst)
        GROUP BY u, v),
    l0 AS (SELECT name AS node, name AS lab FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    v{i} AS (
        SELECT e.u AS node, p.lab, CAST(SUM(e.w) AS BIGINT) AS sw
        FROM sym e JOIN l{i-1} p ON p.node = e.v
        GROUP BY 1, 2),
    b{i} AS (
        SELECT node, lab FROM v{i}
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY node ORDER BY sw DESC, lab) = 1),
    l{i} AS (
        SELECT n.name AS node, COALESCE(b{i}.lab, n.name) AS lab
        FROM nodes n LEFT JOIN b{i} ON b{i}.node = n.name)""")
    return "".join(parts)


def _labelprop_oracle(n_iter: int) -> str:
    return _labelprop_cte(n_iter) + f"""
    SELECT node AS nation, lab AS community FROM l{n_iter}"""


@register(
    "q_graph_label_propagation",
    oracle=_labelprop_oracle(2),
    doc="Community detection by synchronous weighted label propagation "
        "over the undirected nation trade graph (2 fixed iterations): "
        "each node adopts the label carrying the highest total incident "
        "edge weight among its neighbors, ties broken by smallest "
        "label, isolated nodes keep their own — fully deterministic, "
        "so the oracle unrolls the identical trajectory (the usual LP "
        "randomness is exactly what an oracle-checked engine can't "
        "ship). Per iteration: one (node, neighbor-label) weight "
        "aggregate + a node-partitioned argmax window — the Pregel "
        "shape PageRank above uses, with argmax instead of sum as the "
        "combiner. Fixed iterations => one lazy DAG, no driver "
        "actions.",
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (_trade_edges(spark, sf_dir)
             .where(F.col("src") != F.col("dst"))
             # nation-pair-sized; consumed by sym (twice), nodes
             # (twice), and through both propagation rounds
             .localCheckpoint(eager=False))
    labels = _propagate_labels(edges, _nodes(edges))
    return labels.select(F.col("node").alias("nation"),
                         F.col("lab").alias("community"))


def _propagate_labels(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Two rounds of weighted label propagation over ``edges`` made
    symmetric: each node takes its neighbours' heaviest label (ties to
    the smallest), a node without neighbours keeps its own name.
    Returns (node, lab)."""
    sym = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), "w")
           .unionAll(edges.select(F.col("dst").alias("u"),
                                  F.col("src").alias("v"), "w"))
           .groupBy("u", "v").agg(F.sum("w").cast("long").alias("w")))
    labels = nodes.select(F.col("name").alias("node"),
                          F.col("name").alias("lab"))
    win = Window.partitionBy("node").orderBy(F.col("sw").desc(), F.col("lab"))
    for _ in range(2):
        votes = (sym.join(labels.select(F.col("node").alias("v"),
                                        F.col("lab")), "v")
                 .groupBy(F.col("u").alias("node"), "lab")
                 .agg(F.sum("w").cast("long").alias("sw")))
        best = (votes.withColumn("rn", F.row_number().over(win))
                .where(F.col("rn") == 1).select("node", "lab"))
        labels = (nodes.join(best, nodes.name == best.node, "left")
                  .select(F.col("name").alias("node"),
                          F.coalesce("lab", F.col("name")).alias("lab")))
    return labels


N_BF = 3  # Bellman-Ford relaxation rounds (graph diameter bound)


def _bf_oracle(n_iter: int) -> str:
    parts = ["    WITH" + _EDGES_SQL + """,
    ec AS (SELECT src, dst, CAST(CEIL(100000.0 / w) AS BIGINT) AS cost
           FROM edges),
    s AS (SELECT MIN(src) AS sname FROM edges),
    d0 AS (SELECT name, CASE WHEN name = (SELECT sname FROM s)
                             THEN CAST(0 AS BIGINT) END AS d
           FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    relax{i} AS (SELECT ec.dst AS name, MIN(p.d + ec.cost) AS cand
                 FROM ec JOIN d{i - 1} p ON p.name = ec.src
                 WHERE p.d IS NOT NULL GROUP BY ec.dst),
    d{i} AS (SELECT d.name, LEAST(d.d, r.cand) AS d
             FROM d{i - 1} d LEFT JOIN relax{i} r USING (name))""")
    return "".join(parts) + f"""
    SELECT name AS nation, d AS min_cost FROM d{n_iter}"""


@register(
    "q_graph_shortest_cost",
    oracle=_bf_oracle(N_BF),
    doc=f"Single-source shortest path by {N_BF} Bellman-Ford relaxation "
        "rounds over the nation trade graph, edge cost = "
        "ceil(100000 / line-count) so high-traffic routes are cheap and "
        "multi-hop routes can beat thin direct edges — the min-plus "
        "iterate-on-aggregated-state workload beside PageRank (sum-"
        "times) and components (min-label). Source = lexicographic-min "
        "node, resolved IN-PLAN as a broadcast 1-row aggregate. Integer "
        "costs make every distance hash-exact (no float rounding "
        "anywhere). Fixed iteration count => ONE lazy DAG, relaxations "
        "as join+min-aggregate layers; the oracle unrolls the identical "
        "rounds. At 100 TB each round shuffles (node, dist) pairs — "
        "the standard distributed Bellman-Ford.",
)
def q_graph_shortest_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (_trade_edges(spark, sf_dir)
             # nation-pair-sized result of a 5-way fact join, consumed
             # by the cost table, node set, source scalar, and every
             # relaxation layer: materialize once
             .localCheckpoint(eager=False))
    ec = edges.select("src", "dst",
                      F.ceil(F.lit(100000.0) / F.col("w")).alias("cost"))
    nodes = _nodes(edges)
    src1 = edges.agg(F.min("src").alias("sname"))
    dist = (nodes.crossJoin(F.broadcast(src1))
            .select("name", F.when(F.col("name") == F.col("sname"),
                                   F.lit(0).cast("long")).alias("d")))
    for _ in range(N_BF):
        relax = (ec.join(dist.select(F.col("name").alias("src"),
                                     F.col("d").alias("du")), "src")
                 .where(F.col("du").isNotNull())
                 .groupBy("dst")
                 .agg(F.min(F.col("du") + F.col("cost")).alias("cand")))
        dist = (dist.join(relax, dist.name == relax.dst, "left")
                .select("name", F.least(F.col("d"), F.col("cand")).alias("d")))
    return dist.select(F.col("name").alias("nation"),
                       F.col("d").alias("min_cost"))


@register(
    "q_graph_assortativity",
    oracle="""
    WITH""" + _EDGES_SQL + """,
    und AS (SELECT src AS u, dst AS v FROM edges WHERE src <> dst
            UNION SELECT dst, src FROM edges WHERE src <> dst),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
            FROM und GROUP BY u)
    SELECT COUNT(*) AS n_directed_edges,
           ROUND(CORR(da.d, db.d), 6) + 0.0 AS assortativity
    FROM und
    JOIN deg da ON da.node = und.u
    JOIN deg db ON db.node = und.v
    """,
    doc="Degree assortativity of the (undirected) nation trade graph: "
        "Pearson correlation of endpoint degrees over every directed "
        "edge realization (Newman 2002) — positive means hubs trade "
        "with hubs, negative a hub-and-spoke topology; the one-number "
        "structure statistic beside the degree distribution "
        "(q_graph_degrees) and triangle count. Degrees are a "
        "node-sized aggregate broadcast onto the edge list; the "
        "coefficient is the closed-form CORR aggregate (the regr_* "
        "convention), rounded at 6 dp.",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (_trade_edges(spark, sf_dir)
             .where(F.col("src") != F.col("dst"))
             .localCheckpoint(eager=False))
    und = (edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
           .union(edges.select(F.col("dst").alias("u"),
                               F.col("src").alias("v")))
           .distinct())
    deg = und.groupBy(F.col("u").alias("node")) \
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    # corr == covar/(sd*sd) (pop-vs-sample factors cancel); try_divide
    # yields NULL on a degree-regular (e.g. complete) graph, matching
    # DuckDB's CORR, where ANSI F.corr would raise DIVIDE_BY_ZERO
    return (und.join(F.broadcast(da), "u").join(F.broadcast(db), "v")
            .agg(F.count(F.lit(1)).alias("n_directed_edges"),
                 (F.round(F.try_divide(
                     F.covar_pop("du", "dv"),
                     F.stddev_pop("du") * F.stddev_pop("dv")), 6)
                  + F.lit(0.0)).alias("assortativity")))


@register(
    "q_graph_neighbor_jaccard",
    oracle="""
    WITH bip AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (SELECT p, COUNT(*) AS np FROM bip GROUP BY p),
    sdeg AS (SELECT s, COUNT(*) AS d FROM bip GROUP BY s),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
        FROM bip a
        JOIN bip b ON a.p = b.p AND a.s < b.s
        JOIN pdeg ON pdeg.p = a.p
        WHERE pdeg.np BETWEEN 2 AND 1000
        GROUP BY 1, 2)
    SELECT s1, s2, shared,
           ROUND(shared::DOUBLE / (d1.d + d2.d - shared), 6) AS jaccard
    FROM pairs
    JOIN sdeg d1 ON d1.s = s1
    JOIN sdeg d2 ON d2.s = s2
    ORDER BY jaccard DESC, s1, s2
    LIMIT 20
    """,
    doc="Neighborhood Jaccard similarity between suppliers via "
        "co-supplied parts: J(u,v) = |N(u) n N(v)| / |N(u) u N(v)| — "
        "the structural-equivalence link predictor beside Adamic-Adar "
        "(q_graph_adamic_adar weights rare neighbors; Jaccard "
        "normalizes by degree, so hub suppliers can't dominate). "
        "Intersection sizes come from the same inverted-index wedge "
        "join (per-part supplier lists joined on the part key, cost "
        "Sigma np^2 never |S|^2) and the union size is d1 + d2 - "
        "shared from the tiny degree table — no set materialization. "
        "The part-degree valve (2 <= np <= 1000) is LOAD-BEARING here "
        "unlike in Adamic-Adar: a ubiquitous part contributes full "
        "intersection weight, so at 100 TB the cap bounds wedge "
        "volume exactly like the dedup max_df valve, and it is part "
        "of the operator's contract (stated in the oracle, same cap "
        "both engines). Jaccard itself is one exact integer ratio "
        "rounded once; top-20 is TakeOrderedAndProject with a total "
        "order (jaccard desc, s1, s2).",
)
def q_graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    bip = li.select(F.col("l_suppkey").alias("s"),
                    F.col("l_partkey").alias("p")).distinct() \
        .localCheckpoint(eager=False)
    pdeg = bip.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    sdeg = bip.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = bip.select(F.col("s").alias("s1"), "p")
    b = bip.select(F.col("s").alias("s2"), "p")
    pairs = (a.join(b, "p")
             .where(F.col("s1") < F.col("s2"))
             .join(pdeg.where(F.col("np").between(2, 1000)), "p")
             .groupBy("s1", "s2")
             .agg(F.count(F.lit(1)).alias("shared")))
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (pairs.join(F.broadcast(d1), "s1").join(F.broadcast(d2), "s2")
            .select("s1", "s2", "shared",
                    F.round(F.col("shared").cast("double")
                            / (F.col("d1") + F.col("d2") - F.col("shared")),
                            6).alias("jaccard"))
            .orderBy(F.desc("jaccard"), "s1", "s2")
            .limit(20))


@register(
    "q_graph_kcore",
    oracle="""
    WITH bip AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pdeg AS (SELECT p, COUNT(*) AS np FROM bip GROUP BY p),
    e0 AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM bip a
        JOIN bip b ON a.p = b.p AND a.s <> b.s
        JOIN pdeg ON pdeg.p = a.p
        WHERE pdeg.np BETWEEN 2 AND 1000),
    d1 AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    k1 AS (SELECT u AS node FROM d1 WHERE d >= 3),
    e1 AS (SELECT e0.u, e0.v FROM e0
           JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v),
    d2 AS (SELECT u, COUNT(*) AS d FROM e1 GROUP BY u),
    k2 AS (SELECT u AS node FROM d2 WHERE d >= 3),
    e2 AS (SELECT e1.u, e1.v FROM e1
           JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v),
    d3 AS (SELECT u, COUNT(*) AS d FROM e2 GROUP BY u),
    k3 AS (SELECT u AS node FROM d3 WHERE d >= 3)
    SELECT 1 AS iteration, COUNT(*) AS n_nodes FROM k1
    UNION ALL SELECT 2, COUNT(*) FROM k2
    UNION ALL SELECT 3, COUNT(*) FROM k3
    """,
    doc="k-core decomposition (k=3, three peeling rounds) of the "
        "supplier co-supply graph: iteratively drop nodes with degree "
        "< k and re-induce the subgraph — the community-density "
        "screen used to find the cohesive center of an entity graph "
        "(and the standard preprocessing cut before expensive graph "
        "ML). Same inverted-index edge derivation as "
        "q_graph_neighbor_jaccard (part-degree valve in the operator "
        "contract). Each peel is one grouped degree count + two "
        "semi-joins on the survivor set — Pregel-shaped, composed as "
        "a driver loop with a localCheckpoint per round (the "
        "iterative-lineage discipline from BPE/PageRank: without it "
        "round N's plan re-expands rounds 1..N-1), and the oracle "
        "unrolls the identical three rounds as CTEs. Fixed-round "
        "peeling is the scale formulation: convergence detection is a "
        "driver-side count compare per round, and at 100 TB each "
        "round is two shuffles regardless of graph size.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import dir_bytes, width

    K = 3
    li = Catalog(spark, sf_dir).table("lineitem")
    li_bytes = dir_bytes(f"{sf_dir}/lineitem.parquet")
    # bip's distinct is sized too: at session width the dedup hash table
    # of 36M (s, p) pairs at the 60x rung spilled 92 MiB x 6 tasks (the
    # r10 attribution); the keyed repartition gives the aggregate the
    # same footprint-scaled width as every other exchange in the query.
    nparts_bip = width(spark, "jvm_shuffle", li_bytes, target_bytes=8 << 20)
    bip = (li.select(F.col("l_suppkey").alias("s"),
                     F.col("l_partkey").alias("p"))
           .repartition(nparts_bip, "s", "p").distinct()
           .localCheckpoint(eager=False))
    pdeg = bip.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    # The wedge SMJ's INPUT sorts are sized too: at session width the
    # two bip sorts share one task's memory slice with the join and the
    # downstream exchange writer, and the r10 solo attribution showed
    # exactly that stage spilling 40 MiB x 32 tasks (1.28 GB) at the
    # 30x rung while every aggregate stayed clean. An 8 MB on-disk
    # target keeps each sorted slice a few MB in unsafe-row form at
    # any scale; below ~8 MB x cores of lineitem the density-capped
    # cores floor binds instead (8 at sf0.1 at both 4 and 32 cores).
    # 4 MB target, not 8: this width is ALSO the wedge stage's task
    # count, i.e. the MAP side of the big dedup exchange — each map
    # task's shuffle writer buffers its whole wedge slice, and 8 MB
    # input slices fan out to ~5M-row writer buffers, which crosses
    # the local-mode writer's spill cliff at the 60x rung (4.7 GB of
    # writer spill; the r10 adjudication). Halving the slice keeps
    # ~2.5M wedge rows per map task — under the cliff at every rung —
    # without doubling the task count the way 2 MB slices did (which
    # cost ~30% wall at 30x in scheduling overhead).
    nparts_p = width(spark, "jvm_shuffle", li_bytes, target_bytes=4 << 20)
    a = bip.select(F.col("s").alias("u"), "p").repartition(nparts_p, "p")
    b = bip.select(F.col("s").alias("v"), "p").repartition(nparts_p, "p")
    # Wedge join emits each undirected edge ONCE (u < v) and mirrors
    # after the distinct — identical edge set to the oracle's u <> v
    # formulation at half the pre-distinct shuffle/aggregate volume
    # (the r6 scale ladder showed the full-volume variant spilling
    # ~14 GB at 10x on local[32]; halving the wedge stream halves the
    # dedup working set at every scale). The dedup exchange is SIZED
    # from the lineitem footprint instead of the session default: the
    # wedge stream's working set measured ~60x the parquet bytes on
    # the r6 ladder (6.7 GB spilled at 10x / 20.4 GB at 30x over 32
    # static partitions), so the keyed repartition grows the hash-
    # aggregate width with the input and each task's slice stays
    # ~128 MB at any scale.
    nparts = width(spark, "jvm_shuffle", 64 * li_bytes)
    # Dedup = one keyed repartition at the footprint width, then the
    # aggregate runs partial+final fused on those partitions. Measured
    # against both alternatives at the 30x ladder point: the r6 plain
    # distinct on 32 static partitions spilled 20.4 GB; a widened join
    # with map-side combine before a 32-wide final exchange spilled
    # 1.38 GB disk (a pair's duplicate wedges live in DIFFERENT p
    # partitions, so local dedup barely compresses and the final
    # exchange still carries quasi-raw volume); this shape spills
    # 115 MB disk at 74 s. Combine is worthless on wedge streams —
    # ship the raw pairs straight to footprint-sized dedup buckets.
    half = (a.join(b, "p")
            .where(F.col("u") < F.col("v"))
            .join(pdeg.where(F.col("np").between(2, 1000)), "p")
            .select("u", "v").repartition(nparts, "u", "v").distinct()
            .localCheckpoint(eager=False))
    base = half.union(half.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
    # Peel rounds checkpoint only the NODE sets (the tiny side of the
    # Pregel node-vs-edge asymmetry) and re-derive each round's edge
    # subgraph from the ONE checkpointed base by broadcast semi-joins.
    # The r10 60x attribution showed why: checkpointing the ~GB edge
    # list every round stacked three near-full copies of the graph in
    # block storage on top of the wedge stage's working set — eviction
    # pressure turned a 39 s 30x run into 157 s with 5 GB of disk spill
    # at 60x. Keep sets shrink monotonically (a peeled node never
    # returns), so round i's subgraph needs only the LATEST keep set:
    # edges_i = base ⋉ keep(u) ⋉ keep(v) — one broadcast filter pair
    # over a scan, no shuffle, re-derived per round (3 fixed rounds).
    # The degree count stays a PLAIN groupBy: map-side combine
    # compresses the edge stream to node-scale partials before the
    # exchange (an explicit pre-repartition would ship raw edges —
    # measured 71 s -> 126 s at 30x before this was reverted).
    keep = None
    counts = []
    for i in range(1, 4):
        edges = base
        if keep is not None:
            edges = (base
                     .join(F.broadcast(keep.select(F.col("node")
                                                   .alias("u"))),
                           "u", "left_semi")
                     .join(F.broadcast(keep.select(F.col("node")
                                                   .alias("v"))),
                           "v", "left_semi"))
        deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = (deg.where(F.col("d") >= K)
                .select(F.col("u").alias("node"))
                .localCheckpoint(eager=False))
        counts.append(keep.agg(
            F.lit(i).alias("iteration"),
            F.count(F.lit(1)).alias("n_nodes")))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# HITS hubs & authorities
# --------------------------------------------------------------------------

N_HITS = 2


def _hits_oracle(n_iter: int) -> str:
    parts = ["    WITH" + _EDGES_SQL + """,
    h0 AS (SELECT name, 1.0 / nn.n AS h FROM nodes CROSS JOIN nn)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    araw{i} AS (
        SELECT n.name, COALESCE(SUM(p.h * e.w), 0) AS a
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.name
        LEFT JOIN h{i-1} p ON p.name = e.src
        GROUP BY n.name),
    a{i} AS (
        SELECT name, ROUND(a / (SELECT SUM(a) FROM araw{i}), 8) AS a
        FROM araw{i}),
    hraw{i} AS (
        SELECT n.name, COALESCE(SUM(q.a * e.w), 0) AS h
        FROM nodes n
        LEFT JOIN edges e ON e.src = n.name
        LEFT JOIN a{i} q ON q.name = e.dst
        GROUP BY n.name),
    h{i} AS (
        SELECT name, ROUND(h / (SELECT SUM(h) FROM hraw{i}), 8) AS h
        FROM hraw{i})""")
    return "".join(parts) + f"""
    SELECT h{n_iter}.name AS nation,
           ROUND(h{n_iter}.h, 6) + 0.0 AS hub,
           ROUND(a{n_iter}.a, 6) + 0.0 AS authority
    FROM h{n_iter} JOIN a{n_iter} USING (name)"""


@register(
    "q_graph_hits",
    oracle=_hits_oracle(N_HITS),
    doc=f"HITS hubs-and-authorities ({N_HITS} fixed iterations, L1 "
        "normalization) over the weighted nation trade graph: authority "
        "= weighted sum of in-neighbor hub scores, hub = weighted sum "
        "of out-neighbor authorities — the bipartite-reinforcement twin "
        "of PageRank (a nation is a strong hub if it buys from strong "
        "supplier-authorities). Scores are L1-normalized and rounded "
        "to 8 dp after EVERY half-step on both engines, so the "
        "iteration trajectory is identical and the final hash exact at "
        "6 dp. Same Pregel realization as q_graph_pagerank: per half-"
        "step one join of scores onto edges plus one aggregate on the "
        "other endpoint; fixed iterations => one lazy DAG, no driver "
        "actions; the normalizing sum is a broadcast 1-row aggregate.",
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = _nodes(edges)
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    h = (nodes.crossJoin(F.broadcast(nn))
         .select("name", (F.lit(1.0) / F.col("n")).alias("h")))
    a = None
    for _ in range(N_HITS):
        araw = (nodes.join(edges.select(F.col("dst").alias("name"),
                                        "src", "w"), "name", "left")
                .join(h.select(F.col("name").alias("src"),
                               F.col("h").alias("hs")), "src", "left")
                .groupBy("name")
                .agg(F.coalesce(F.sum(F.col("hs") * F.col("w")), F.lit(0.0))
                     .alias("a")))
        asum = araw.agg(F.sum("a").alias("s"))
        a = (araw.crossJoin(F.broadcast(asum))
             .select("name", F.round(F.col("a") / F.col("s"), 8).alias("a")))
        hraw = (nodes.join(edges.select(F.col("src").alias("name"),
                                        "dst", "w"), "name", "left")
                .join(a.select(F.col("name").alias("dst"),
                               F.col("a").alias("ad")), "dst", "left")
                .groupBy("name")
                .agg(F.coalesce(F.sum(F.col("ad") * F.col("w")), F.lit(0.0))
                     .alias("h")))
        hsum = hraw.agg(F.sum("h").alias("s"))
        h = (hraw.crossJoin(F.broadcast(hsum))
             .select("name", F.round(F.col("h") / F.col("s"), 8).alias("h")))
    return (h.join(a, "name")
            .select(F.col("name").alias("nation"),
                    (F.round("h", 6) + F.lit(0.0)).alias("hub"),
                    (F.round("a", 6) + F.lit(0.0)).alias("authority")))


# --------------------------------------------------------------------------
# Personalized PageRank (random walk with restart)
# --------------------------------------------------------------------------

PPR_SEED = "FRANCE"


def _ppr_oracle(n_iter: int) -> str:
    parts = ["    WITH" + _EDGES_SQL + f""",
    r0 AS (SELECT name,
                  CASE WHEN name = '{PPR_SEED}' THEN 1.0 ELSE 0.0 END AS r
           FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    r{i} AS (
        SELECT n.name,
               (1.0 - {DAMPING})
                   * (CASE WHEN n.name = '{PPR_SEED}' THEN 1.0 ELSE 0.0 END)
               + {DAMPING} * COALESCE(SUM(p.r * e.w / o.wout), 0) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.name
        LEFT JOIN r{i-1} p ON p.name = e.src
        LEFT JOIN outs o ON o.src = e.src
        GROUP BY n.name)""")
    return "".join(parts) + f"""
    SELECT name AS nation, ROUND(r, 6) + 0.0 AS ppr FROM r{n_iter}
    ORDER BY ppr DESC, nation LIMIT 10"""


@register(
    "q_graph_personalized_pagerank",
    oracle=_ppr_oracle(N_ITER),
    doc=f"Personalized PageRank / random walk with restart ({N_ITER} "
        f"iterations, damping {DAMPING}, restart mass pinned to "
        f"'{PPR_SEED}'): the teleport vector concentrates on the seed "
        "nation, so scores rank trade partners by multi-hop proximity "
        "TO THE SEED — the recommendation-graph workhorse (who is in "
        "FRANCE's trade neighborhood), vs. the global centrality of "
        "q_graph_pagerank. Identical Pregel plan shape (score join on "
        "src, aggregate on dst per iteration, one lazy DAG, fixed "
        "iterations); top-10 via TakeOrderedAndProject with a "
        "deterministic (score, name) tie-break.",
)
def q_graph_personalized_pagerank(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = _nodes(edges)
    seed = F.when(F.col("name") == PPR_SEED, 1.0).otherwise(0.0)
    ranks = nodes.select("name", seed.alias("r"))
    frac = _out_fractions(edges)
    for _ in range(N_ITER):
        contribs = _inflow(frac, ranks)
        ranks = (nodes.join(contribs, nodes.name == contribs.dst, "left")
                 .select("name",
                         ((1.0 - DAMPING) * seed
                          + DAMPING * F.coalesce(F.col("mass"), F.lit(0.0)))
                         .alias("r")))
    return (ranks.select(F.col("name").alias("nation"),
                         (F.round(F.col("r"), 6) + F.lit(0.0)).alias("ppr"))
            .orderBy(F.desc("ppr"), "nation").limit(10))


# --------------------------------------------------------------------------
# Modularity of the label-propagation communities
# --------------------------------------------------------------------------

def _modularity_oracle(n_iter: int) -> str:
    return _labelprop_cte(n_iter) + f""",
    comm AS (SELECT node, lab FROM l{n_iter}),
    m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM edges
          WHERE src <> dst),
    ec AS (
        SELECT cs.lab, CAST(SUM(e.w) AS BIGINT) AS intra_w
        FROM edges e
        JOIN comm cs ON cs.node = e.src
        JOIN comm cd ON cd.node = e.dst AND cd.lab = cs.lab
        WHERE e.src <> e.dst
        GROUP BY cs.lab),
    douts AS (
        SELECT c2.lab, CAST(SUM(e.w) AS BIGINT) AS dout
        FROM edges e JOIN comm c2 ON c2.node = e.src
        WHERE e.src <> e.dst GROUP BY c2.lab),
    dins AS (
        SELECT c2.lab, CAST(SUM(e.w) AS BIGINT) AS din
        FROM edges e JOIN comm c2 ON c2.node = e.dst
        WHERE e.src <> e.dst GROUP BY c2.lab),
    per AS (
        SELECT d.lab,
               COALESCE(ec.intra_w, 0) AS intra_w, d.dout, i.din,
               COALESCE(ec.intra_w, 0)::DOUBLE / m.m
               - (d.dout::DOUBLE / m.m) * (i.din::DOUBLE / m.m)
                   AS contribution
        FROM douts d JOIN dins i USING (lab)
        LEFT JOIN ec USING (lab) CROSS JOIN m)
    SELECT CAST((SELECT COUNT(DISTINCT lab) FROM comm) AS BIGINT)
               AS n_communities,
           (SELECT m FROM m) AS m_total,
           ROUND(SUM(contribution), 6) AS modularity
    FROM per"""


@register(
    "q_graph_modularity",
    oracle=_modularity_oracle(2),
    doc="Directed modularity of the label-propagation communities: "
        "Q = Sigma_c [ e_c/m - (dout_c/m)(din_c/m) ] over the weighted "
        "nation trade graph with self-loops excluded — the quality "
        "score that tells you whether the communities "
        "q_graph_label_propagation found are denser than chance, "
        "closing the detect->evaluate loop. Reuses the exact 2-round "
        "deterministic LP trajectory (same tie-breaks), then three "
        "integer edge aggregates keyed by community; every term is an "
        "integer ratio, so both engines divide identical BIGINTs — "
        "exact until the final 6 dp rounding. One extra shuffle on "
        "community beyond LP itself.",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges_all = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    edges = edges_all.where(F.col("src") != F.col("dst"))
    comm = _propagate_labels(edges, _nodes(edges_all))
    m = edges.agg(F.sum("w").cast("long").alias("m"))
    cs = comm.select(F.col("node").alias("src"), F.col("lab").alias("slab"))
    cd = comm.select(F.col("node").alias("dst"), F.col("lab").alias("dlab"))
    ej = edges.join(F.broadcast(cs), "src").join(F.broadcast(cd), "dst")
    ec = (ej.where(F.col("slab") == F.col("dlab"))
          .groupBy(F.col("slab").alias("lab"))
          .agg(F.sum("w").cast("long").alias("intra_w")))
    douts = (ej.groupBy(F.col("slab").alias("lab"))
             .agg(F.sum("w").cast("long").alias("dout")))
    dins = (ej.groupBy(F.col("dlab").alias("lab"))
            .agg(F.sum("w").cast("long").alias("din")))
    per = (douts.join(dins, "lab")
           .join(ec, "lab", "left")
           .select("lab", F.coalesce("intra_w", F.lit(0)).alias("intra_w"),
                   "dout", "din")
           .crossJoin(F.broadcast(m))
           .select((F.col("intra_w").cast("double") / F.col("m")
                    - (F.col("dout").cast("double") / F.col("m"))
                    * (F.col("din").cast("double") / F.col("m")))
                   .alias("contribution")))
    ncomm = comm.agg(F.countDistinct("lab").cast("long")
                     .alias("n_communities"))
    return (per.agg(F.round(F.sum("contribution"), 6).alias("modularity"))
            .crossJoin(F.broadcast(ncomm))
            .crossJoin(F.broadcast(m))
            .select("n_communities", F.col("m").alias("m_total"),
                    "modularity"))


# --------------------------------------------------------------------------
# Local clustering coefficient — per-node triangle density
# --------------------------------------------------------------------------

@register(
    "q_graph_local_clustering",
    oracle="WITH" + _EDGES_SQL + """,
    ue AS (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM edges WHERE src <> dst),
    adj AS (SELECT u AS node, v AS nbr FROM ue
            UNION ALL SELECT v, u FROM ue),
    deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM ue e1 JOIN ue e2 ON e2.u = e1.u AND e2.v > e1.v
                   JOIN ue e3 ON e3.u = e1.v AND e3.v = e2.v),
    pert AS (
        SELECT node, COUNT(*) AS t FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
        GROUP BY node)
    SELECT d.node AS name,
           CAST(d.d AS BIGINT) AS degree,
           CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.d < 2 THEN NULL
                ELSE ROUND(2.0 * COALESCE(p.t, 0) / (d.d * (d.d - 1)), 4)
           END AS local_cc
    FROM deg d LEFT JOIN pert p USING (node)
    ORDER BY name
    """,
    doc="Per-node local clustering coefficient over the undirected "
        "nation trade graph: cc(v) = 2 T(v) / (deg(v)(deg(v)-1)) — how "
        "close each node's neighborhood is to a clique, the per-node "
        "refinement of the global triangle count (q_graph_triangles, "
        "same canonical a<b<c enumeration: each triangle explodes into "
        "its three members, one group-by attributes it to every "
        "corner). Degrees come from the symmetrized adjacency; "
        "degree-<2 nodes have an undefined coefficient (NULL on both "
        "engines). Scale shape: the wedge join shuffles on node keys "
        "exactly like the triangle counter; the per-node attribution "
        "adds one explode + group-by — no extra pass over the edge "
        "derivation.",
)
def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_rows(spark, sf_dir).select("src", "dst").distinct()
    ue = _undirected(edges).localCheckpoint(eager=False)
    adj = (ue.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionAll(ue.select(F.col("v").alias("node"),
                               F.col("u").alias("nbr"))))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    tri = (_triangles(ue)
           .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
                   F.col("e2.v").alias("c")))
    pert = (tri.select(F.col("a").alias("node"))
            .unionAll(tri.select(F.col("b").alias("node")))
            .unionAll(tri.select(F.col("c").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("t")))
    return (deg.join(pert, "node", "left")
            .select(F.col("node").alias("name"),
                    F.col("d").cast("long").alias("degree"),
                    F.coalesce("t", F.lit(0)).cast("long")
                     .alias("n_triangles"),
                    F.when(F.col("d") < 2, F.lit(None).cast("double"))
                     .otherwise(F.round(2.0 * F.coalesce("t", F.lit(0))
                                        / (F.col("d") * (F.col("d") - 1)),
                                        4)).alias("local_cc"))
            .orderBy("name"))


@register(
    "q_graph_reciprocity",
    oracle="WITH" + _EDGES_SQL + """,
    d AS (SELECT src, dst, w FROM edges WHERE src <> dst),
    r AS (
        SELECT a.src, a.dst, a.w, b.w AS w_rev
        FROM d a LEFT JOIN d b ON b.src = a.dst AND b.dst = a.src)
    SELECT COUNT(*) AS n_edges,
           CAST(SUM(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reciprocated,
           ROUND(SUM(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*)::DOUBLE, 4) AS reciprocity,
           ROUND(CAST(SUM(LEAST(w, COALESCE(w_rev, 0))) AS DOUBLE)
                 / CAST(SUM(w) AS DOUBLE), 4) AS weighted_reciprocity
    FROM r
    """,
    doc="Edge RECIPROCITY of the directed nation-trade graph — the "
        "directionality diagnostic beside assortativity/PageRank on "
        "the same edge derivation: the fraction of non-loop directed "
        "edges whose reverse edge exists, plus Squartini-style "
        "weighted reciprocity sum(min(w_uv, w_vu)) / sum(w_uv) (the "
        "share of flow that is bilaterally matched). One broadcast "
        "self-join of the nation-pair edge table against its own "
        "transpose — edge construction is the only fact-table work, "
        "and the reciprocity join runs on the nation-pair-sized "
        "aggregate (<= |nations|^2 rows), never on lineitem.",
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir).where(F.col("src") != F.col("dst"))
    rev = edges.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"),
                       F.col("w").alias("w_rev"))
    r = edges.join(F.broadcast(rev), ["src", "dst"], "left")
    recip = F.sum(F.when(F.col("w_rev").isNotNull(), 1).otherwise(0))
    return r.agg(
        F.count(F.lit(1)).alias("n_edges"),
        recip.cast("long").alias("n_reciprocated"),
        F.round(recip.cast("double")
                / F.count(F.lit(1)).cast("double"), 4).alias("reciprocity"),
        F.round(F.sum(F.least(F.col("w"), F.coalesce(F.col("w_rev"),
                                                     F.lit(0))))
                .cast("double")
                / F.sum("w").cast("double"), 4)
        .alias("weighted_reciprocity"))
