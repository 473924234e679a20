"""Retrieval queries over the corpus: BM25 keyword search and hybrid
keyword+vector fusion.

The reference mirrors its aggregate table into Elasticsearch precisely
to get keyword search over it (``airflow/dags/apify_dag.py:290-318``);
these queries implement the search itself engine-side, so a user can
rank documents without leaving Spark. BM25 is the inverted-index
formulation (explode -> filter to query terms -> per-(doc,term) tf ->
broadcast df + corpus stats), which at 100 TB is the same
index-then-semi-join shape the dedup family uses: the probe side is
tiny, corpus-side state is (doc_id, term, tf) rows, and corpus totals
are broadcast 1-row aggregates — one DAG, no mid-plan driver actions.

Reciprocal-rank fusion (Cormack et al., SIGIR 2009) combines the BM25
ranking with an embedding-cosine ranking: each ranker contributes
1/(K + rank), missing docs contribute nothing. Each ranker is first
truncated to a top-N candidate list with ``orderBy().limit()``
(TakeOrderedAndProject — no global sort, no single-partition window);
ranks within the N-row candidate list come from a bounded broadcast
self-join (rank = 1 + better-scored candidates), so the whole fusion
touches ranker-output-sized data only. The DuckDB oracle expresses the
identical truncation as ROW_NUMBER() <= N over the same deterministic
(rounded score, id) total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.functions import text as T
from datalake_project_spark.queries import local_df, register

# Query terms for the keyword ranker (fixture vocabulary is shared
# across scale factors); BM25 constants are the Lucene defaults.
PROBE_TERMS = ("hash", "join", "vector")
K1 = 1.2
B = 0.75
RRF_K = 60
N_CAND = 50  # per-ranker candidate-list truncation for the fusion

_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"
_TERMS_SQL = ", ".join(f"'{t}'" for t in PROBE_TERMS)

_BM25_CTE = f"""
    tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks))::DOUBLE AS avgdl
              FROM tok),
    tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, unnest(toks) AS t, len(toks) AS dl FROM tok)
        WHERE t IN ({_TERMS_SQL})
        GROUP BY doc_id, t),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    bm25 AS (
        SELECT tf.doc_id,
               ROUND(SUM(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * {K1 + 1.0}
                   / (tf.tf + {K1} * ({1.0 - B} + {B} * tf.dl / s.avgdl))
               ), 4) + 0.0 AS score
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY tf.doc_id)"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks, dl): each document's tokens and their count."""
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("toks"))
    tok = tok.select("doc_id", "toks", F.size("toks").alias("dl"))
    return tok


def _probe_tf(tok: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl): frequency of each probe term per document
    of ``tok`` (the probe-filtered inverted index)."""
    return (tok.select("doc_id", "dl", F.explode("toks").alias("term"))
            .where(F.col("term").isin(*PROBE_TERMS))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.any_value("dl").alias("dl")))


def _bm25_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf, dl, df, n_docs, avgdl): the probe-term index
    beside each term's document frequency and the corpus statistics
    that ``_bm25_contribution`` reads."""
    tok = _doc_tokens(spark, sf_dir)
    stats = tok.agg(F.count(F.lit(1)).alias("n_docs"),
                    F.avg("dl").cast("double").alias("avgdl"))
    tf = _probe_tf(tok)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats)))


def _bm25_contribution():
    """One (doc, term) row's BM25 contribution over _bm25_terms' columns."""
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    norm = (F.col("tf") + K1 * ((1.0 - B)
                                + B * F.col("dl") / F.col("avgdl")))
    return idf * F.col("tf") * (K1 + 1.0) / norm


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): BM25 over the probe terms, rounded at 4 dp.

    Only documents containing at least one query term appear (the
    inverted index never touches the rest — at 100 TB the isin filter
    on the exploded term column is the pushed-down probe).
    """
    return (_bm25_terms(spark, sf_dir)
            .withColumn("_c", _bm25_contribution())
            .groupBy("doc_id")
            .agg((F.round(F.sum("_c"), 4) + F.lit(0.0)).alias("score")))


@register(
    "q_text_bm25_topk",
    oracle=f"""
    WITH {_BM25_CTE}
    SELECT doc_id, score AS bm25
    FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="BM25 keyword retrieval (Lucene-default k1/b) for a fixed "
        "query-term set, top-10: the engine-side realization of the "
        "reference's Elasticsearch mirror use case. Inverted-index "
        "shape — explode, probe-term filter, per-(doc,term) tf, "
        "broadcast df and corpus stats — one DAG, "
        "TakeOrderedAndProject for the top-k (no global sort).",
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_bm25_scores(spark, sf_dir)
            .select("doc_id", F.col("score").alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id").limit(10))


def _candidate_ranks(df: DataFrame, score_col: str, rank_col: str) -> DataFrame:
    """Top-``N_CAND`` (doc_id, rank) from (doc_id, score_col).

    Truncation by ``orderBy().limit()`` (TakeOrderedAndProject), then
    rank = 1 + count of strictly-better candidates via a broadcast
    self-join over the N-row list. (score, doc_id) is a total order, so
    ranks are dense and deterministic. No window with an empty
    partition spec anywhere — the candidate list is metadata-scale.
    """
    # 50-row TakeOrdered result self-joined for ranks: materialize it
    # once (lazy localCheckpoint) instead of re-running the corpus
    # ranking per side
    top = df.orderBy(F.desc(score_col), "doc_id").limit(N_CAND) \
        .localCheckpoint(eager=False)
    a, b = top.alias("a"), top.alias("b")
    sa, sb = F.col(f"a.{score_col}"), F.col(f"b.{score_col}")
    better = (sb > sa) | ((sb == sa) & (F.col("b.doc_id") < F.col("a.doc_id")))
    return (a.join(F.broadcast(b), better, "left")
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg((F.count(F.col("b.doc_id")) + 1).alias(rank_col)))


def _probe_cosines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cos): cosine of every other embedding to vector 0, the
    vector-side probe of the hybrid rankers, rounded at 6 dp."""
    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", F.transform(
             "embedding", lambda x: x.cast("double")).alias("v")))
    probe = e.where(F.col("vec_id") == 0).select(F.col("v").alias("pv"))
    dot = F.aggregate(F.zip_with("v", "pv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (e.where(F.col("vec_id") != 0)
           .crossJoin(F.broadcast(probe))
           .select(F.col("vec_id").alias("doc_id"),
                   F.round(dot / (nrm("v") * nrm("pv")), 6).alias("cos")))


@register(
    "q_hybrid_retrieval_rrf",
    oracle=f"""
    WITH {_BM25_CTE},
    kw AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm25 QUALIFY rank <= {N_CAND}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    vec AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(list_cosine_similarity(v, pv), 6) DESC,
                            vec_id) AS rank
        FROM e CROSS JOIN probe WHERE vec_id <> 0
        QUALIFY rank <= {N_CAND}),
    fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / ({RRF_K} + kw.rank), 0.0)
                     + COALESCE(1.0 / ({RRF_K} + vec.rank), 0.0), 6)
               + 0.0 AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc="Hybrid retrieval by reciprocal-rank fusion (Cormack et al. "
        "2009): BM25 keyword ranks fused with embedding-cosine ranks "
        "(probe = vector 0; fixture vec_id aligns with doc_id), each "
        "contributing 1/(60+rank), missing docs contributing 0. Each "
        "ranker truncates to a 50-doc candidate list first "
        "(TakeOrderedAndProject), then ranks inside the list via a "
        "bounded broadcast self-join — the fusion never touches "
        "corpus-sized data and no single-partition window exists in "
        "the plan. The oracle states the same truncation as "
        "ROW_NUMBER() <= 50 over the identical (rounded score, id) "
        "total order.",
)
def q_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    kw = _candidate_ranks(_bm25_scores(spark, sf_dir), "score", "k_rank")
    vec = _candidate_ranks(_probe_cosines(spark, sf_dir), "cos", "v_rank")

    fused = (kw.join(vec, "doc_id", "full_outer")
             .select("doc_id",
                     (F.round(
                         F.coalesce(1.0 / (RRF_K + F.col("k_rank")),
                                    F.lit(0.0))
                         + F.coalesce(1.0 / (RRF_K + F.col("v_rank")),
                                      F.lit(0.0)), 6)
                      + F.lit(0.0)).alias("rrf")))
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(10)


NDCG_K = 10


@register(
    "q_retrieval_ndcg",
    oracle=f"""
    WITH {_BM25_CTE},
    rel AS (SELECT doc_id, COUNT(DISTINCT term) AS rel
            FROM tf GROUP BY doc_id),
    top AS (
        SELECT r.rel,
               ROW_NUMBER() OVER (ORDER BY b.score DESC, b.doc_id) AS rank
        FROM bm25 b JOIN rel r USING (doc_id)
        QUALIFY rank <= {NDCG_K}),
    ideal AS (
        SELECT rel,
               ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rank
        FROM rel QUALIFY rank <= {NDCG_K}),
    d AS (SELECT SUM((POW(2, rel) - 1) / log2(rank + 1)) AS dcg FROM top),
    i AS (SELECT SUM((POW(2, rel) - 1) / log2(rank + 1)) AS idcg FROM ideal)
    SELECT ROUND(dcg, 6) + 0.0 AS dcg,
           ROUND(idcg, 6) + 0.0 AS idcg,
           ROUND(dcg / idcg, 6) + 0.0 AS ndcg
    FROM d CROSS JOIN i
    """,
    doc="nDCG@10 of the BM25 ranking against a graded term-coverage "
        "relevance label (rel = number of distinct probe terms the "
        "document contains): the standard ranking-quality metric, "
        "completing the retrieval arc (rank -> fuse -> evaluate) the "
        "way the Mann-Whitney AUC completes the classifier arc. Both "
        "the ranked list and the ideal list truncate to 10 candidates "
        "via orderBy+limit (TakeOrderedAndProject) and take positions "
        "from a bounded broadcast self-join over those 10 rows — no "
        "global ranking of the corpus anywhere; the label aggregate "
        "reuses the probe-filtered inverted index BM25 already built.",
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("toks"))
    rel = (tok.select("doc_id", F.explode("toks").alias("term"))
           .where(F.col("term").isin(*PROBE_TERMS))
           .groupBy("doc_id")
           .agg(F.countDistinct("term").alias("rel")))

    def positions(df: DataFrame, order_col: str) -> DataFrame:
        """Top-NDCG_K rows of df with 1-based position, by
        (order_col desc, doc_id) — bounded self-join, no window."""
        top = df.orderBy(F.desc(order_col), "doc_id").limit(NDCG_K) \
            .localCheckpoint(eager=False)
        a, b = top.alias("a"), top.alias("b")
        oa, ob = F.col(f"a.{order_col}"), F.col(f"b.{order_col}")
        better = ((ob > oa)
                  | ((ob == oa) & (F.col("b.doc_id") < F.col("a.doc_id"))))
        return (a.join(F.broadcast(b), better, "left")
                .groupBy(F.col("a.doc_id").alias("doc_id"),
                         F.col("a.rel").alias("rel"))
                .agg((F.count(F.col("b.doc_id")) + 1).alias("rank")))

    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rank") + 1)
    ranked = positions(
        _bm25_scores(spark, sf_dir).join(rel, "doc_id"), "score")
    dcg = ranked.agg(F.sum(gain).alias("dcg"))
    ideal = positions(rel.withColumn("score", F.col("rel")), "score")
    idcg = ideal.agg(F.sum(gain).alias("idcg"))
    return (dcg.crossJoin(F.broadcast(idcg))
            .select((F.round("dcg", 6) + F.lit(0.0)).alias("dcg"),
                    (F.round("idcg", 6) + F.lit(0.0)).alias("idcg"),
                    (F.round(F.col("dcg") / F.col("idcg"), 6)
                     + F.lit(0.0)).alias("ndcg")))


MMR_POOL = 20  # candidate pool (one TakeOrderedAndProject corpus pass)
MMR_K = 5      # diversified picks


def _mmr_oracle(pool: int, k: int) -> str:
    """Unrolled greedy MMR (lambda=0.5, reported as the unscaled
    rel - max-sim margin, whose argmax is identical) over the top-``pool``
    cosine candidates; ``k`` picks."""
    parts = [f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    rel AS (SELECT vec_id AS id, ROUND(list_cosine_similarity(v, pv), 6) AS rel
            FROM e CROSS JOIN probe WHERE vec_id <> 0),
    cand AS (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT {pool}),
    sim AS (SELECT a.id AS ia, b.id AS ib,
                   ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS s
            FROM cand a JOIN cand b ON a.id <> b.id
            JOIN e ea ON ea.vec_id = a.id JOIN e eb ON eb.vec_id = b.id),
    sel1 AS (SELECT id, rel AS margin FROM cand ORDER BY rel DESC, id LIMIT 1),
    u1 AS (SELECT id FROM sel1)"""]
    for s in range(2, k + 1):
        parts.append(f"""
    m{s} AS (SELECT c.id, ROUND(c.rel - MAX(sim.s), 6) AS margin
             FROM cand c JOIN sim ON sim.ia = c.id
             WHERE sim.ib IN (SELECT id FROM u{s - 1})
               AND c.id NOT IN (SELECT id FROM u{s - 1})
             GROUP BY c.id, c.rel),
    sel{s} AS (SELECT id, margin FROM m{s} ORDER BY margin DESC, id LIMIT 1),
    u{s} AS (SELECT id FROM u{s - 1} UNION ALL SELECT id FROM sel{s})""")
    finals = "\n    UNION ALL ".join(
        f"SELECT {s} AS step, id AS doc_id, margin FROM sel{s}"
        for s in range(1, k + 1))
    return "WITH " + ",".join(parts) + "\n    " + finals


@register(
    "q_retrieval_mmr",
    oracle=_mmr_oracle(MMR_POOL, MMR_K),
    doc="Maximal-marginal-relevance diversified top-k (Carbonell & "
        "Goldstein, SIGIR 1998) over the embedding ranking: greedy "
        "picks maximizing lambda*rel(d) - (1-lambda)*max sim(d, "
        "selected) at lambda=0.5, reported as the unscaled "
        "rel - max-sim margin (identical argmax, and a difference of "
        "two 6-dp-rounded cosines stays cross-engine exact where a "
        "scaled half-ulp boundary would not). The distributed work is "
        "the candidate generation: one corpus pass for relevance "
        "cosines, TakeOrderedAndProject to a 20-candidate pool, and "
        "the 20x20 pairwise-cosine matrix via a broadcast self-join. "
        "The greedy selection itself is inherently sequential over "
        "k*pool floats of state, so it runs on the driver over the "
        "COLLECTED 400-row sim matrix — metadata-scale by the same "
        "standard as the IVF probe-cell resolution — and the picks "
        "are returned as a literal frame. At 100 TB only the pool "
        "build touches the corpus.",
)
def q_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", F.transform(
             "embedding", lambda x: x.cast("double")).alias("v")))
    probe = e.where(F.col("vec_id") == 0).select(F.col("v").alias("pv"))

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    def nrm(c):
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                  F.lit(0.0), lambda acc, x: acc + x))

    rel = (e.where(F.col("vec_id") != 0)
           .crossJoin(F.broadcast(probe))
           .select(F.col("vec_id").alias("id"), "v",
                   F.round(dot("v", "pv") / (nrm("v") * nrm("pv")), 6)
                   .alias("rel")))
    # pool reused by the sim matrix (both sides) and the rel collect:
    # one corpus ranking pass
    cand = rel.orderBy(F.desc("rel"), "id").limit(MMR_POOL) \
        .localCheckpoint(eager=False)
    a, b = cand.alias("a"), cand.alias("b")
    sims = (a.join(F.broadcast(b), F.col("a.id") != F.col("b.id"))
            .select(F.col("a.id").alias("ia"), F.col("b.id").alias("ib"),
                    F.round(dot("a.v", "b.v")
                            / (nrm("a.v") * nrm("b.v")), 6).alias("s")))

    # pool-sized state to the driver: 20 (id, rel) rows + 380 sims
    pool = {r["id"]: r["rel"] for r in cand.select("id", "rel").collect()}
    s = {(r["ia"], r["ib"]): r["s"] for r in sims.collect()}

    def r6(x: float) -> float:  # HALF_UP, as Spark round / DuckDB ROUND
        return math.floor(x * 1e6 + 0.5) / 1e6 if x >= 0 \
            else -math.floor(-x * 1e6 + 0.5) / 1e6

    first = min(pool, key=lambda i: (-pool[i], i))
    picks = [(1, first, pool[first])]
    chosen = [first]
    for step in range(2, MMR_K + 1):
        best = min(
            ((i, r6(pool[i] - max(s[(i, j)] for j in chosen)))
             for i in pool if i not in chosen),
            key=lambda t: (-t[1], t[0]))
        picks.append((step, best[0], best[1]))
        chosen.append(best[0])
    return local_df(spark, 
        picks, "step int, doc_id long, margin double")


ROCCHIO_BETA = 0.75  # feedback weight (alpha = 1.0)
ROCCHIO_FB = 10      # pseudo-relevant feedback depth
ROCCHIO_K = 10       # final reranked list


@register(
    "q_retrieval_rocchio",
    oracle=f"""
    WITH {_BM25_CTE},
    top10 AS (SELECT doc_id FROM bm25 ORDER BY score DESC, doc_id
              LIMIT {ROCCHIO_FB}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    relv AS (SELECT e.v FROM e JOIN top10 ON e.vec_id = top10.doc_id),
    cent AS (SELECT i, AVG(v[i+1]) AS c
             FROM relv, unnest(range(0, len(v))) AS u(i) GROUP BY i),
    qv AS (SELECT list(ROUND(probe.pv[cent.i+1] + {ROCCHIO_BETA} * cent.c, 6)
                       ORDER BY cent.i) AS q
           FROM cent CROSS JOIN probe)
    SELECT vec_id AS doc_id,
           ROUND(list_cosine_similarity(v, q), 6) AS score
    FROM e CROSS JOIN qv WHERE vec_id <> 0
    ORDER BY score DESC, doc_id LIMIT {ROCCHIO_K}
    """,
    doc="Pseudo-relevance feedback (Rocchio, alpha=1 beta=0.75): the "
        "BM25 top-10 act as assumed-relevant feedback, their embedding "
        "centroid shifts the query vector (fixture vec_id aligns with "
        "doc_id; probe = vector 0), and the corpus is reranked by "
        "cosine to the expanded query — the keyword->vector feedback "
        "loop completing the retrieval arc (rank -> fuse -> diversify "
        "-> expand). Spark plan: the centroid is a posexplode+avg over "
        "the TEN feedback vectors only (never the corpus), reassembled "
        "into one array row via a sorted collect_list, broadcast into "
        "a single rerank pass with TakeOrderedAndProject — one corpus "
        "cosine pass, all per-dim state metadata-scale. Per-dim "
        "expanded-query values are rounded at 6 dp on both engines "
        "before the rerank so scores are cross-engine deterministic.",
)
def q_retrieval_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    top10 = (_bm25_scores(spark, sf_dir)
             .orderBy(F.desc("score"), "doc_id").limit(ROCCHIO_FB)
             .select("doc_id"))

    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", F.transform(
             "embedding", lambda x: x.cast("double")).alias("v")))
    probe = e.where(F.col("vec_id") == 0).select(F.col("v").alias("pv"))

    relv = e.join(top10, e["vec_id"] == top10["doc_id"]).select("v")
    cent = (relv.select(F.posexplode("v").alias("i", "x"))
            .groupBy("i").agg(F.avg("x").alias("c")))
    pdim = probe.select(F.posexplode("pv").alias("i", "px"))
    qv = (cent.join(F.broadcast(pdim), "i")
          .select("i", F.round(F.col("px")
                               + F.lit(ROCCHIO_BETA) * F.col("c"), 6)
                  .alias("qd"))
          .agg(F.transform(
              F.array_sort(F.collect_list(F.struct("i", "qd"))),
              lambda s: s.qd).alias("q")))

    dot = F.aggregate(F.zip_with("v", "q", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (e.where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(qv))
            .select(F.col("vec_id").alias("doc_id"),
                    F.round(dot / (nrm("v") * nrm("q")), 6).alias("score"))
            .orderBy(F.desc("score"), "doc_id").limit(ROCCHIO_K))


@register(
    "q_search_facets",
    oracle=f"""
    WITH {_BM25_CTE}
    SELECT d.source, d.lang,
           COUNT(*) AS n_hits,
           ROUND(MAX(b.score), 4) + 0.0 AS best_score,
           ROUND(SUM(b.score), 4) + 0.0 AS sum_score
    FROM bm25 b JOIN documents d USING (doc_id)
    GROUP BY d.source, d.lang
    """,
    doc="Faceted search — the Elasticsearch aggregations-alongside-hits "
        "shape the reference's search mirror exists to serve "
        "(airflow/dags/apify_dag.py:290-318): for the probe-term query, "
        "per-(source, lang) hit counts with best/total BM25 score. The "
        "hit set reuses the probe-filtered inverted index (_bm25_scores "
        "— only documents containing a query term are ever "
        "materialized), the facet panel is one grouped aggregate over "
        "that hit-sized set joined back to the dimension columns; at "
        "100 TB the facet table is facets-sized and the corpus cost is "
        "the BM25 scan already paid.",
)
def q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    hits = _bm25_scores(spark, sf_dir)
    return (hits.join(d.select("doc_id", "source", "lang"), "doc_id")
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_hits"),
                 (F.round(F.max("score"), 4) + F.lit(0.0)).alias("best_score"),
                 # sum (not mean) of the 4-dp scores: a sum of exact
                 # 4-dp decimals stays exact, while a mean can land on
                 # the .5 rounding boundary and flip between engines
                 (F.round(F.sum("score"), 4) + F.lit(0.0)).alias("sum_score")))


KWIC_TERM = "hash"
KWIC_WIN = 3  # words of context each side


@register(
    "q_search_kwic",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    hits AS (
        SELECT doc_id, t.i AS pos,
               COALESCE(array_to_string(
                   ws[GREATEST(1, t.i - {KWIC_WIN}) : t.i - 1], ' '), '')
                   AS left_ctx,
               COALESCE(array_to_string(
                   ws[t.i + 1 : LEAST(len(ws), t.i + {KWIC_WIN})], ' '), '')
                   AS right_ctx
        FROM words, unnest(range(1, len(ws) + 1)) AS t(i)
        WHERE ws[t.i] = '{KWIC_TERM}')
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, left_ctx, right_ctx
    FROM hits
    ORDER BY doc_id, pos LIMIT 50
    """,
    doc=f"Keyword-in-context concordance for '{KWIC_TERM}' "
        f"(+/-{KWIC_WIN} words): every occurrence with its left/right "
        "context window, first 50 in (doc, position) order — the hit "
        "display a search UI renders under the BM25 ranking, and the "
        "corpus-linguistics view of how a term is used. Plan: "
        "positions via posexplode (each token once on its own row — "
        "the winnowing lesson, no per-position array lambdas), context "
        "slices computed only on HIT rows (the term filter runs before "
        "the slicing), TakeOrderedAndProject for the bounded output.",
)
def q_search_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions import text as T

    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    hits = (tok.select("doc_id", "ws",
                       F.posexplode("ws").alias("p0", "w"))
            .where(F.col("w") == KWIC_TERM)
            .withColumn("pos", F.col("p0") + 1))  # 1-based like the oracle
    left_start = F.greatest(F.lit(1), F.col("pos") - KWIC_WIN)
    left_len = F.col("pos") - left_start
    right_len = F.least(F.size("ws"), F.col("pos") + KWIC_WIN) - F.col("pos")
    return (hits.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.concat_ws(" ", F.slice("ws", left_start, left_len))
        .alias("left_ctx"),
        F.concat_ws(" ", F.slice("ws", F.col("pos") + 1, right_len))
        .alias("right_ctx"))
        .orderBy("doc_id", "pos").limit(50))


@register(
    "q_retrieval_mrr",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(len(toks))::DOUBLE AS avgdl
              FROM tok),
    tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, unnest(toks) AS t, len(toks) AS dl FROM tok)
        WHERE t IN ({_TERMS_SQL})
        GROUP BY doc_id, t),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    pt AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               ROUND(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                     * tf.tf * {K1 + 1.0}
                     / (tf.tf + {K1} * ({1.0 - B}
                                        + {B} * tf.dl / s.avgdl)), 4)
                   + 0.0 AS s
        FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s),
    ranked AS (
        SELECT term, doc_id, tf, s,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY s DESC, doc_id) AS rnk
        FROM pt),
    fr AS (
        SELECT term, CAST(MIN(rnk) AS BIGINT) AS first_rel_rank
        FROM ranked WHERE tf >= 3 GROUP BY term)
    SELECT term, first_rel_rank,
           ROUND(1.0 / first_rel_rank, 6) + 0.0 AS reciprocal_rank
    FROM fr
    UNION ALL
    SELECT 'MRR', CAST(NULL AS BIGINT),
           ROUND(AVG(1.0 / first_rel_rank), 6) + 0.0
    FROM fr
    """,
    doc="Mean reciprocal rank over the three probe-term queries: each "
        "term ranks documents by its OWN per-term BM25 contribution, "
        "relevance is tf >= 3 (length normalization makes rank-1 "
        "non-trivial: a short tf=2 doc can outrank a long tf=3 one), "
        "and MRR averages 1/rank-of-first-relevant — the first-"
        "answer-position metric completing the IR-evaluation triad "
        "beside nDCG (graded list quality) and the Mann-Whitney AUC "
        "(classifier separation). Per-term ranking is a PARTITIONED "
        "window over the probe-filtered inverted index (three "
        "bounded groups, never the corpus); scores round at 4 dp "
        "before ranking so both engines order identically.",
)
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    pt = (_bm25_terms(spark, sf_dir)
          .withColumn("s", F.round(_bm25_contribution(), 4) + F.lit(0.0)))
    w = Window.partitionBy("term").orderBy(F.desc("s"), "doc_id")
    fr = (pt.withColumn("rnk", F.row_number().over(w))
          .where(F.col("tf") >= 3)
          .groupBy("term")
          .agg(F.min("rnk").cast("long").alias("first_rel_rank")))
    per = fr.select(
        "term", "first_rel_rank",
        (F.round(F.lit(1.0) / F.col("first_rel_rank"), 6) + F.lit(0.0))
        .alias("reciprocal_rank"))
    mrr = fr.agg(
        (F.round(F.avg(F.lit(1.0) / F.col("first_rel_rank")), 6)
         + F.lit(0.0)).alias("reciprocal_rank")).select(
        F.lit("MRR").alias("term"),
        F.lit(None).cast("long").alias("first_rel_rank"),
        "reciprocal_rank")
    return per.unionByName(mrr)


# --------------------------------------------------------------------------
# Rank-biased overlap — how much do the two retrieval modalities agree?
# --------------------------------------------------------------------------

RBO_P = 0.9
RBO_DEPTH = 10


@register(
    "q_retrieval_rbo",
    oracle=f"""
    WITH {_BM25_CTE},
    kw AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm25 QUALIFY rank <= {RBO_DEPTH}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
    vec AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(list_cosine_similarity(v, pv), 6) DESC,
                            vec_id) AS rank
        FROM e CROSS JOIN probe WHERE vec_id <> 0
        QUALIFY rank <= {RBO_DEPTH}),
    depths AS (SELECT UNNEST(range(1, {RBO_DEPTH} + 1)) AS d),
    ov AS (
        SELECT d.d,
               (SELECT COUNT(*) FROM kw JOIN vec USING (doc_id)
                WHERE kw.rank <= d.d AND vec.rank <= d.d) AS x
        FROM depths d)
    SELECT CAST({RBO_DEPTH} AS INT) AS depth,
           CAST((SELECT x FROM ov WHERE d = {RBO_DEPTH}) AS BIGINT)
               AS overlap_at_depth,
           ROUND((1 - {RBO_P}) * SUM(POWER({RBO_P}, d - 1) * x / d)
                 / (1 - POWER({RBO_P}, {RBO_DEPTH})), 6) AS rbo
    FROM ov
    """,
    doc="Rank-biased overlap (Webber et al. 2010, truncated at depth "
        "10, p = 0.9, renormalized over the evaluated prefix) between "
        "the BM25 keyword ranking and the embedding-cosine ranking — "
        "the top-weighted agreement measure for indefinite rankings "
        "that Kendall-tau-on-lists gets wrong (disagreement at rank 1 "
        "should cost more than at rank 10). THIS number is the case "
        "for hybrid fusion: low RBO means the modalities surface "
        "different documents, which is exactly when RRF "
        "(q_hybrid_retrieval_rrf) adds recall; the agreement companion "
        "to that query's fused output. Overlaps at every depth are "
        "exact integers from the two bounded top-10 lists (same "
        "(rounded score, id) total orders the RRF oracle pins); the "
        "weighted sum is 10 closed-form terms.",
)
def q_retrieval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    kw = (_candidate_ranks(_bm25_scores(spark, sf_dir), "score", "k_rank")
          .where(F.col("k_rank") <= RBO_DEPTH))
    vec = (_candidate_ranks(_probe_cosines(spark, sf_dir), "cos", "v_rank")
           .where(F.col("v_rank") <= RBO_DEPTH))

    both = (kw.join(vec, "doc_id")
            .select("k_rank", "v_rank").localCheckpoint(eager=False))
    depths = spark.range(1, RBO_DEPTH + 1).select(
        F.col("id").cast("int").alias("d"))
    ov = (depths.join(
        F.broadcast(both),
        (F.col("k_rank") <= F.col("d")) & (F.col("v_rank") <= F.col("d")),
        "left")
        .groupBy("d").agg(F.count(F.col("k_rank")).alias("x")))
    w = (F.lit(1 - RBO_P) * F.pow(F.lit(RBO_P), F.col("d") - 1)
         * F.col("x") / F.col("d"))
    at_depth = (ov.where(F.col("d") == RBO_DEPTH)
                .select(F.col("x").alias("xd")))
    return (ov.agg(F.round(F.sum(w) / (1 - RBO_P ** RBO_DEPTH), 6)
                   .alias("rbo"))
            .crossJoin(F.broadcast(at_depth))
            .select(F.lit(RBO_DEPTH).cast("int").alias("depth"),
                    F.col("xd").cast("long").alias("overlap_at_depth"),
                    "rbo"))


@register(
    "q_search_phrase",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter({_SQL_TOKS}, w -> w <> '') AS ws
        FROM documents),
    bg AS (
        SELECT doc_id, i - 1 AS pos, ws[i] || ' ' || ws[i+1] AS bigram
        FROM words, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        WHERE len(ws) >= 2),
    top AS (SELECT bigram FROM bg
            GROUP BY bigram ORDER BY COUNT(*) DESC, bigram LIMIT 1),
    hits AS (
        SELECT doc_id, COUNT(*) AS n_occurrences,
               CAST(MIN(pos) AS BIGINT) AS first_pos
        FROM bg JOIN top USING (bigram) GROUP BY doc_id)
    SELECT doc_id, n_occurrences, first_pos
    FROM hits ORDER BY n_occurrences DESC, doc_id LIMIT 10
    """,
    doc="Positional phrase search — the inverted-index primitive BM25's "
        "bag-of-words ranking cannot express (adjacency matters): the "
        "POSITIONAL index (doc_id, pos, bigram) is built by one "
        "posexplode over the zip_with bigram array, the probe phrase "
        "is the corpus' most frequent bigram under the deterministic "
        "(count DESC, bigram) total order (self-contained at any "
        "fixture scale — no hardcoded vocabulary), and matches rank "
        "docs by occurrence count with first-match position for "
        "snippeting. Plan shape: one corpus explode, a 1-row broadcast "
        "probe, one per-doc aggregate, top-10 via "
        "TakeOrderedAndProject — at 100 TB this is the same "
        "index-then-semi-join discipline as BM25 next door, with "
        "positions carried as a long instead of re-tokenizing at "
        "match time. A k-word phrase generalizes to the k-gram array "
        "or a pos+1 self-join of the unigram index; the bigram form "
        "pins the adjacency semantics the oracle can state exactly.",
)
def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    bg = (tok.where(n >= 2)
          .select("doc_id", F.posexplode(bg_arr).alias("pos", "bigram"))
          .localCheckpoint(eager=False))
    top = (bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), "bigram").limit(1).select("bigram"))
    return (bg.join(F.broadcast(top), "bigram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.min("pos").cast("long").alias("first_pos"))
            .orderBy(F.desc("n_occurrences"), "doc_id").limit(10))


MU = 2000.0  # Dirichlet prior mass (Zhai & Lafferty 2001's default range)


@register(
    "q_retrieval_query_likelihood",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    tot AS (SELECT SUM(len(toks))::DOUBLE AS ctoks FROM tok),
    cf AS (
        SELECT t AS term, COUNT(*)::DOUBLE AS cf
        FROM (SELECT unnest(toks) AS t FROM tok)
        WHERE t IN ({_TERMS_SQL}) GROUP BY t),
    tf AS (
        SELECT doc_id, t AS term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, unnest(toks) AS t, len(toks) AS dl FROM tok)
        WHERE t IN ({_TERMS_SQL})
        GROUP BY doc_id, t),
    cand AS (SELECT doc_id, ANY_VALUE(dl) AS dl FROM tf GROUP BY doc_id),
    scored AS (
        SELECT g.doc_id,
               SUM(ln((COALESCE(tf.tf, 0) + {MU} * g.cf / t.ctoks)
                      / (g.dl + {MU}))) AS s
        FROM (SELECT c.doc_id, c.dl, f.term, f.cf
              FROM cand c CROSS JOIN cf f) g
        LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term,
        tot t
        GROUP BY g.doc_id)
    SELECT doc_id, ROUND(s, 4) + 0.0 AS ql
    FROM scored ORDER BY ql DESC, doc_id LIMIT 10
    """,
    doc="Query-likelihood retrieval with DIRICHLET smoothing (Zhai & "
        "Lafferty 2001), mu=2000 — the language-model ranking family "
        "next to q_text_bm25_topk's probabilistic-IR one: score(d) = "
        "sum over query terms of log((tf + mu*P(t|C)) / (dl + mu)), "
        "where P(t|C) is the collection unigram model, so a doc "
        "missing a query term still pays the smoothed background "
        "cost instead of multiplying in a zero. Candidates are docs "
        "containing >= 1 probe term (the inverted-index probe BM25 "
        "uses; the 3-term query grid is a bounded x3 broadcast "
        "fanout over that candidate set, never the corpus), collection "
        "stats are two broadcast scalars, and the top-10 is "
        "TakeOrderedAndProject over the ROUNDED score with doc_id "
        "tie-break — the same total-order discipline as every top-k "
        "oracle in the engine.",
)
def q_retrieval_query_likelihood(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    tok = _doc_tokens(spark, sf_dir)
    tot = tok.agg(F.sum("dl").cast("double").alias("ctoks"))
    terms = (tok.select(F.explode("toks").alias("term"))
             .where(F.col("term").isin(*PROBE_TERMS)))
    cf = terms.groupBy("term").agg(F.count(F.lit(1)).cast("double")
                                   .alias("cf"))
    tf = _probe_tf(tok)
    cand = tf.groupBy("doc_id").agg(F.any_value("dl").alias("dl"))
    grid = cand.crossJoin(F.broadcast(cf))  # bounded x|Q| fanout
    term_s = F.log((F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                    + MU * F.col("cf") / F.col("ctoks"))
                   / (F.col("dl").cast("double") + MU))
    return (grid.join(tf.select("doc_id", "term", "tf"),
                      ["doc_id", "term"], "left")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.round(F.sum(term_s), 4).alias("ql"))
            .orderBy(F.desc("ql"), "doc_id").limit(10))


@register(
    "q_search_proximity",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, list_filter({_SQL_TOKS}, w -> w <> '') AS ws
        FROM documents),
    pos AS (
        SELECT doc_id, ws[i] AS term, i - 1 AS pos
        FROM words, LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
        WHERE ws[i] IN ('hash', 'join')),
    prox AS (
        SELECT a.doc_id,
               COUNT(*) AS n_pairs,
               CAST(MIN(ABS(a.pos - b.pos)) AS BIGINT) AS min_dist
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id
         AND a.term = 'hash' AND b.term = 'join'
         AND ABS(a.pos - b.pos) <= 5
        GROUP BY a.doc_id)
    SELECT doc_id, n_pairs, min_dist
    FROM prox ORDER BY n_pairs DESC, min_dist ASC, doc_id LIMIT 10
    """,
    doc="PROXIMITY search — the windowed relaxation between "
        "q_search_phrase's exact adjacency and BM25's bag-of-words: "
        "docs where 'hash' and 'join' co-occur within 5 token "
        "positions, ranked by qualifying position-pair count with the "
        "minimum distance for snippeting and a (count, distance, id) "
        "total order. The POSITIONAL index (doc_id, term, pos) keeps "
        "only the probe terms (the isin filter rides the explode — at "
        "100 TB the index is probe-sized, not corpus-sized), and the "
        "pair join is per-document on that filtered index, so its "
        "fanout is occurrences(hash) x occurrences(join) per doc — "
        "document-bounded, never corpus-quadratic. Top-10 via "
        "TakeOrderedAndProject.",
)
def q_search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    pos = (d.select("doc_id",
                    F.posexplode(T.tokens("text")).alias("pos", "term"))
           .where(F.col("term").isin("hash", "join")))
    a = (pos.where(F.col("term") == "hash")
         .select("doc_id", F.col("pos").alias("pa")))
    b = (pos.where(F.col("term") == "join")
         .select("doc_id", F.col("pos").alias("pb")))
    return (a.join(b, "doc_id")
            .where(F.abs(F.col("pa") - F.col("pb")) <= 5)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long")
                 .alias("min_dist"))
            .orderBy(F.desc("n_pairs"), F.asc("min_dist"), "doc_id")
            .limit(10))
