"""Similarity-search queries over `embeddings`.

The brute-force top-k has a full DuckDB oracle (cosine recomputed with
identical double arithmetic: float elements widened to double, index-
order summation). The LSH variant is approximate (recall < 1 by design)
-> rows-only check; its quality is asserted in unit tests against the
brute-force baseline instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.operators.similarity import (
    _arrow_knn, build_ivf_index, cosine_topk, cosine_topk_arrow,
    cosine_topk_lsh, ivf_probe,
)
from datalake_project_spark.queries import local_df, register


@register(
    "q_ann_cosine_topk",
    oracle="""
    SELECT query_id, neighbor_id, rank, ROUND(cos_sim, 6) AS cos_sim
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON c.vec_id <> q.vec_id) t
    WHERE rank <= 5
    """,
    doc="Exact brute-force cosine top-5 for 10 query vectors: broadcast "
        "queries x candidate scan, deterministic (sim DESC, id ASC) "
        "ranking. Correctness baseline for the ANN path.",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_topk(q, e, k=5)


@register(
    "q_ann_cosine_topk_arrow",
    oracle="""
    SELECT query_id, neighbor_id, rank, ROUND(cos_sim, 6) AS cos_sim
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id ASC) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON c.vec_id <> q.vec_id) t
    WHERE rank <= 5
    """,
    doc="Exact brute-force cosine top-5 — the Arrow/BLAS lane: the "
        "bounded probe set is one normalized numpy matrix, and each "
        "candidate Arrow batch is scored by a single "
        "(batch x dim) @ (dim x q) matmul inside mapInPandas, emitting "
        "only batch-local top-k rows (top-k is monotone, so global "
        "winners are a subset of batch winners). Same oracle and "
        "deterministic (cos DESC, id ASC) contract as "
        "q_ann_cosine_topk, which stays as the pure-codegen twin; this "
        "lane is ~10x on the scan side because one BLAS call replaces "
        "batch x q per-row F.aggregate folds — at 100 TB the candidate "
        "scan IS the cost, so the matmul lane is the one the kNN-eval "
        "and intrinsic-dimension probes reuse.",
)
def q_ann_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_topk_arrow(q, e, k=5)


@register(
    "q_ann_range_search",
    oracle="""
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
                   AS cos_sim
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON c.vec_id <> q.vec_id) t
    WHERE cos_sim >= 0.3
    """,
    doc="Fixed-radius (range) search: every candidate within cosine >= "
        "0.3 of each of 10 probe vectors — the all-within-tau companion "
        "to q_ann_cosine_topk (near-dup audits and recall@radius evals "
        "ask for radius membership, not closest-k). No window and no "
        "shuffle anywhere: probes broadcast, each candidate partition "
        "scores in codegen and filters AT THE SCAN, so the plan is one "
        "map-only pass over the big side. Both engines round the score "
        "HALF-UP to 6 dp BEFORE the tau comparison, so an ulp wobble at "
        "the boundary cannot flip membership between Spark and the "
        "oracle. operators/similarity.py:cosine_range.",
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.similarity import cosine_range

    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_range(q, e, threshold=0.3)


@register(
    "q_ann_lsh_topk",
    oracle=None,  # approximate by design; recall asserted in unit tests
    doc="LSH-bucketed approximate top-5 (16 random hyperplanes, 4 bands): "
        "candidates from sub-band collisions, exact rescoring. The 100 TB "
        "path — cost scales with bucket collisions, not n x q. Rows-only "
        "ONLY because the numpy-seeded float hyperplanes are not SQL-"
        "reproducible; the full pipeline is value-checked by the "
        "portable twin q_ann_lsh_portable and the recall floor by "
        "q_ann_lsh_recall.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return cosine_topk_lsh(q, e, k=5)


def _ivf_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVF index path for one embeddings table
    (``scratch.build_once``): a regenerated fixture triggers a rebuild;
    otherwise every probe reuses the stored index — the train-once /
    probe-many lifecycle the 100 TB design calls for."""
    from datalake_project_spark.scratch import build_once

    return build_once(
        "ivf", sf_dir, [f"{sf_dir.rstrip('/')}/embeddings.parquet"],
        lambda tmp: build_ivf_index(
            Catalog(spark, sf_dir).table("embeddings"), tmp, n_clusters=16))


@register(
    "q_ann_ivf_topk",
    oracle=None,  # approximate by design; recall floor checked by q_ann_ivf_recall
    doc="IVF approximate top-5 against a PERSISTED index: build step "
        "(KMeans coarse quantizer, 16 cells, candidates written "
        "partitionBy(cell)) runs once per fixture; the query is "
        "probe-only — each query's 4 nearest cells are a partition-pruned "
        "scan of n_probe/n_clusters of the data, exact rescoring inside. "
        "Rows-only ONLY because KMeans centroids are not SQL-"
        "reproducible; the probe lifecycle is value-checked by the "
        "portable twin q_ann_ivf_portable and the recall floor by "
        "q_ann_ivf_recall.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return ivf_probe(q, _ivf_index_for(spark, sf_dir), k=5, n_probe=4)


def _ann_recall(spark: SparkSession, sf_dir: str, approx: DataFrame,
                floor: float) -> DataFrame:
    """Aggregate recall@5 of an approximate top-k against the exact
    brute-force top-k, reduced to an oracle-checkable floor assertion.
    The exact side is recomputed in-engine; the oracle states the
    invariant (n_queries from the data, the floor literal, and that the
    floor holds). A recall regression flips meets_floor and fails the
    value hash."""
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    exact = cosine_topk(q, e, k=5).select("query_id", "neighbor_id")
    hits = exact.join(approx.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"]).count()
    total = exact.count()
    recall = hits / total if total else 0.0
    return local_df(spark, 
        [(total // 5, float(floor), bool(recall >= floor))],
        "n_queries long, recall_floor double, meets_floor boolean")


_ANN_RECALL_ORACLE = """
    SELECT COUNT(DISTINCT vec_id) AS n_queries,
           CAST({floor} AS DOUBLE) AS recall_floor,
           TRUE AS meets_floor
    FROM embeddings WHERE vec_id < 10
"""


@register(
    "q_ann_lsh_recall",
    oracle=_ANN_RECALL_ORACLE.format(floor="0.3"),
    doc="Recall floor for the LSH ANN path: aggregate recall@5 vs the "
        "exact brute-force top-5 must be >= 0.3 (measured 0.40-0.46 on "
        "the fixtures). Converts the approximate query from rows-only to "
        "a value-checked row: any recall regression fails the hash.",
)
def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    return _ann_recall(spark, sf_dir, cosine_topk_lsh(q, e, k=5), floor=0.3)


@register(
    "q_embed_quantize_recall",
    oracle=_ANN_RECALL_ORACLE.format(floor="0.85"),
    doc="int8 quantization fidelity floor: run the full exact top-5 over "
        "vectors that went through quantize_int8 -> dequantize (per-"
        "vector symmetric scale, ~4x smaller payloads — at 100 TB the "
        "embedding bytes are the shuffle/scan cost) and require "
        "recall@5 vs the float32 exact top-5 >= 0.85 (measured 0.98 on "
        "the fixtures). Any quantizer arithmetic defect fails the hash.",
)
def q_embed_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.similarity import (
        dequantize, quantize_int8,
    )
    e = Catalog(spark, sf_dir).table("embeddings")
    deq = dequantize(quantize_int8(e))
    q = deq.where(F.col("vec_id") < 10)
    return _ann_recall(spark, sf_dir, cosine_topk(q, deq, k=5), floor=0.85)


@register(
    "q_ann_ivf_recall",
    oracle=_ANN_RECALL_ORACLE.format(floor="0.4"),
    doc="Recall floor for the IVF ANN path (probe of the persisted "
        "index): aggregate recall@5 vs exact top-5 must be >= 0.4 "
        "(measured 0.56-0.58 on the fixtures).",
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 10)
    approx = ivf_probe(q, _ivf_index_for(spark, sf_dir), k=5, n_probe=4)
    return _ann_recall(spark, sf_dir, approx, floor=0.4)


@register(
    "q_embed_label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, u.i AS dim_idx, embedding[u.i + 1] AS v
        FROM embeddings, unnest(range(0, len(embedding))) AS u(i))
    SELECT label, CAST(dim_idx AS INT) AS dim_idx,
           ROUND(AVG(v::DOUBLE), 4) + 0.0 AS centroid_val
    FROM dims
    GROUP BY label, dim_idx
    """,
    doc="Per-label embedding centroids (class prototypes — the build "
        "step of centroid classifiers, IVF coarse quantizers, and "
        "semantic-dedup cluster seeding): posexplode each vector to "
        "(label, dim, value) rows and average per (label, dim). One "
        "shuffle with map-side partial averages; output is "
        "n_labels x n_dims rows, never wide arrays through the "
        "aggregate. Dimension-indexed rows keep the oracle a plain "
        "GROUP BY (DuckDB averages the same cells).",
)
def q_embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("dim_idx", "v"))
    return (dims.groupBy("label", "dim_idx")
            .agg((F.round(F.avg(F.col("v").cast("double")), 4)
                  + F.lit(0.0)).alias("centroid_val")))


@register(
    "q_embed_knn_label_accuracy",
    oracle="""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 200),
    nn AS (
        SELECT q.vec_id, q.label AS q_label, c.label AS nn_label,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id ASC) AS rank
        FROM q JOIN embeddings c ON c.vec_id <> q.vec_id)
    SELECT q_label AS label,
           COUNT(*) AS n_queries,
           CAST(COUNT(*) FILTER (WHERE nn_label = q_label) AS BIGINT) AS n_match
    FROM nn WHERE rank = 1
    GROUP BY q_label
    """,
    doc="Embedding-space quality probe: 1-NN label agreement per class "
        "(does each vector's nearest neighbor share its label?) — the "
        "standard cheap eval of an embedding table before it is trusted "
        "for semantic dedup or retrieval. Reuses the exact brute-force "
        "top-k on its Arrow/BLAS lane (one matmul per candidate batch "
        "against the 200-probe matrix — same deterministic "
        "sim-desc/id-asc tie-break as the codegen twin); the integer "
        "match counts make the probe fully value-checkable, no float "
        "thresholds in the output.",
)
def q_embed_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 200)
    nn1 = (cosine_topk_arrow(q, e, k=1)
           .select("query_id", "neighbor_id"))
    labels = e.select("vec_id", "label")
    joined = (nn1
              .join(labels.withColumnsRenamed(
                  {"vec_id": "query_id", "label": "q_label"}), "query_id")
              .join(labels.withColumnsRenamed(
                  {"vec_id": "neighbor_id", "label": "nn_label"}), "neighbor_id"))
    return (joined.groupBy(F.col("q_label").alias("label"))
            .agg(F.count(F.lit(1)).alias("n_queries"),
                 F.count(F.when(F.col("nn_label") == F.col("q_label"), 1))
                 .cast("long").alias("n_match")))


@register(
    "q_embed_triplet_mining",
    oracle="""
    WITH a AS (
        SELECT vec_id AS aid, embedding AS av, label AS al
        FROM embeddings WHERE vec_id < 20),
    s AS (
        SELECT a.aid, a.al, e.vec_id AS nid, e.label AS nl,
               list_cosine_similarity(a.av::DOUBLE[],
                                      e.embedding::DOUBLE[]) AS cs
        FROM a JOIN embeddings e ON e.vec_id <> a.aid),
    pos AS (
        SELECT aid, nid, cs,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY cs DESC, nid) AS rk
        FROM s WHERE nl = al),
    neg AS (
        SELECT aid, nid, cs,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY cs DESC, nid) AS rk
        FROM s WHERE nl <> al)
    SELECT p.aid AS anchor_id, p.nid AS pos_id, n.nid AS neg_id,
           ROUND(p.cs, 6) + 0.0 AS pos_sim,
           ROUND(n.cs, 6) + 0.0 AS neg_sim,
           ROUND(p.cs - n.cs, 6) + 0.0 AS margin
    FROM pos p JOIN neg n ON n.aid = p.aid AND n.rk = 1
    WHERE p.rk = 1
    """,
    doc="Hard-negative triplet mining for contrastive training: for "
        "each anchor vector, the positive is its nearest SAME-label "
        "neighbor and the negative its nearest DIFFERENT-label "
        "neighbor (the hard negative — the pair selection that makes "
        "contrastive/metric learning converge, vs easy random "
        "negatives), with the margin the loss will push on. Same "
        "plan shape as the exact ANN baseline: anchors broadcast "
        "against the candidate side, one scored pass, two partitioned "
        "rank-1 windows (per-anchor, bounded groups) — at 100 TB the "
        "anchor batch streams through the same broadcast lane as ANN "
        "queries, and the candidate scan is shared by both ranks. "
        "Deterministic (cosine DESC, id ASC) tie-break on both "
        "engines, identical to the ANN family.",
)
def q_embed_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.vectors import cosine

    e = Catalog(spark, sf_dir).table("embeddings")
    a = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av"),
        F.col("label").alias("al"))
    s = (e.crossJoin(F.broadcast(a))
         .where(F.col("vec_id") != F.col("aid"))
         .select("aid", "al", F.col("vec_id").alias("nid"),
                 F.col("label").alias("nl"),
                 cosine(F.col("av"), F.col("embedding")).alias("cs")))
    w = Window.partitionBy("aid").orderBy(F.desc("cs"), "nid")
    pos = (s.where(F.col("nl") == F.col("al"))
           .withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") == 1)
           .select("aid", F.col("nid").alias("pos_id"),
                   F.col("cs").alias("pcs")))
    neg = (s.where(F.col("nl") != F.col("al"))
           .withColumn("rk", F.row_number().over(w))
           .where(F.col("rk") == 1)
           .select(F.col("aid").alias("naid"),
                   F.col("nid").alias("neg_id"),
                   F.col("cs").alias("ncs")))
    return (pos.join(neg, pos.aid == neg.naid)
            .select(F.col("aid").alias("anchor_id"), "pos_id", "neg_id",
                    (F.round("pcs", 6) + F.lit(0.0)).alias("pos_sim"),
                    (F.round("ncs", 6) + F.lit(0.0)).alias("neg_sim"),
                    (F.round(F.col("pcs") - F.col("ncs"), 6) + F.lit(0.0))
                    .alias("margin")))


@register(
    "q_embed_matryoshka_recall",
    oracle=_ANN_RECALL_ORACLE.format(floor="0.3"),
    doc="Dimension-truncation recall floor (Matryoshka-style prefix "
        "slice): exact top-5 over vectors cut to their first 48 of 64 "
        "dims must keep recall@5 >= 0.3 vs the full-width exact top-5 "
        "(measured 0.42-0.48 across fixtures). Truncation is the THIRD "
        "compression rung beside int8 scalar quantization "
        "(q_embed_quantize_recall, bytes-per-value) and PQ "
        "(q_embed_pq_recall, codebook) — at 100 TB embedding bytes are "
        "the scan/shuffle cost and dims multiply them directly; an "
        "MRL-trained model front-loads information so prefix recall "
        "runs far above this isotropic fixture's (where a 48/64 slice "
        "is an unprivileged random subspace — the floor documents "
        "exactly that regime). The slice is one F.slice projection; "
        "everything downstream reuses the broadcast-query exact "
        "top-k operator, so the plan shape is unchanged.",
)
def q_embed_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    trunc = e.select("vec_id", F.slice("embedding", 1, 48).alias("embedding"),
                     "label")
    q = trunc.where(F.col("vec_id") < 10)
    return _ann_recall(spark, sf_dir, cosine_topk(q, trunc, k=5), floor=0.3)


# --------------------------------------------------------------------------
# Farthest-point (Gonzalez k-center) seeding — deterministic k-means init
# --------------------------------------------------------------------------

@register(
    "q_embed_farthest_point_init",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seed AS (SELECT MIN(vec_id) AS vec_id FROM e),
    ch1(rnk, vec_id, d) AS (
        SELECT 1, vec_id, CAST(NULL AS DOUBLE) FROM seed),
    dm1 AS (
        SELECT x.vec_id,
               MIN(ROUND(1 - list_cosine_similarity(x.v, c.v), 6)) AS d
        FROM e x JOIN e c ON c.vec_id IN (SELECT vec_id FROM ch1)
        WHERE x.vec_id NOT IN (SELECT vec_id FROM ch1)
        GROUP BY x.vec_id),
    p2 AS (SELECT vec_id, d FROM dm1 ORDER BY d DESC, vec_id LIMIT 1),
    ch2 AS (SELECT * FROM ch1 UNION ALL SELECT 2, vec_id, d FROM p2),
    dm2 AS (
        SELECT x.vec_id,
               MIN(ROUND(1 - list_cosine_similarity(x.v, c.v), 6)) AS d
        FROM e x JOIN e c ON c.vec_id IN (SELECT vec_id FROM ch2)
        WHERE x.vec_id NOT IN (SELECT vec_id FROM ch2)
        GROUP BY x.vec_id),
    p3 AS (SELECT vec_id, d FROM dm2 ORDER BY d DESC, vec_id LIMIT 1),
    ch3 AS (SELECT * FROM ch2 UNION ALL SELECT 3, vec_id, d FROM p3),
    dm3 AS (
        SELECT x.vec_id,
               MIN(ROUND(1 - list_cosine_similarity(x.v, c.v), 6)) AS d
        FROM e x JOIN e c ON c.vec_id IN (SELECT vec_id FROM ch3)
        WHERE x.vec_id NOT IN (SELECT vec_id FROM ch3)
        GROUP BY x.vec_id),
    p4 AS (SELECT vec_id, d FROM dm3 ORDER BY d DESC, vec_id LIMIT 1),
    ch4 AS (SELECT * FROM ch3 UNION ALL SELECT 4, vec_id, d FROM p4),
    cov AS (
        SELECT MAX(dmin) AS radius FROM (
            SELECT MIN(ROUND(1 - list_cosine_similarity(x.v, c.v), 6))
                       AS dmin
            FROM e x JOIN e c ON c.vec_id IN (SELECT vec_id FROM ch4)
            WHERE x.vec_id NOT IN (SELECT vec_id FROM ch4)
            GROUP BY x.vec_id))
    SELECT CAST(ch4.rnk AS INT) AS center_rank, ch4.vec_id,
           ch4.d AS dist_at_selection,
           (SELECT ROUND(radius, 6) FROM cov) AS coverage_radius
    FROM ch4 ORDER BY center_rank
    """,
    doc="Farthest-point traversal (Gonzalez '85) — the deterministic "
        "k-center seeding that replaces k-means++'s random D^2 sampling "
        "when reproducibility matters, with a 2-approximation guarantee "
        "on the k-center objective. Seed = lowest vec_id; each of the "
        "next 3 rounds picks the vector MAXIMIZING its min cosine "
        "distance to the chosen set (distances rounded to 6 dp BEFORE "
        "the argmax with a vec_id tie-break, so both engines select "
        "identical centers — the ulp-safe argmax discipline). The audit "
        "also reports the k-center objective itself: coverage_radius = "
        "max over all points of the distance to the nearest chosen "
        "center. Scale shape: each round is one broadcast of <=k "
        "chosen vectors against the embedding scan + one "
        "TakeOrderedAndProject — k bounded scans total, no pairwise "
        "matrix, no shuffle of the big side; the driver holds only the "
        "k selected ids (the bounded driver-boundary state pattern, "
        "like the MMR pool).",
)
def q_embed_farthest_point_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.vectors import cosine
    K = 4
    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", "embedding").localCheckpoint(eager=False))
    seed = e.orderBy("vec_id").limit(1).select("vec_id").collect()[0][0]
    chosen: list[tuple[int, int, float]] = [(1, int(seed), None)]

    def dmin_to(ids: list[int]) -> DataFrame:
        c = (e.where(F.col("vec_id").isin(ids))
             .select(F.col("vec_id").alias("c_id"),
                     F.col("embedding").alias("cv")))
        return (e.where(~F.col("vec_id").isin(ids))
                .crossJoin(F.broadcast(c))
                .groupBy("vec_id")
                .agg(F.min(F.round(1 - cosine(F.col("embedding"),
                                              F.col("cv")), 6))
                     .alias("dmin")))

    for rnk in range(2, K + 1):
        ids = [v for _, v, _ in chosen]
        row = (dmin_to(ids)
               .orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0])
        chosen.append((rnk, int(row["vec_id"]), float(row["dmin"])))

    radius = (dmin_to([v for _, v, _ in chosen])
              .agg(F.round(F.max("dmin"), 6).alias("radius")))
    out = local_df(spark, 
        chosen, "center_rank int, vec_id long, dist_at_selection double")
    return (out.crossJoin(F.broadcast(radius))
            .select("center_rank", "vec_id", "dist_at_selection",
                    F.col("radius").alias("coverage_radius"))
            .orderBy("center_rank"))


# --------------------------------------------------------------------------
# TwoNN intrinsic dimension — how many dimensions do the embeddings USE?
# --------------------------------------------------------------------------

@register(
    "q_embed_intrinsic_dimension",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 100),
    d AS (
        SELECT q.vec_id AS qid,
               ROUND(1 - list_cosine_similarity(q.v, c.v), 6) AS dist,
               c.vec_id AS cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(1 - list_cosine_similarity(q.v, c.v), 6),
                            c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.vec_id),
    nn2 AS (
        SELECT qid, MIN(dist) AS r1, MAX(dist) AS r2
        FROM d WHERE rn <= 2 GROUP BY qid),
    mu AS (SELECT qid, LN(r2 / r1) AS lnmu FROM nn2 WHERE r1 > 0)
    SELECT (SELECT COUNT(*) FROM q)::BIGINT AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           ROUND(COUNT(*) / SUM(lnmu), 4) AS intrinsic_dimension,
           ROUND(AVG(lnmu), 6) AS mean_ln_mu
    FROM mu
    """,
    doc="TwoNN intrinsic-dimension estimate (Facco et al. 2017) over a "
        "100-point probe sample: id_hat = n / sum ln(r2/r1) from each "
        "point's two nearest-neighbor distances — the statistic that "
        "says how many dimensions the embeddings ACTUALLY use, which "
        "is what governs LSH/IVF/PQ recall budgets and whether "
        "Matryoshka truncation (q_embed_matryoshka_recall) is safe; "
        "an ambient-64 table with intrinsic dimension ~10 compresses "
        "much harder than its shape suggests. Distances are "
        "6-dp-rounded BEFORE the rank (the ulp-safe argmax "
        "discipline), the neighbor rank runs in a per-QUERY window "
        "(bounded partitions), and exact-duplicate neighbors (r1 = 0) "
        "are excluded as the estimator requires. Probe cost is "
        "100 x n distances — a broadcast of the 100 queries against "
        "one candidate scan, never n^2.",
)
def q_embed_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    q = e.where(F.col("vec_id") < 100)
    # Arrow/BLAS kNN lane: dist = 1 - cos is HALF-UP rounded to 6 dp
    # INSIDE the kernel before ranking — the same round-before-rank
    # contract the oracle pins (ulp-safe argmax).
    nn2 = (_arrow_knn(q, e, k=2, query_id="vec_id", cand_id="vec_id",
                      vec_col="embedding", exclude_self=True,
                      distance=True, round_dp=6)
           .groupBy(F.col("query_id").alias("qid"))
           .agg(F.min("dist").alias("r1"), F.max("dist").alias("r2")))
    mu = (nn2.where(F.col("r1") > 0)
          .select(F.log(F.col("r2") / F.col("r1")).alias("lnmu")))
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return (mu.agg(F.count(F.lit(1)).alias("n_used"),
                   F.sum("lnmu").alias("s"),
                   F.avg("lnmu").alias("a"))
            .crossJoin(F.broadcast(nq))
            .select(F.col("n_queries").cast("long").alias("n_queries"),
                    F.col("n_used").cast("long").alias("n_used"),
                    F.round(F.col("n_used") / F.col("s"), 4)
                     .alias("intrinsic_dimension"),
                    F.round("a", 6).alias("mean_ln_mu")))


# --------------------------------------------------------------------------
# Hubness — the high-dimensional pathology that breaks k-NN democracies
# --------------------------------------------------------------------------

@register(
    "q_embed_hubness",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 100),
    d AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(1 - list_cosine_similarity(q.v, c.v), 6),
                            c.vec_id) AS rn
        FROM q JOIN e c ON c.vec_id <> q.vec_id),
    occ AS (
        SELECT cid, COUNT(*) AS k_occ
        FROM d WHERE rn <= 5 GROUP BY cid),
    base AS (
        SELECT e.vec_id, COALESCE(o.k_occ, 0) AS k_occ
        FROM e LEFT JOIN occ o ON o.cid = e.vec_id),
    s AS (
        SELECT COUNT(*) AS n, SUM(k_occ) AS s1,
               SUM(k_occ * k_occ) AS s2,
               SUM(k_occ * k_occ * k_occ) AS s3,
               MAX(k_occ) AS mx
        FROM base),
    m AS (
        SELECT n, mx,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3
        FROM s)
    SELECT CAST(n AS BIGINT) AS n_candidates,
           CAST(mx AS BIGINT) AS max_k_occurrence,
           ROUND(mu, 4) AS mean_k_occurrence,
           ROUND((r3 - 3 * mu * r2 + 2 * mu * mu * mu)
                 / POWER(r2 - mu * mu, 1.5), 4) AS hubness_skew,
           (r3 - 3 * mu * r2 + 2 * mu * mu * mu)
               / POWER(r2 - mu * mu, 1.5) > 1.0 AS hubby
    FROM m
    """,
    doc="Hubness diagnostic (Radovanovic et al. 2010): the skewness of "
        "the 5-occurrence distribution — how often each vector appears "
        "in other points' top-5 neighbor lists over a 100-query probe. "
        "High positive skew means a few 'hub' vectors dominate "
        "everyone's neighbor lists (the high-dimensional pathology "
        "that silently degrades k-NN labeling, item-kNN recommenders, "
        "and ANN recall benchmarks); the fix is usually centering or "
        "mutual-proximity rescaling, and THIS query is the before/"
        "after meter. Pairs with q_embed_intrinsic_dimension and "
        "q_embed_anisotropy as the embedding-geometry triptych. "
        "k-occurrence counts are exact integers (rounded-distance "
        "ranked top-5, per-query windows); skewness comes from the "
        "integer power sums (the q_stats_moments formulation).",
)
def q_embed_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.vectors import cosine

    e = Catalog(spark, sf_dir).table("embeddings")
    q = (e.where(F.col("vec_id") < 100)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv")))
    c = e.select(F.col("vec_id").alias("cid"),
                 F.col("embedding").alias("cv"))
    d = (c.crossJoin(F.broadcast(q))
         .where(F.col("cid") != F.col("qid"))
         .select("qid", "cid",
                 F.round(1 - cosine(F.col("qv"), F.col("cv")), 6)
                 .alias("dist")))
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    occ = (d.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= 5)
           .groupBy("cid").agg(F.count(F.lit(1)).alias("k_occ")))
    base = (e.select("vec_id")
            .join(occ, F.col("vec_id") == F.col("cid"), "left")
            .select(F.coalesce("k_occ", F.lit(0)).alias("k_occ")))
    s = base.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k_occ").alias("s1"),
                 F.sum(F.col("k_occ") * F.col("k_occ")).alias("s2"),
                 F.sum(F.col("k_occ") * F.col("k_occ") * F.col("k_occ"))
                 .alias("s3"),
                 F.max("k_occ").alias("mx"))
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    skew = (r3 - 3 * mu * r2 + 2 * mu * mu * mu) \
        / F.pow(r2 - mu * mu, F.lit(1.5))
    return s.select(
        F.col("n").cast("long").alias("n_candidates"),
        F.col("mx").cast("long").alias("max_k_occurrence"),
        F.round(mu, 4).alias("mean_k_occurrence"),
        F.round(skew, 4).alias("hubness_skew"),
        (skew > 1.0).alias("hubby"))


# --------------------------------------------------------------------------
# Portable-signature ANN twins — LSH + IVF mechanisms, fully value-checked
# --------------------------------------------------------------------------

def _portable_bits(spark: SparkSession, e: DataFrame,
                   n_planes: int = 16, dim: int = 64,
                   scale: int = 10000) -> DataFrame:
    """(vec_id, j, bit): sign bits of LCG-derived +/-1 hyperplanes over
    integer-scaled embeddings — PURE integer arithmetic, bit-identical
    in DuckDB. Component d of plane j is +1 iff
    (1103515245*(j*dim+d) + 12345) mod 2^31 < 2^30; embedding values are
    rounded to integer ten-thousandths first, so every dot product is an
    exact BIGINT sum whose sign both engines agree on with zero float
    risk (a float hyperplane could flip a near-zero sign between
    engines; an integer one cannot)."""
    qz = (e.select("vec_id", F.posexplode("embedding").alias("d", "x"))
          .select("vec_id", F.col("d").cast("long").alias("d"),
                  F.round(F.col("x").cast("double") * scale)
                  .cast("long").alias("qx")))
    planes = local_df(spark, 
        [(j, d, 1 if (1103515245 * (j * dim + d) + 12345) % 2**31 < 2**30
          else -1)
         for j in range(n_planes) for d in range(dim)],
        "j long, d long, w long")
    return (qz.join(F.broadcast(planes), "d")
            .groupBy("vec_id", "j")
            .agg(F.when(F.sum(F.col("w") * F.col("qx")) >= 0, F.lit(1))
                 .otherwise(F.lit(0)).alias("bit")))


def _portable_band_codes(spark: SparkSession, bits: DataFrame,
                         band_size: int = 4) -> DataFrame:
    """(vec_id, band, code): pack each run of ``band_size`` sign bits
    into an integer band code (bit j contributes 2^(j mod band_size))."""
    n = 16
    jt = local_df(spark, 
        [(j, j // band_size, 2 ** (j % band_size)) for j in range(n)],
        "j long, band long, p2 long")
    return (bits.join(F.broadcast(jt), "j")
            .groupBy("vec_id", "band")
            .agg(F.sum(F.col("bit") * F.col("p2")).alias("code")))


_PORTABLE_CTES = """
    qz AS (
        SELECT vec_id, d - 1 AS d,
               CAST(ROUND(embedding[CAST(d AS INT)]::DOUBLE * 10000)
                    AS BIGINT) AS qx
        FROM embeddings, range(1, 65) t(d)),
    planes AS (
        SELECT j, d,
               CASE WHEN (1103515245 * (j * 64 + d) + 12345) % 2147483648
                         < 1073741824 THEN 1 ELSE -1 END AS w
        FROM (SELECT unnest(range(0, 16)) AS j),
             (SELECT unnest(range(0, 64)) AS d)),
    bits AS (
        SELECT q.vec_id, p.j,
               CASE WHEN SUM(p.w * q.qx) >= 0 THEN 1 ELSE 0 END AS bit
        FROM qz q JOIN planes p ON p.d = q.d
        GROUP BY q.vec_id, p.j),
    codes AS (
        SELECT vec_id, j // 4 AS band,
               CAST(SUM(bit * (1 << CAST(j % 4 AS INT))) AS BIGINT) AS code
        FROM bits GROUP BY vec_id, j // 4)
"""


def _exact_top5(e: DataFrame, pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): candidate ``pairs`` re-scored
    by exact cosine over ``e``'s embeddings, the top 5 per query (ties to
    the lower neighbor id)."""
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.vectors import cosine

    qv = e.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("_qv"))
    cv = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("_cv"))
    scored = (pairs.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
              .withColumn("cs", cosine(F.col("_qv"), F.col("_cv"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cs", 6).alias("cos_sim")))


@register(
    "q_ann_lsh_portable",
    oracle="""
    WITH """ + _PORTABLE_CTES + """,
    pairs AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM codes q JOIN codes c ON q.band = c.band AND q.code = c.code
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) AS cs,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[])
                            DESC, p.neighbor_id ASC) AS rank
        FROM pairs p
        JOIN embeddings a ON a.vec_id = p.query_id
        JOIN embeddings b ON b.vec_id = p.neighbor_id)
    SELECT query_id, neighbor_id, rank, ROUND(cs, 6) AS cos_sim
    FROM scored WHERE rank <= 5
    """,
    doc="Random-hyperplane LSH end to end, fully value-checked — the "
        "portable twin the rows-only production query (q_ann_lsh_topk, "
        "numpy-seeded float hyperplanes, not SQL-reproducible) names as "
        "its oracle-checked companion. Same pipeline shape (16 sign "
        "bits -> 4 bands of 4 -> band-equality candidates -> exact "
        "cosine rescoring -> top-5), but the hyperplanes are LCG-derived "
        "+/-1 vectors over integer-scaled embeddings, so signatures, "
        "band codes, and the candidate set are exact integer arithmetic "
        "both engines reproduce bit-for-bit; only the final rescoring "
        "touches doubles, with the same index-order discipline "
        "q_ann_cosine_topk already proves. Candidate generation "
        "shuffles (id, band, code) rows, never vectors — the same "
        "O(collisions) scale path as the production operator.",
)
def q_ann_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    codes = _portable_band_codes(
        spark, _portable_bits(spark, e)).localCheckpoint(eager=False)
    qc = (codes.where(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"), "band", "code"))
    cc = codes.select(F.col("vec_id").alias("neighbor_id"), "band", "code")
    pairs = (qc.join(cc, ["band", "code"])
             .where(F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id").distinct())
    return _exact_top5(e, pairs)


@register(
    "q_ann_ivf_portable",
    oracle="""
    WITH """ + _PORTABLE_CTES + """,
    cells AS (SELECT vec_id, code AS cell FROM codes WHERE band = 0),
    cellbits AS (
        SELECT c, j, (c >> CAST(j AS INT)) & 1 AS cbit
        FROM (SELECT unnest(range(0, 16)) AS c),
             (SELECT unnest(range(0, 4)) AS j)),
    probe AS (
        SELECT query_id, c AS cell FROM (
            SELECT b.vec_id AS query_id, cb.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY SUM(CASE WHEN b.bit <> cb.cbit
                                         THEN 1 ELSE 0 END) ASC, cb.c ASC
                   ) AS rnk
            FROM bits b JOIN cellbits cb ON cb.j = b.j
            WHERE b.vec_id < 10 AND b.j < 4
            GROUP BY b.vec_id, cb.c) t
        WHERE rnk <= 4),
    pairs AS (
        SELECT p.query_id, cl.vec_id AS neighbor_id
        FROM probe p JOIN cells cl ON cl.cell = p.cell
        WHERE cl.vec_id <> p.query_id),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) AS cs,
               ROW_NUMBER() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[])
                            DESC, p.neighbor_id ASC) AS rank
        FROM pairs p
        JOIN embeddings a ON a.vec_id = p.query_id
        JOIN embeddings b ON b.vec_id = p.neighbor_id)
    SELECT query_id, neighbor_id, rank, ROUND(cs, 6) AS cos_sim
    FROM scored WHERE rank <= 5
    """,
    doc="IVF probe end to end, fully value-checked — the portable twin "
        "the rows-only production query (q_ann_ivf_topk, KMeans "
        "centroids, not SQL-reproducible) names as its oracle-checked "
        "companion. The coarse quantizer is the first 4 LCG-hyperplane "
        "sign bits (16 cells, the production cell count); each query "
        "probes the n_probe=4 cells nearest by code hamming distance "
        "(cell-id tie-break) and rescores exactly inside them — "
        "assignment, probe selection, and the candidate set are pure "
        "integer arithmetic. Mirrors the production lifecycle shape: "
        "cell assignment is the partition key, a probe reads "
        "n_probe/n_cells of the data (partition-pruned scan at scale), "
        "exact top-5 inside the probed union.",
)
def q_ann_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = Catalog(spark, sf_dir).table("embeddings")
    bits = _portable_bits(spark, e).localCheckpoint(eager=False)
    cells = _portable_band_codes(spark, bits) \
        .where(F.col("band") == 0) \
        .select("vec_id", F.col("code").alias("cell"))
    cellbits = local_df(spark, 
        [(c, j, (c >> j) & 1) for c in range(16) for j in range(4)],
        "c long, j long, cbit long")
    wq = Window.partitionBy("query_id").orderBy(F.asc("ham"), F.asc("c"))
    probe = (bits.where((F.col("vec_id") < 10) & (F.col("j") < 4))
             .join(F.broadcast(cellbits), "j")
             .groupBy(F.col("vec_id").alias("query_id"), "c")
             .agg(F.sum(F.when(F.col("bit") != F.col("cbit"), 1)
                        .otherwise(0)).alias("ham"))
             .withColumn("rnk", F.row_number().over(wq))
             .where(F.col("rnk") <= 4)
             .select("query_id", F.col("c").alias("cell")))
    pairs = (probe.join(cells, "cell")
             .where(F.col("vec_id") != F.col("query_id"))
             .select("query_id", F.col("vec_id").alias("neighbor_id")))
    return _exact_top5(e, pairs)


@register(
    "q_ann_lsh_multiprobe",
    oracle="""
    WITH """ + _PORTABLE_CTES + """,
    qrs AS (SELECT DISTINCT vec_id AS query_id FROM codes
            WHERE vec_id < 10),
    probes AS (
        SELECT q.vec_id AS query_id, q.band, cb.c AS code
        FROM codes q, (SELECT unnest(range(0, 16)) AS c) cb
        WHERE q.vec_id < 10 AND bit_count(xor(q.code, cb.c)) <= 1),
    cand_multi AS (
        SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
        FROM probes p JOIN codes c
          ON c.band = p.band AND c.code = p.code
        WHERE c.vec_id <> p.query_id),
    cand_single AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM codes q JOIN codes c ON q.band = c.band AND q.code = c.code
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
    truth AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                   b.embedding::DOUBLE[])
                            DESC, b.vec_id ASC) AS rnk
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < 10),
    top5 AS (SELECT query_id, neighbor_id FROM truth WHERE rnk <= 5),
    s AS (SELECT query_id, COUNT(*) AS n_cand_single
          FROM cand_single GROUP BY query_id),
    m AS (SELECT query_id, COUNT(*) AS n_cand_multi
          FROM cand_multi GROUP BY query_id),
    hs AS (SELECT t.query_id, COUNT(cs.neighbor_id) AS hits_single
           FROM top5 t LEFT JOIN cand_single cs
             ON cs.query_id = t.query_id
            AND cs.neighbor_id = t.neighbor_id
           GROUP BY t.query_id),
    hm AS (SELECT t.query_id, COUNT(cm.neighbor_id) AS hits_multi
           FROM top5 t LEFT JOIN cand_multi cm
             ON cm.query_id = t.query_id
            AND cm.neighbor_id = t.neighbor_id
           GROUP BY t.query_id)
    SELECT q.query_id,
           COALESCE(s.n_cand_single, 0)::BIGINT AS n_cand_single,
           COALESCE(m.n_cand_multi, 0)::BIGINT AS n_cand_multi,
           COALESCE(hs.hits_single, 0)::BIGINT AS hits_single,
           COALESCE(hm.hits_multi, 0)::BIGINT AS hits_multi,
           COALESCE(hm.hits_multi, 0) >= COALESCE(hs.hits_single, 0)
               AS multiprobe_dominates
    FROM qrs q
    LEFT JOIN s USING (query_id) LEFT JOIN m USING (query_id)
    LEFT JOIN hs USING (query_id) LEFT JOIN hm USING (query_id)
    ORDER BY query_id
    """,
    doc="Multi-probe LSH audit, fully value-checked (Lv et al. '07) — "
        "the memory lever a 100 TB ANN deployment pulls: instead of "
        "adding hash TABLES (each one replicates the index), each query "
        "also probes the buckets whose band code sits at hamming "
        "distance 1 (4 extra probes per 4-bit band — flip one "
        "hyperplane's sign), trading a few cheap bucket lookups for "
        "table count. Built on the same LCG-hyperplane portable codes "
        "as q_ann_lsh_portable, so probes and candidate sets are exact "
        "integer arithmetic both engines reproduce bit-for-bit. Per "
        "query it reports candidate volume and brute-force-top-5 hit "
        "counts for single-probe vs multi-probe — hits_multi >= "
        "hits_single BY CONSTRUCTION (probe sets nest), and the gate "
        "value-checks the measured recall gain, all as integers (the "
        "float truth ranking reuses the index-order discipline "
        "q_ann_cosine_topk proves). Plan shape: probes explode a "
        "16-row broadcast code table against the tiny query-code set; "
        "candidate generation joins 8-byte (band, code) keys, never "
        "vectors; the truth arm is the broadcast-query exact lane.",
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.vectors import cosine
    from pyspark.sql.window import Window

    e = Catalog(spark, sf_dir).table("embeddings")
    codes = _portable_band_codes(
        spark, _portable_bits(spark, e)).localCheckpoint(eager=False)
    qc = (codes.where(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"), "band",
                  F.col("code").alias("qcode")))
    all16 = spark.range(16).select(F.col("id").cast("int").alias("code"))
    probes = (qc.crossJoin(F.broadcast(all16))
              .where(F.bit_count(F.expr("int(qcode) ^ int(code)")) <= 1)
              .select("query_id", "band", "code"))
    cc = codes.select(F.col("vec_id").alias("neighbor_id"), "band", "code")
    cand_multi = (probes.join(cc, ["band", "code"])
                  .where(F.col("query_id") != F.col("neighbor_id"))
                  .select("query_id", "neighbor_id").distinct()
                  .localCheckpoint(eager=False))
    cand_single = (qc.withColumnRenamed("qcode", "code")
                   .join(cc, ["band", "code"])
                   .where(F.col("query_id") != F.col("neighbor_id"))
                   .select("query_id", "neighbor_id").distinct()
                   .localCheckpoint(eager=False))
    qv = (e.where(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("_qv")))
    cv = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("_cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cs"), F.asc("neighbor_id"))
    top5 = (cv.crossJoin(F.broadcast(qv))
            .where(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cs", cosine(F.col("_qv"), F.col("_cv")))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 5)
            .select("query_id", "neighbor_id")
            .localCheckpoint(eager=False))

    def counts(df, name):
        return df.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias(name))

    def hits(cand, name):
        return (top5.join(cand, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).cast("long").alias(name)))

    qrs = qc.select("query_id").distinct()
    out = (qrs
           .join(counts(cand_single, "n_cand_single"), "query_id", "left")
           .join(counts(cand_multi, "n_cand_multi"), "query_id", "left")
           .join(hits(cand_single, "hits_single"), "query_id", "left")
           .join(hits(cand_multi, "hits_multi"), "query_id", "left"))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    return (out.select(
        "query_id",
        z("n_cand_single").alias("n_cand_single"),
        z("n_cand_multi").alias("n_cand_multi"),
        z("hits_single").alias("hits_single"),
        z("hits_multi").alias("hits_multi"),
        (z("hits_multi") >= z("hits_single")).alias("multiprobe_dominates"))
        .orderBy("query_id"))


@register(
    "q_ann_ivf_occupancy_audit",
    oracle="""
    WITH """ + _PORTABLE_CTES + """,
    cells AS (SELECT vec_id, code AS cell FROM codes WHERE band = 0),
    occ AS (SELECT cell, COUNT(*) AS sz FROM cells GROUP BY cell),
    ranked AS (SELECT cell, sz,
                      ROW_NUMBER() OVER (ORDER BY sz DESC, cell ASC) AS r
               FROM occ)
    SELECT COUNT(*)::BIGINT AS n_cells_occupied,
           CAST(SUM(sz) AS BIGINT) AS n_vectors,
           CAST(MAX(sz) AS BIGINT) AS max_cell,
           CAST(MIN(sz) AS BIGINT) AS min_cell,
           ROUND(MAX(sz)::DOUBLE * 16.0 / SUM(sz)::DOUBLE, 4)
               AS imbalance,
           CAST(SUM(CASE WHEN r <= 4 THEN sz ELSE 0 END) AS BIGINT)
               AS worst_probe_rows,
           ROUND(SUM(CASE WHEN r <= 4 THEN sz ELSE 0 END)::DOUBLE
                 / SUM(sz)::DOUBLE, 4) AS worst_probe_frac
    FROM ranked
    """,
    doc="IVF index-build BALANCE audit — the ANN member of the "
        "engine's valve-receipt family (q_dedup_dfcap_planner, "
        "q_multimodal_dhash_valve_audit): the cell-occupancy profile "
        "of the 16-cell portable coarse quantizer (band-0 LCG sign "
        "code, the q_ann_ivf_portable assignment — pure integer "
        "arithmetic, so every count is bit-identical across engines), "
        "the imbalance factor max_cell/(N/16), and the worst-case "
        "4-probe scan mass (sum of the 4 largest cells) against the "
        "uniform ideal of 4/16. This is the number a 100 TB index "
        "build must check BEFORE shipping: partition-pruned probes "
        "only deliver their n_probe/n_cells scan bound when occupancy "
        "is balanced, and a skewed quantizer shows up here as "
        "worst_probe_frac >> 0.25 from the frequency table alone — "
        "never by materializing probe results. The top-4 mass is a "
        "TakeOrdered over at most 16 cell rows + broadcast scalar "
        "join, not a global window.",
)
def q_ann_ivf_occupancy_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    cells = (_portable_band_codes(spark, _portable_bits(spark, e))
             .where(F.col("band") == 0)
             .select("vec_id", F.col("code").alias("cell")))
    occ = (cells.groupBy("cell").agg(F.count(F.lit(1)).alias("sz"))
           .localCheckpoint(eager=False))  # <=16 rows, feeds both aggs
    totals = occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_occupied"),
        F.sum("sz").cast("long").alias("n_vectors"),
        F.max("sz").cast("long").alias("max_cell"),
        F.min("sz").cast("long").alias("min_cell"))
    top4 = (occ.orderBy(F.desc("sz"), F.asc("cell")).limit(4)
            .agg(F.sum("sz").cast("long").alias("worst_probe_rows")))
    return (totals.crossJoin(F.broadcast(top4))
            .select("n_cells_occupied", "n_vectors", "max_cell",
                    "min_cell",
                    F.round(F.col("max_cell").cast("double") * 16.0
                            / F.col("n_vectors").cast("double"), 4)
                    .alias("imbalance"),
                    "worst_probe_rows",
                    F.round(F.col("worst_probe_rows").cast("double")
                            / F.col("n_vectors").cast("double"), 4)
                    .alias("worst_probe_frac")))


@register(
    "q_ann_recall_vs_probes",
    oracle="""
    WITH """ + _PORTABLE_CTES + """,
    cells AS (SELECT vec_id, code AS cell FROM codes WHERE band = 0),
    cellbits AS (
        SELECT c, j, (c >> CAST(j AS INT)) & 1 AS cbit
        FROM (SELECT unnest(range(0, 16)) AS c),
             (SELECT unnest(range(0, 4)) AS j)),
    prank AS (
        SELECT query_id, c AS cell, rnk FROM (
            SELECT b.vec_id AS query_id, cb.c,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY SUM(CASE WHEN b.bit <> cb.cbit
                                         THEN 1 ELSE 0 END) ASC, cb.c ASC
                   ) AS rnk
            FROM bits b JOIN cellbits cb ON cb.j = b.j
            WHERE b.vec_id < 10 AND b.j < 4
            GROUP BY b.vec_id, cb.c) t),
    budgets AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
    cand AS (
        SELECT DISTINCT bu.n_probe, p.query_id, cl.vec_id AS neighbor_id
        FROM prank p
        JOIN budgets bu ON p.rnk <= bu.n_probe
        JOIN cells cl ON cl.cell = p.cell
        WHERE cl.vec_id <> p.query_id),
    scored AS (
        SELECT c.n_probe, c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY c.n_probe, c.query_id
                   ORDER BY ROUND(list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                       DESC, c.neighbor_id) AS rk
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id),
    exact AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ROUND(list_cosine_similarity(
                       q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
                       DESC, c.vec_id) AS rk
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
    hits AS (
        SELECT s.n_probe, COUNT(*) AS n_hits
        FROM scored s JOIN exact e
          ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
         AND e.rk <= 5
        WHERE s.rk <= 5
        GROUP BY s.n_probe),
    cn AS (SELECT n_probe, COUNT(*) AS n_candidates
           FROM cand GROUP BY n_probe)
    SELECT CAST(cn.n_probe AS BIGINT) AS n_probe,
           CAST(cn.n_candidates AS BIGINT) AS n_candidates,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS hits,
           ROUND(COALESCE(h.n_hits, 0)::DOUBLE / 50.0, 4) AS recall
    FROM cn LEFT JOIN hits h ON h.n_probe = cn.n_probe
    ORDER BY n_probe
    """,
    doc="IVF probe-budget RECALL SWEEP — the tuning curve behind "
        "q_ann_ivf_topk's fixed n_probe=4 and the companion to "
        "q_ann_ivf_occupancy_audit's cost side: recall@5 and "
        "candidate mass at n_probe in {1,2,4,8} over the portable "
        "16-cell quantizer (LCG sign bits — assignment, probe "
        "ranking, and candidate sets are pure integer arithmetic "
        "both engines reproduce bit-for-bit; only the final cosine "
        "rescoring touches doubles, rounded at 6 dp before ranking "
        "with an id tie-break). This is THE operating decision an "
        "index owner makes — probes bought vs recall gained — and "
        "the nested budgets share one cell-ranking pass: candidates "
        "carry their cell rank, each budget is a filter on that "
        "rank, so the sweep costs one probe-union scan, not four. "
        "Recall is hits/50 (10 probes x top-5), a ratio of integers.",
)
def q_ann_recall_vs_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.vectors import cosine

    e = Catalog(spark, sf_dir).table("embeddings")
    bits = _portable_bits(spark, e).localCheckpoint(eager=False)
    cells = (_portable_band_codes(spark, bits)
             .where(F.col("band") == 0)
             .select(F.col("vec_id").alias("neighbor_id"),
                     F.col("code").alias("cell")))
    cellbits = local_df(spark, 
        [(c, j, (c >> j) & 1) for c in range(16) for j in range(4)],
        "c long, j long, cbit long")
    prank = (bits.where((F.col("vec_id") < 10) & (F.col("j") < 4))
             .join(F.broadcast(cellbits), "j")
             .groupBy(F.col("vec_id").alias("query_id"), "c")
             .agg(F.sum((F.col("bit") != F.col("cbit")).cast("int"))
                  .alias("d"))
             .withColumn("rnk", F.row_number().over(
                 Window.partitionBy("query_id").orderBy("d", "c")))
             .select("query_id", F.col("c").alias("cell"), "rnk"))
    budgets = local_df(spark, [(1,), (2,), (4,), (8,)],
                                    "n_probe long")
    cand = (prank.join(F.broadcast(budgets),
                       F.col("rnk") <= F.col("n_probe"))
            .join(cells, "cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("n_probe", "query_id", "neighbor_id").distinct()
            .localCheckpoint(eager=False))
    qv = (e.where(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("_qv")))
    cv = e.select(F.col("vec_id").alias("neighbor_id"),
                  F.col("embedding").alias("_cv"))
    scored = (cand.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
              .withColumn("cs", F.round(cosine(F.col("_qv"),
                                               F.col("_cv")), 6))
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("n_probe", "query_id")
                  .orderBy(F.desc("cs"), "neighbor_id"))))
    exact = (qv.crossJoin(cv)
             .where(F.col("neighbor_id") != F.col("query_id"))
             .withColumn("cs", F.round(cosine(F.col("_qv"),
                                              F.col("_cv")), 6))
             .withColumn("rk", F.row_number().over(
                 Window.partitionBy("query_id")
                 .orderBy(F.desc("cs"), "neighbor_id")))
             .where(F.col("rk") <= 5)
             .select("query_id", "neighbor_id"))
    hits = (scored.where(F.col("rk") <= 5)
            .join(exact, ["query_id", "neighbor_id"])
            .groupBy("n_probe").agg(F.count(F.lit(1)).alias("n_hits")))
    cn = cand.groupBy("n_probe").agg(F.count(F.lit(1))
                                     .alias("n_candidates"))
    return (cn.join(hits, "n_probe", "left")
            .select(F.col("n_probe").cast("long").alias("n_probe"),
                    F.col("n_candidates").cast("long")
                    .alias("n_candidates"),
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
                    .alias("hits"),
                    F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                            .cast("double") / 50.0, 4).alias("recall"))
            .orderBy("n_probe"))
