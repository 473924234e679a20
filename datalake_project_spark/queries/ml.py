"""Distributed ML primitives over the embedding/document tables:
Lloyd's k-means (+ cluster purity), covariance/Gram estimation, PCA by
power iteration, product-quantization codebooks + ADC search (+ value-
checked recall), logistic regression by gradient descent, linear-model
corpus scoring (+ calibration bins), cross-split embedding-leakage
audit, and the embedding-norm health check.

These are the training-data-pipeline steps BETWEEN the dedup/similarity
operators and a model: k-means is the real training path of the IVF
coarse quantizer (``operators/similarity.py`` seeds its quantizer from
a hash-sample; this query runs the actual Lloyd iterations), the
covariance matrix is the input to PCA whitening / dimensionality
reduction, and the linear scorer is the FineWeb-Edu-shaped pattern of
applying a trained quality classifier to every document (model weights
broadcast as a vocabulary table, corpus pass is one explode + join +
aggregate). Every iterative trainer (k-means, PCA power, logistic GD,
PQ) composes its fixed iteration count into ONE lazy DAG with per-step
rounding, so the DuckDB oracle can unroll the identical trajectory.

Scale notes baked into the shapes:
- k-means: centroids are k rows — broadcast to every task; each
  iteration is ONE pass over the data (crossJoin with k broadcast rows,
  min-struct argmin, posexplode + per-(cluster,dim) partial averages).
  The iteration count is fixed, so like PageRank the whole computation
  is one lazy DAG with no driver-side actions; centroids are rounded
  at 6 dp after each update so the oracle's unrolled CTEs follow the
  identical trajectory.
- covariance: per-partition numpy Gram partials via ``mapInPandas``
  (the Misra-Gries pattern for linear algebra) — each Arrow batch
  contributes d*(d+1)/2 moment rows, the reduce is a tiny groupBy; the
  corpus is never exploded to (row, i, j) triples.
- classifier: weights live in a vocab-sized table (broadcast), the
  corpus-side cost is the same exploded-token shape the TF-IDF and
  vocab queries already pay.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import local_df, register

K_CLUSTERS = 4
N_ITER = 2  # centroid updates; assignments reported under the final set
CENT_DP = 6  # round centroids after each update => cross-engine determinism

_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


# --------------------------------------------------------------------------
# k-means
# --------------------------------------------------------------------------

def _kmeans_cte(k: int, n_iter: int) -> str:
    """Unrolled Lloyd iterations as a WITH-prefix ending at ``final``
    (the assignment under the last centroid set) — shared by the
    k-means query and its downstream consumers (cluster purity). Same
    trajectory as the Spark plan: squared-Euclidean argmin with
    cluster-id tie-break, per-dim means rounded at CENT_DP, empty
    clusters keep their previous centroid."""
    parts = [f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id::INT AS cluster, v AS cvec
           FROM e WHERE vec_id < {k})"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    a{i} AS (
        SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e CROSS JOIN c{i-1} c) WHERE rn = 1),
    u{i} AS (
        SELECT cluster, list(av ORDER BY dim) AS cvec FROM (
            SELECT cluster, u.i AS dim, ROUND(AVG(v[u.i + 1]), {CENT_DP}) AS av
            FROM a{i}, unnest(range(0, len(v))) AS u(i)
            GROUP BY cluster, u.i)
        GROUP BY cluster),
    c{i} AS (
        SELECT c.cluster, COALESCE(u.cvec, c.cvec) AS cvec
        FROM c{i-1} c LEFT JOIN u{i} u USING (cluster))""")
    parts.append(f""",
    final AS (
        SELECT vec_id, cluster, dist FROM (
            SELECT e.vec_id, c.cluster, list_distance(e.v, c.cvec) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e CROSS JOIN c{n_iter} c) WHERE rn = 1)""")
    return "".join(parts)


def _kmeans_oracle(k: int, n_iter: int) -> str:
    return _kmeans_cte(k, n_iter) + """
    SELECT cluster, COUNT(*) AS n_vecs,
           ROUND(AVG(dist), 4) + 0.0 AS avg_dist
    FROM final GROUP BY cluster"""


def _dist(v_col: str, c_col: str):
    """Euclidean distance between two double-array columns (codegen)."""
    return F.sqrt(F.aggregate(
        F.zip_with(v_col, c_col, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x))


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cluster, dist): nearest centroid per vector — one
    data pass against k broadcast rows, argmin via min-of-struct (no
    window)."""
    d = (e.crossJoin(F.broadcast(cents))
         .select("vec_id", "v", "cluster", _dist("v", "cvec").alias("dist")))
    best = (d.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cluster")).alias("_m"),
                 F.any_value("v").alias("v"))
            .select("vec_id", "v", F.col("_m.cluster").alias("cluster"),
                    F.col("_m.dist").alias("dist")))
    return best


def _lloyd(e: DataFrame, k: int, n_iter: int) -> DataFrame:
    """(cluster, cvec): the centroids after ``n_iter`` Lloyd updates over
    ``e`` (vec_id, v), seeded with vectors 0..k-1; an empty cluster keeps
    its previous centroid."""
    cents = (e.where(F.col("vec_id") < k)
             .select(F.col("vec_id").cast("int").alias("cluster"),
                     F.col("v").alias("cvec")))
    for _ in range(n_iter):
        upd = (_assign(e, cents)
               .select("cluster", F.posexplode("v").alias("dim", "x"))
               .groupBy("cluster", "dim")
               .agg(F.round(F.avg("x"), CENT_DP).alias("av"))
               .groupBy("cluster")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("dim", "av"))),
                   lambda s: s.av).alias("ucvec")))
        cents = (cents.join(upd, "cluster", "left")
                 .select("cluster",
                         F.coalesce("ucvec", "cvec").alias("cvec")))
    return cents


@register(
    "q_embed_kmeans",
    oracle=_kmeans_oracle(K_CLUSTERS, N_ITER),
    doc=f"Lloyd's k-means over the embedding table (k={K_CLUSTERS}, "
        f"{N_ITER} fixed centroid updates, deterministic init = vectors "
        "0..k-1): the actual training loop of the IVF coarse quantizer "
        "and of SemDeDup-style cluster-then-dedup pipelines. Per "
        "iteration: ONE pass over the data against k broadcast "
        "centroids (min-struct argmin — no window), then a "
        "(cluster, dim)-keyed partial-average shuffle that is k*d "
        "rows at the reduce. Fixed iteration count => one lazy DAG, "
        "no driver actions; centroids rounded at 6 dp per update so "
        "the oracle's unrolled CTEs follow the identical trajectory; "
        "empty clusters keep their previous centroid on both engines.",
)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _kmeans_final(spark, sf_dir)
    return (final.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 (F.round(F.avg("dist"), 4) + F.lit(0.0)).alias("avg_dist")))


def _kmeans_cents(spark: SparkSession,
                  sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(vectors e, final centroid set) after the Lloyd trajectory —
    shared by the k-means query, the purity eval, and the silhouette."""
    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", F.transform(
             "embedding", lambda x: x.cast("double")).alias("v")))
    return e, _lloyd(e, K_CLUSTERS, N_ITER)


def _kmeans_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cluster, dist) under the last centroid set — the
    lazily composed Lloyd trajectory shared by q_embed_kmeans and the
    cluster-purity eval."""
    e, cents = _kmeans_cents(spark, sf_dir)
    return _assign(e, cents)


@register(
    "q_embed_cluster_purity",
    oracle=_kmeans_cte(K_CLUSTERS, N_ITER) + """,
    lab AS (SELECT f.cluster, e2.label
            FROM final f JOIN embeddings e2 USING (vec_id)),
    cnt AS (SELECT cluster, label, COUNT(*) AS c
            FROM lab GROUP BY cluster, label)
    SELECT cluster, CAST(SUM(c) AS BIGINT) AS n_vecs,
           ROUND(MAX(c)::DOUBLE / SUM(c), 4) + 0.0 AS purity
    FROM cnt GROUP BY cluster""",
    doc="Cluster purity of the k-means partition against the label "
        "column (majority-label fraction per cluster) — the standard "
        "unsupervised-clustering eval, and the quality gate a "
        "cluster-then-dedup (SemDeDup) pipeline checks before trusting "
        "its clusters. Reuses the identical lazy Lloyd trajectory as "
        "q_embed_kmeans (shared CTE prefix in the oracle, shared "
        "DataFrame builder in the plan); the eval itself is one join "
        "to the label column plus two tiny grouped aggregates.",
)
def q_embed_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = _kmeans_final(spark, sf_dir)
    lab = final.join(
        Catalog(spark, sf_dir).table("embeddings").select("vec_id", "label"),
        "vec_id")
    cnt = lab.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("c"))
    return (cnt.groupBy("cluster")
            .agg(F.sum("c").cast("long").alias("n_vecs"),
                 (F.round(F.max("c").cast("double") / F.sum("c"), 4)
                  + F.lit(0.0)).alias("purity")))


# --------------------------------------------------------------------------
# covariance via mapInPandas Gram partials
# --------------------------------------------------------------------------

_MOMENT_SCHEMA = ("i int, j int, n long, sxy double, si double, sj double")


def _gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch second-moment partials: for each dim pair i<=j,
    (n, sum x_i x_j, sum x_i, sum x_j) computed as one numpy matmul.
    Emits d*(d+1)/2 rows per batch regardless of batch row count."""
    import numpy as np

    for pdf in batches:
        if pdf.empty:
            continue
        X = np.stack(pdf["v"].to_numpy()).astype("float64")
        n, d = X.shape
        G = X.T @ X
        s = X.sum(axis=0)
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame({
            "i": iu.astype("int32"), "j": ju.astype("int32"),
            "n": np.full(len(iu), n, dtype="int64"),
            "sxy": G[iu, ju], "si": s[iu], "sj": s[ju],
        })


def _gram_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, n, sxy, si, sj): the embedding Gram partials reduced per
    dim pair i <= j."""
    e = (Catalog(spark, sf_dir).table("embeddings")
         .select(F.col("embedding").alias("v")))
    partials = e.mapInPandas(_gram_partials, schema=_MOMENT_SCHEMA)
    return (partials.groupBy("i", "j")
            .agg(F.sum("n").alias("n"), F.sum("sxy").alias("sxy"),
                 F.sum("si").alias("si"), F.sum("sj").alias("sj")))


def _covariance():
    """Population covariance of dims i, j over _gram_moments' columns."""
    return (F.col("sxy") / F.col("n")
            - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")))


@register(
    "q_embed_covariance",
    oracle="""
    WITH dims AS (
        SELECT vec_id, u.i AS dim, embedding[u.i + 1]::DOUBLE AS x
        FROM embeddings, unnest(range(0, len(embedding))) AS u(i))
    SELECT a.dim AS i, b.dim AS j,
           ROUND(AVG(a.x * b.x) - AVG(a.x) * AVG(b.x), 4) + 0.0 AS cov
    FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
    """,
    doc="Population covariance matrix of the embedding columns (upper "
        "triangle, d*(d+1)/2 rows) — the input to PCA whitening and "
        "dimensionality reduction. Spark plan: per-partition numpy "
        "Gram partials over Arrow batches via mapInPandas (X'X, sum, "
        "n — ONE matmul per batch, 2080 partial rows emitted per batch "
        "for d=64), then a tiny (i,j)-keyed groupBy reduce: the "
        "sketch-partial pattern applied to linear algebra. The corpus "
        "is never exploded row-wise; the oracle pays the naive "
        "(row, i, j) self-join instead and must agree at 4 dp.",
)
def q_embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gram_moments(spark, sf_dir).select(
        "i", "j", (F.round(_covariance(), 4) + F.lit(0.0)).alias("cov"))


# --------------------------------------------------------------------------
# linear quality-classifier scoring
# --------------------------------------------------------------------------

@register(
    "q_text_quality_classifier",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    vocab AS (SELECT DISTINCT t,
                     ((len(t) % 7) - 3) * 0.05::DOUBLE AS w
              FROM ex),
    lg AS (SELECT ex.doc_id, AVG(vocab.w) AS logit
           FROM ex JOIN vocab USING (t) GROUP BY ex.doc_id)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-logit)), 4) + 0.0 AS prob,
           logit >= 0 AS keep
    FROM lg
    """,
    doc="Linear quality-classifier scoring (the FineWeb-Edu / fastText "
        "filter pattern): model = a (token -> weight) vocabulary table "
        "— here a deterministic stand-in weight, in production the "
        "trained coefficients — broadcast-joined to the exploded "
        "corpus; per-doc logit = mean token weight, prob = sigmoid, "
        "keep = logit >= 0. The corpus pass is the same exploded-token "
        "shape TF-IDF pays; the model side is vocab-sized and "
        "broadcast, so scoring 100 TB is one map-side join + "
        "aggregation with no Python in the loop.",
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _classifier_scores(spark, sf_dir)


def _token_weights(d: DataFrame) -> DataFrame:
    """(t, doc_id, w): every token of ``d``'s non-empty documents beside
    its stand-in classifier weight, the vocabulary table broadcast."""
    from datalake_project_spark.functions import text as T

    ex = (d.select("doc_id", T.tokens("text").alias("toks"))
          .where(F.size("toks") > 0)
          .select("doc_id", F.explode("toks").alias("t")))
    vocab = (ex.select("t").distinct()
             .select("t", (((F.length("t") % 7) - 3)
                           * F.lit(0.05)).cast("double").alias("w")))
    return ex.join(F.broadcast(vocab), "t")


def _classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prob, keep) — shared by the classifier query and the
    calibration eval."""
    d = Catalog(spark, sf_dir).table("documents")
    lg = (_token_weights(d)
          .groupBy("doc_id").agg(F.avg("w").alias("logit")))
    return lg.select(
        "doc_id",
        (F.round(1.0 / (1.0 + F.exp(-F.col("logit"))), 4)
         + F.lit(0.0)).alias("prob"),
        (F.col("logit") >= 0).alias("keep"))


_CLS_CTE = f"""
    tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    vocab AS (SELECT DISTINCT t,
                     ((len(t) % 7) - 3) * 0.05::DOUBLE AS w
              FROM ex),
    cls AS (SELECT ex.doc_id,
                   ROUND(1.0 / (1.0 + exp(-AVG(vocab.w))), 4) AS prob
            FROM ex JOIN vocab USING (t) GROUP BY ex.doc_id)"""


def _scored_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prob, keep, quality): the classifier's score beside the
    heuristic quality score (q_text_quality's formula at 4 dp)."""
    from datalake_project_spark.functions import text as T

    cls = _classifier_scores(spark, sf_dir)
    d = Catalog(spark, sf_dir).table("documents")
    qual = d.select(
        "doc_id",
        F.round(T.quality_score(F.col("text"), T.tokens("text")), 4)
        .alias("quality"))
    return cls.join(qual, "doc_id")


@register(
    "q_classifier_calibration",
    oracle=f"""
    WITH {_CLS_CTE},
    qual AS (
        SELECT doc_id,
               ROUND(GREATEST(0.0, LEAST(1.0,
                   0.5 * LEAST(1.0, ln(1.0 + len(toks)::DOUBLE) / ln(101.0))
                   + 0.3 * LEAST(1.0, (CASE WHEN len(toks) > 0 THEN
                       len(list_filter(toks, t -> t IN
                           ('the','a','and','of','to','in','is','it')))::DOUBLE
                       / len(toks)::DOUBLE ELSE 0.0 END) * 5.0)
                   - 0.3 * LEAST(1.0, (CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE ELSE 0.0 END) * 4.0)
                   - (CASE WHEN (CASE WHEN len(toks) > 0 THEN
                        list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                        / len(toks)::DOUBLE ELSE 0.0 END) < 2.0
                      OR (CASE WHEN len(toks) > 0 THEN
                        list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                        / len(toks)::DOUBLE ELSE 0.0 END) > 12.0
                      THEN 0.5 ELSE 0.0 END) * 0.2)), 4) AS quality
        FROM tok)
    SELECT LEAST(99, CAST(FLOOR(c.prob * 100) AS INT)) AS bin,
           COUNT(*) AS n_docs,
           ROUND(AVG(c.prob), 4) + 0.0 AS avg_prob,
           ROUND(AVG(q.quality), 4) + 0.0 AS avg_quality
    FROM cls c JOIN qual q USING (doc_id)
    GROUP BY 1
    """,
    doc="Classifier-calibration bins: classifier probabilities bucketed "
        "into centiles, each bin reporting document count, mean "
        "probability, and mean INDEPENDENT heuristic quality score "
        "(q_text_quality's formula) — the reliability-diagram table "
        "that decides whether a learned filter's scores can be "
        "thresholded directly or need recalibration, computed against "
        "the heuristic as reference signal. Two corpus passes fused "
        "into one DAG (classifier join + quality scan), centiles on the "
        "identically-rounded probs so the oracle bins identically.",
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    binned = _scored_quality(spark, sf_dir).select(
        F.least(F.lit(99), F.floor(F.col("prob") * 100).cast("int"))
        .alias("bin"), "prob", "quality")
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.round(F.avg("prob"), 4) + F.lit(0.0)).alias("avg_prob"),
                 (F.round(F.avg("quality"), 4) + F.lit(0.0))
                 .alias("avg_quality")))


# --------------------------------------------------------------------------
# top principal component via power iteration
# --------------------------------------------------------------------------

N_POWER = 3   # fixed matvec iterations — one lazy DAG, like PageRank
COV_DP = 6    # covariance + normalized-vector rounding per step


def _pca_oracle(n_iter: int) -> str:
    parts = [f"""
    WITH dims AS (
        SELECT vec_id, u.i AS dim, embedding[u.i + 1]::DOUBLE AS x
        FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
    cov AS (
        SELECT a.dim AS i, b.dim AS j,
               ROUND(AVG(a.x * b.x) - AVG(a.x) * AVG(b.x), {COV_DP}) AS c
        FROM dims a JOIN dims b ON a.vec_id = b.vec_id
        GROUP BY a.dim, b.dim),
    v0 AS (SELECT 0 AS dim, 1.0 AS val)"""]
    for t in range(1, n_iter + 1):
        parts.append(f""",
    w{t} AS (SELECT cov.i AS dim, SUM(cov.c * v.val) AS w
             FROM cov JOIN v{t-1} v ON cov.j = v.dim GROUP BY cov.i),
    n{t} AS (SELECT SQRT(SUM(w * w)) AS n FROM w{t}),
    v{t} AS (SELECT dim, ROUND(w / n{t}.n, {COV_DP}) AS val
             FROM w{t} CROSS JOIN n{t})""")
    parts.append(f"""
    SELECT CAST(dim AS INT) AS dim, ROUND(val, 4) + 0.0 AS component
    FROM v{n_iter}""")
    return "".join(parts)


def _pca_power(spark: SparkSession,
               sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(full covariance (i, j, c), top-eigenvector estimate (dim, val))
    after N_POWER normalized matvecs from e_0, both rounded at COV_DP."""
    upper = _gram_moments(spark, sf_dir).select(
        "i", "j", F.round(_covariance(), COV_DP).alias("c"))
    full = upper.union(
        upper.where(F.col("i") < F.col("j"))
        .select(F.col("j").alias("i"), F.col("i").alias("j"), F.col("c")))
    v = local_df(spark, [(0, 1.0)], "dim int, val double")
    for _ in range(N_POWER):
        w = (full.join(F.broadcast(v), full.j == v.dim)
             .groupBy(F.col("i").alias("dim"))
             .agg(F.sum(F.col("c") * F.col("val")).alias("w")))
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n"))
        v = (w.crossJoin(F.broadcast(nrm))
             .select("dim", F.round(F.col("w") / F.col("n"), COV_DP)
                     .alias("val")))
    return full, v


@register(
    "q_embed_pca_power",
    oracle=_pca_oracle(N_POWER),
    doc=f"Top principal component of the embedding covariance by "
        f"{N_POWER} power iterations — PCA without ever collecting the "
        "matrix to the driver: the covariance comes from the same "
        "mapInPandas Gram partials as q_embed_covariance (mirrored to "
        "the full matrix in-plan), each matvec is a broadcast join of "
        "the 64-row vector against the (i,j,c) matrix rows plus a "
        "per-dim aggregate, and the norm is a broadcast 1-row "
        "aggregate. Fixed iteration count and per-step rounding at "
        f"{COV_DP} dp make the trajectory engine-exact; deterministic "
        "init v0 = e_0 pins the eigenvector sign. At 100 TB the data "
        "pass happens ONCE (the Gram partials); the iterations run on "
        "d^2-sized state only.",
)
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, v = _pca_power(spark, sf_dir)
    return v.select(F.col("dim").cast("int").alias("dim"),
                    (F.round("val", 4) + F.lit(0.0)).alias("component"))


# --------------------------------------------------------------------------
# cross-split embedding leakage
# --------------------------------------------------------------------------

LEAK_TAU = 0.4  # same threshold regime as q_dedup_semantic_resolved


@register(
    "q_split_embedding_leakage",
    oracle=f"""
    WITH sp AS (
        SELECT vec_id, embedding,
               CASE WHEN substr(md5(vec_id::VARCHAR || ':split:42'), 1, 2)
                         < 'cc' THEN 'train' ELSE 'eval' END AS split
        FROM embeddings),
    pairs AS (
        SELECT a.split AS a_split, b.split AS b_split
        FROM sp a JOIN sp b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding)
              >= {LEAK_TAU})
    SELECT COUNT(*) AS n_near_pairs,
           COUNT(CASE WHEN a_split <> b_split THEN 1 END) AS n_leaks,
           ROUND(COUNT(CASE WHEN a_split <> b_split THEN 1 END)::DOUBLE
                 / GREATEST(COUNT(*), 1), 4) + 0.0 AS leak_rate
    FROM pairs
    """,
    doc="Train/eval contamination in EMBEDDING space: near-duplicate "
        "pairs (exact block-matrix cosine >= 0.4, the same operator and "
        "threshold regime as q_dedup_semantic_resolved — every fixture "
        "pair sits >1e-4 from the threshold) that CROSS the "
        "deterministic hash split (same salt as the document split; "
        "vec_id aligns with doc_id). This is the leakage check "
        "n-gram contamination misses — paraphrases land in eval while "
        "their near-twins train. Output is the audit summary: near-dup "
        "pair count, cross-split count, leak rate.",
)
def q_split_embedding_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.similarity import (
        block_pairwise_cosine,
    )
    from datalake_project_spark.queries.corpus import split_assign

    e = Catalog(spark, sf_dir).table("embeddings")
    # two-way split: train vs everything else (val+test folded to 'eval')
    sp = (split_assign(e.select("vec_id"), "vec_id")
          .select("vec_id",
                  F.when(F.col("split") == "train", "train")
                  .otherwise("eval").alias("split")))
    pairs = block_pairwise_cosine(e, threshold=LEAK_TAU).select("a_id", "b_id")
    tagged = (pairs
              .join(sp.select(F.col("vec_id").alias("a_id"),
                              F.col("split").alias("a_split")), "a_id")
              .join(sp.select(F.col("vec_id").alias("b_id"),
                              F.col("split").alias("b_split")), "b_id"))
    leak = F.when(F.col("a_split") != F.col("b_split"), 1)
    return tagged.agg(
        F.count(F.lit(1)).alias("n_near_pairs"),
        F.count(leak).alias("n_leaks"),
        (F.round(F.count(leak).cast("double")
                 / F.greatest(F.count(F.lit(1)), F.lit(1)), 4)
         + F.lit(0.0)).alias("leak_rate"))


# --------------------------------------------------------------------------
# embedding-norm outlier audit
# --------------------------------------------------------------------------

@register(
    "q_embed_norm_outliers",
    oracle="""
    WITH nrm AS (
        SELECT vec_id,
               SQRT(list_sum(list_transform(
                   embedding::DOUBLE[], x -> x * x))) AS nr
        FROM embeddings),
    st AS (SELECT AVG(nr) AS m,
                  SQRT(GREATEST(AVG(nr * nr) - AVG(nr) * AVG(nr), 0)) AS s
           FROM nrm)
    SELECT COUNT(*) AS n_vecs,
           ROUND(st.m, 4) + 0.0 AS mean_norm,
           ROUND(st.s, 4) + 0.0 AS std_norm,
           CAST(COUNT(CASE WHEN ABS(nr - st.m) > 3 * st.s THEN 1 END)
                AS BIGINT) AS n_outliers
    FROM nrm CROSS JOIN st
    GROUP BY st.m, st.s
    """,
    doc="Embedding-norm audit: norm distribution moments plus the "
        "3-sigma outlier count — the cheap health check that catches "
        "broken encoder batches (zero vectors, fp16 overflows, "
        "un-normalized mixes) before they poison ANN/dedup results "
        "downstream. One pass for the norms, moments as a broadcast "
        "1-row aggregate, conditional count for the outliers — all "
        "codegen, no Python.",
)
def q_embed_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    nr_expr = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    nrm = e.select(nr_expr.alias("nr"))
    # two-moment variance can go epsilon-negative under float
    # cancellation when norms are near-constant; clamp on both engines
    st = nrm.agg(
        F.avg("nr").alias("m"),
        F.sqrt(F.greatest(F.avg(F.col("nr") * F.col("nr"))
                          - F.avg("nr") * F.avg("nr"), F.lit(0.0))).alias("s"))
    out = F.when(F.abs(F.col("nr") - F.col("m")) > 3 * F.col("s"), 1)
    return (nrm.crossJoin(F.broadcast(st))
            .groupBy("m", "s")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.count(out).cast("long").alias("n_outliers"))
            .select("n_vecs",
                    (F.round("m", 4) + F.lit(0.0)).alias("mean_norm"),
                    (F.round("s", 4) + F.lit(0.0)).alias("std_norm"),
                    "n_outliers"))


# --------------------------------------------------------------------------
# logistic regression by full-batch gradient descent
# --------------------------------------------------------------------------

LR_ITERS = 3
LR_RATE = 1.0
LR_DIMS = 4   # features = embedding dims 0..3; label = (label == 0)
LR_DP = 6     # per-step weight rounding => engine-exact trajectory


def _lr_oracle(n_iter: int) -> str:
    feats = ", ".join(
        f"embedding[{i + 1}]::DOUBLE AS x{i}" for i in range(LR_DIMS))
    dot = lambda t: " + ".join(  # noqa: E731
        [f"{t}.b"] + [f"{t}.w{i} * d.x{i}" for i in range(LR_DIMS)])
    parts = [f"""
    WITH d AS (
        SELECT CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y, {feats}
        FROM embeddings),
    t0 AS (SELECT 0.0 AS b, {", ".join(f"0.0 AS w{i}"
                                       for i in range(LR_DIMS))})"""]
    for t in range(1, n_iter + 1):
        p = f"1.0 / (1.0 + exp(-({dot(f't{t-1}')})))"
        upd = ", ".join(
            [f"ROUND(ANY_VALUE(t{t-1}.b) + {LR_RATE} * AVG(d.y - {p}), {LR_DP}) AS b"]
            + [f"ROUND(ANY_VALUE(t{t-1}.w{i}) + {LR_RATE} "
               f"* AVG((d.y - {p}) * d.x{i}), {LR_DP}) AS w{i}"
               for i in range(LR_DIMS)])
        parts.append(f""",
    t{t} AS (SELECT {upd} FROM d CROSS JOIN t{t-1})""")
    final_p = f"1.0 / (1.0 + exp(-({dot(f't{n_iter}')})))"
    parts.append(f"""
    SELECT {", ".join(f"ROUND(t{n_iter}.w{i}, 4) + 0.0 AS w{i}"
                      for i in range(LR_DIMS))},
           ROUND(t{n_iter}.b, 4) + 0.0 AS bias,
           ROUND(AVG(CASE WHEN ({final_p} >= 0.5) = (d.y = 1.0)
                          THEN 1.0 ELSE 0.0 END), 4) + 0.0 AS train_acc
    FROM d CROSS JOIN t{n_iter}
    GROUP BY {", ".join(f"t{n_iter}.w{i}" for i in range(LR_DIMS))},
             t{n_iter}.b""")
    return "".join(parts)


@register(
    "q_embed_logreg_train",
    oracle=_lr_oracle(LR_ITERS),
    doc=f"Logistic-regression training by {LR_ITERS} full-batch gradient "
        f"descent steps (features = embedding dims 0..{LR_DIMS - 1}, "
        "label = class 0 vs rest, zero init): supervised iterative ML "
        "as ONE lazy DAG — per step, the weight row (broadcast 1-row "
        "frame) cross-joins the data, the gradient is a closed-form "
        "AVG aggregate per coefficient (map-side partials, one "
        "shuffle-free reduce), and the update is arithmetic on two "
        "1-row frames. The same iterate-on-aggregated-state shape as "
        "PageRank/k-means/PCA-power/Markov, now with a supervised "
        "objective; per-step rounding at 6 dp keeps the trajectory "
        "engine-exact and the oracle unrolls the identical steps. "
        "Output: learned coefficients + training accuracy. At 100 TB "
        "each GD step is exactly one data pass — the classic "
        "all-reduce gradient pattern in DataFrame form.",
)
def q_embed_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    d = e.select(
        F.when(F.col("label") == 0, 1.0).otherwise(0.0).alias("y"),
        *[F.col("embedding")[i].cast("double").alias(f"x{i}")
          for i in range(LR_DIMS)])
    w = local_df(spark, 
        [(0.0,) * (LR_DIMS + 1)],
        ", ".join(["b double"] + [f"w{i} double" for i in range(LR_DIMS)]))
    for _ in range(LR_ITERS):
        z = F.col("b") + sum(
            (F.col(f"w{i}") * F.col(f"x{i}") for i in range(LR_DIMS)),
            start=F.lit(0.0))
        resid = F.col("y") - 1.0 / (1.0 + F.exp(-z))
        joined = d.crossJoin(F.broadcast(w))
        w = joined.agg(
            F.round(F.any_value("b") + LR_RATE * F.avg(resid), LR_DP)
            .alias("b"),
            *[F.round(F.any_value(f"w{i}")
                      + LR_RATE * F.avg(resid * F.col(f"x{i}")), LR_DP)
              .alias(f"w{i}") for i in range(LR_DIMS)])
    z = F.col("b") + sum(
        (F.col(f"w{i}") * F.col(f"x{i}") for i in range(LR_DIMS)),
        start=F.lit(0.0))
    correct = F.when(((1.0 / (1.0 + F.exp(-z))) >= 0.5)
                     == (F.col("y") == 1.0), 1.0).otherwise(0.0)
    scored = d.crossJoin(F.broadcast(w))
    return scored.groupBy(*[f"w{i}" for i in range(LR_DIMS)], "b").agg(
        F.round(F.avg(correct), 4).alias("train_acc")).select(
        *[(F.round(F.col(f"w{i}"), 4) + F.lit(0.0)).alias(f"w{i}")
          for i in range(LR_DIMS)],
        (F.round("b", 4) + F.lit(0.0)).alias("bias"),
        (F.col("train_acc") + F.lit(0.0)).alias("train_acc"))


# --------------------------------------------------------------------------
# product-quantization codebook
# --------------------------------------------------------------------------

PQ_SUBSPACES = 4   # 64-dim vectors -> 4 x 16-dim subvectors
PQ_K = 4           # centroids per subspace (fixture-sized; 256 in prod)
PQ_ITERS = 1       # Lloyd updates per subspace (unrolled in the oracle)


def _pq_oracle() -> str:
    dim = 64 // PQ_SUBSPACES
    blocks = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * dim + 1, (s + 1) * dim
        prefix = f"""
    e{s} AS (SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v
             FROM embeddings),
    s{s}c0 AS (SELECT vec_id::INT AS cluster, v AS cvec
               FROM e{s} WHERE vec_id < {PQ_K})"""
        for i in range(1, PQ_ITERS + 1):
            prefix += f""",
    s{s}a{i} AS (
        SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e{s} e CROSS JOIN s{s}c{i-1} c) WHERE rn = 1),
    s{s}u{i} AS (
        SELECT cluster, list(av ORDER BY dim) AS cvec FROM (
            SELECT cluster, u.i AS dim, ROUND(AVG(v[u.i + 1]), {CENT_DP}) AS av
            FROM s{s}a{i}, unnest(range(0, len(v))) AS u(i)
            GROUP BY cluster, u.i)
        GROUP BY cluster),
    s{s}c{i} AS (
        SELECT c.cluster, COALESCE(u.cvec, c.cvec) AS cvec
        FROM s{s}c{i-1} c LEFT JOIN s{s}u{i} u USING (cluster))"""
        prefix += f""",
    s{s}final AS (
        SELECT {s} AS subspace, cluster, dist FROM (
            SELECT e.vec_id, c.cluster,
                   list_distance(e.v, c.cvec) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e{s} e CROSS JOIN s{s}c{PQ_ITERS} c) WHERE rn = 1)"""
        blocks.append(prefix)
    union = " UNION ALL ".join(
        f"SELECT subspace, cluster, COUNT(*) AS n_vecs, "
        f"ROUND(AVG(dist), 4) + 0.0 AS avg_dist "
        f"FROM s{s}final GROUP BY subspace, cluster"
        for s in range(PQ_SUBSPACES))
    return "WITH" + ",".join(b[1:] if i == 0 else b
                             for i, b in enumerate(blocks)) + "\n    " + union


@register(
    "q_embed_pq_codebook",
    oracle=_pq_oracle(),
    doc=f"Product-quantization codebook training: vectors split into "
        f"{PQ_SUBSPACES} x {64 // PQ_SUBSPACES}-dim subvectors, "
        f"independent Lloyd k-means (k={PQ_K}, {PQ_ITERS} update) per "
        "subspace — the Jegou et al. PQ compression standard (a "
        "64-float vector becomes 4 code bytes; 256-centroid codebooks "
        "in production, fixture-sized here). All four subspace "
        "trainings compose into ONE lazy DAG (the per-subspace slice "
        "is a map-side array op; each training is the same broadcast-"
        "centroid pattern as q_embed_kmeans); output is the per-"
        "(subspace, cluster) assignment census with mean quantization "
        "distance — the codebook quality table. Oracle unrolls all "
        "four trainings.",
)
def q_embed_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = 64 // PQ_SUBSPACES
    e_full = Catalog(spark, sf_dir).table("embeddings")
    out = None
    for s in range(PQ_SUBSPACES):
        e = e_full.select(
            "vec_id",
            F.transform(F.slice("embedding", s * dim + 1, dim),
                        lambda x: x.cast("double")).alias("v"))
        cents = _lloyd(e, PQ_K, PQ_ITERS)
        fin = (_assign(e, cents)
               .groupBy("cluster")
               .agg(F.count(F.lit(1)).alias("n_vecs"),
                    (F.round(F.avg("dist"), 4) + F.lit(0.0))
                    .alias("avg_dist"))
               .select(F.lit(s).alias("subspace"), "cluster",
                       "n_vecs", "avg_dist"))
        out = fin if out is None else out.unionByName(fin)
    return out


def _pq_search_oracle() -> str:
    dim = 64 // PQ_SUBSPACES
    blocks = []
    for s in range(PQ_SUBSPACES):
        lo, hi = s * dim + 1, (s + 1) * dim
        prefix = f"""
    e{s} AS (SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v
             FROM embeddings),
    s{s}c0 AS (SELECT vec_id::INT AS cluster, v AS cvec
               FROM e{s} WHERE vec_id < {PQ_K})"""
        for i in range(1, PQ_ITERS + 1):
            prefix += f""",
    s{s}a{i} AS (
        SELECT vec_id, v, cluster FROM (
            SELECT e.vec_id, e.v, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e{s} e CROSS JOIN s{s}c{i-1} c) WHERE rn = 1),
    s{s}u{i} AS (
        SELECT cluster, list(av ORDER BY dim) AS cvec FROM (
            SELECT cluster, u.i AS dim, ROUND(AVG(v[u.i + 1]), {CENT_DP}) AS av
            FROM s{s}a{i}, unnest(range(0, len(v))) AS u(i)
            GROUP BY cluster, u.i)
        GROUP BY cluster),
    s{s}c{i} AS (
        SELECT c.cluster, COALESCE(u.cvec, c.cvec) AS cvec
        FROM s{s}c{i-1} c LEFT JOIN s{s}u{i} u USING (cluster))"""
        prefix += f""",
    s{s}code AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_distance(e.v, c.cvec), c.cluster) AS rn
            FROM e{s} e CROSS JOIN s{s}c{PQ_ITERS} c) WHERE rn = 1),
    qd{s} AS (
        SELECT c.cluster, pow(list_distance(e.v, c.cvec), 2) AS d
        FROM e{s} e CROSS JOIN s{s}c{PQ_ITERS} c WHERE e.vec_id = 0)"""
        blocks.append(prefix)
    joins = "".join(
        f"""
        JOIN s{s}code co{s} ON co{s}.vec_id = co0.vec_id
        JOIN qd{s} ON qd{s}.cluster = co{s}.cluster""" if s else """
        JOIN qd0 ON qd0.cluster = co0.cluster"""
        for s in range(PQ_SUBSPACES))
    total = " + ".join(f"qd{s}.d" for s in range(PQ_SUBSPACES))
    return ("WITH" + ",".join(b[1:] if i == 0 else b
                              for i, b in enumerate(blocks)) + f"""
    SELECT co0.vec_id, ROUND({total}, 6) + 0.0 AS adc_dist
    FROM s0code co0{joins}
    WHERE co0.vec_id <> 0
    ORDER BY adc_dist, co0.vec_id LIMIT 10""")


@register(
    "q_embed_pq_search",
    oracle=_pq_search_oracle(),
    doc="PQ asymmetric-distance search (ADC, the second half of "
        "q_embed_pq_codebook): every vector is ENCODED to one code "
        "byte per subspace (nearest-centroid argmin), the query's "
        "distance TABLE (subspace x centroid squared distances — "
        "k*subspaces entries) broadcasts, and each candidate's "
        "approximate distance is a table-lookup sum — top-10 via "
        "TakeOrderedAndProject. The whole train->encode->search "
        "pipeline is deterministic, so unlike LSH/IVF this "
        "approximate index is FULLY value-oracle-checked, not "
        "rows-only. At 100 TB the codes (4 bytes/vector) replace the "
        "256-byte vectors in the scan — the memory math that makes "
        "billion-vector ANN fit a cluster.",
)
def q_embed_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = 64 // PQ_SUBSPACES
    e_full = Catalog(spark, sf_dir).table("embeddings")
    codes = None
    qdist = None
    for s in range(PQ_SUBSPACES):
        e = e_full.select(
            "vec_id",
            F.transform(F.slice("embedding", s * dim + 1, dim),
                        lambda x: x.cast("double")).alias("v"))
        cents = _lloyd(e, PQ_K, PQ_ITERS)
        code_s = (_assign(e, cents)
                  .select("vec_id", F.lit(s).alias("s"), "cluster"))
        sq = F.aggregate(
            F.zip_with("v", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x)
        qd_s = (e.where(F.col("vec_id") == 0)
                .crossJoin(F.broadcast(cents))
                .select(F.lit(s).alias("s"), "cluster", sq.alias("d")))
        codes = code_s if codes is None else codes.unionByName(code_s)
        qdist = qd_s if qdist is None else qdist.unionByName(qd_s)
    adc = (codes.where(F.col("vec_id") != 0)
           .join(F.broadcast(qdist), ["s", "cluster"])
           .groupBy("vec_id")
           .agg((F.round(F.sum("d"), 6) + F.lit(0.0)).alias("adc_dist")))
    return adc.orderBy("adc_dist", "vec_id").limit(10)


@register(
    "q_embed_pq_recall",
    oracle=_pq_search_oracle().replace(
        "SELECT co0.vec_id, ROUND(", "SELECT co0.vec_id AS pq_id, ROUND(",
    ).replace(
        "ORDER BY adc_dist, co0.vec_id LIMIT 10",
        """ORDER BY adc_dist, pq_id LIMIT 10)
    , exact AS (
        SELECT vec_id FROM (
            SELECT c.vec_id,
                   ROW_NUMBER() OVER (
                       ORDER BY list_distance(c.embedding::DOUBLE[],
                                              q.embedding::DOUBLE[]),
                                c.vec_id) AS rn
            FROM embeddings c
            CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE c.vec_id <> 0) WHERE rn <= 10)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) / 10.0, 2) + 0.0 AS recall_at_10
    FROM pq JOIN exact ON pq.pq_id = exact.vec_id""",
    ).replace("WITH", "WITH pq AS (WITH", 1),
    doc="PQ search quality: recall@10 of the ADC top-10 against the "
        "exact full-vector top-10 for the same query — the number that "
        "decides codebook size (k) and subspace count in production. "
        "Because the whole PQ pipeline is deterministic, this is a "
        "fully VALUE-checked quality metric (the LSH/IVF analogs are "
        "floors); the exact side reuses the brute-force ranking, the "
        "PQ side the ADC pipeline, intersected by id. Measured 0.6-0.9 "
        "on the fixtures with the toy k=4 codebooks.",
)
def q_embed_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    pq = q_embed_pq_search(spark, sf_dir).select(
        F.col("vec_id").alias("pq_id"))
    e = (Catalog(spark, sf_dir).table("embeddings")
         .select("vec_id", F.transform(
             "embedding", lambda x: x.cast("double")).alias("v")))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dist = F.sqrt(F.aggregate(
        F.zip_with("v", "qv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x))
    exact = (e.where(F.col("vec_id") != 0)
             .crossJoin(F.broadcast(q))
             .select("vec_id", dist.alias("d"))
             .orderBy("d", "vec_id").limit(10))
    hits = pq.join(exact, pq.pq_id == exact.vec_id)
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        (F.round(F.count(F.lit(1)) / 10.0, 2) + F.lit(0.0))
        .alias("recall_at_10"))


# --------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup (the n^2 restriction that scales)
# --------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4


@register(
    "q_dedup_semantic_clustered",
    oracle=_kmeans_cte(K_CLUSTERS, N_ITER) + f""",
    asg AS (SELECT f.vec_id, f.cluster, e2.embedding
            FROM final f JOIN embeddings e2 USING (vec_id)),
    pairs AS (
        SELECT a.cluster, a.vec_id AS i, b.vec_id AS j
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding)
              >= {SEMDEDUP_TAU}),
    dropped AS (SELECT DISTINCT j FROM pairs)
    SELECT a.cluster,
           COUNT(*) AS n_vecs,
           CAST(COUNT(d.j) AS BIGINT) AS n_dropped
    FROM asg a LEFT JOIN dropped d ON a.vec_id = d.j
    GROUP BY a.cluster
    """,
    doc="SemDeDup proper (Abbas et al. 2023): k-means clusters first, "
        "then the cosine-dominance dedup rule WITHIN each cluster only "
        "— the restriction that turns O(n^2) pairwise work into "
        "sum-of-cluster-sizes^2, which is the entire reason "
        "semantic dedup runs at corpus scale. Reuses the engine's "
        "lazy Lloyd trajectory for the clustering (same oracle CTE "
        "prefix as q_embed_kmeans) and the same dominance rule as the "
        "global q_dedup_semantic_resolved; output is the per-cluster "
        "census of kept vs dropped vectors. The cluster-key equi-join "
        "makes the pair generation a co-partitioned self-join — no "
        "block-matrix pass over cross-cluster pairs at all.",
)
def q_dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.vectors import cosine

    final = _kmeans_final(spark, sf_dir).select("vec_id", "cluster")
    e = Catalog(spark, sf_dir).table("embeddings")
    asg = final.join(e.select("vec_id", "embedding"), "vec_id")
    a = asg.select(F.col("cluster").alias("c"), F.col("vec_id").alias("i"),
                   F.col("embedding").alias("va"))
    b = asg.select(F.col("cluster").alias("c"), F.col("vec_id").alias("j"),
                   F.col("embedding").alias("vb"))
    pairs = (a.join(b, "c")
             .where(F.col("i") < F.col("j"))
             .where(cosine(F.col("va"), F.col("vb")) >= SEMDEDUP_TAU)
             .select("j").distinct())
    tagged = asg.join(pairs, asg.vec_id == pairs.j, "left")
    return (tagged.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.count("j").cast("long").alias("n_dropped")))


@register(
    "q_embed_pca_explained_variance",
    oracle=_pca_oracle(N_POWER).replace(
        """
    SELECT CAST(dim AS INT) AS dim, ROUND(val, 4) + 0.0 AS component
    FROM v3""",
        """,
    lam AS (
        SELECT SUM(va.val * cov.c * vb.val) AS lambda1
        FROM cov JOIN v3 va ON cov.i = va.dim
                 JOIN v3 vb ON cov.j = vb.dim),
    tr AS (SELECT SUM(c) AS trace FROM cov WHERE i = j)
    SELECT ROUND(lam.lambda1, 4) + 0.0 AS lambda1,
           ROUND(tr.trace, 4) + 0.0 AS total_variance,
           ROUND(lam.lambda1 / tr.trace, 4) + 0.0 AS pc1_share
    FROM lam CROSS JOIN tr"""),
    doc="Explained-variance share of the first principal component: "
        "the Rayleigh quotient v'Cv of the power-iteration vector "
        "(lambda-1 estimate) over the covariance trace (total "
        "variance) — THE summary number of a PCA (near-1 means the "
        "embedding space collapsed to a line: an anisotropy/encoder-"
        "failure alarm; 1/d means isotropic). Composes the Gram-"
        "partial covariance and the unrolled power iteration into the "
        "quadratic form as two joins + one aggregate — still one lazy "
        "DAG, no matrix ever on the driver.",
)
def q_embed_pca_explained_variance(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    full, v = _pca_power(spark, sf_dir)
    va = v.select(F.col("dim").alias("ia"), F.col("val").alias("xa"))
    vb = v.select(F.col("dim").alias("ib"), F.col("val").alias("xb"))
    lam = (full.join(F.broadcast(va), full.i == F.col("ia"))
           .join(F.broadcast(vb), full.j == F.col("ib"))
           .agg(F.sum(F.col("xa") * F.col("c") * F.col("xb"))
                .alias("lambda1")))
    tr = (full.where(F.col("i") == F.col("j"))
          .agg(F.sum("c").alias("trace")))
    return (lam.crossJoin(F.broadcast(tr))
            .select((F.round("lambda1", 4) + F.lit(0.0)).alias("lambda1"),
                    (F.round("trace", 4) + F.lit(0.0))
                    .alias("total_variance"),
                    (F.round(F.col("lambda1") / F.col("trace"), 4)
                     + F.lit(0.0)).alias("pc1_share")))


# --------------------------------------------------------------------------
# ROC-AUC (Mann-Whitney) for the quality classifier
# --------------------------------------------------------------------------

def histogram_auc(j: DataFrame) -> DataFrame:
    """(n_pos, n_neg, auc) from a (prob, label) DataFrame — the
    Mann-Whitney AUC via the score histogram, the formulation the
    property test pins against direct pairwise comparison
    (tests/test_properties.py)."""
    from pyspark.sql import Window

    # Collapse the corpus to a per-score histogram: prob is rounded to
    # 4 dp, so this table is bounded at 10_001 rows regardless of corpus
    # size — the aggregate-state shape every iterative trainer here uses.
    hist = (j.groupBy("prob")
            .agg(F.count(F.when(F.col("label"), 1)).alias("pos"),
                 F.count(F.when(~F.col("label"), 1)).alias("neg")))
    # Prefix-sum of negatives below each score WITHOUT a global
    # single-partition window: shard by score decile (floor is monotone,
    # so shard order == score order), per-shard windows for the
    # intra-shard prefix, and an 11-row broadcast self-join for the
    # cross-shard offsets — the q_pack_sequences_sharded discipline.
    hist = hist.withColumn("shard", F.floor(F.col("prob") * 10).cast("int"))
    w = (Window.partitionBy("shard").orderBy("prob")
         .rowsBetween(Window.unboundedPreceding, -1))
    intra = hist.withColumn(
        "neg_intra", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    tot = hist.groupBy("shard").agg(F.sum("neg").alias("sneg"))
    below = (tot.alias("a")
             .join(F.broadcast(tot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.sneg"), F.lit(0)).alias("neg_shards")))
    e = intra.join(F.broadcast(below), "shard")
    agg = e.agg(
        F.sum(F.col("pos")
              * (F.col("neg_shards") + F.col("neg_intra")
                 + F.col("neg") / F.lit(2.0))).alias("u"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"))
    return agg.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        (F.round(F.col("u") / (F.col("p") * F.col("n")), 6)
         + F.lit(0.0)).alias("auc"))


def _scored_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prob, label): the classifier's score beside the label the
    classifier evals score it against (stopword ratio >= 0.08)."""
    from datalake_project_spark.functions import text as T

    scores = _classifier_scores(spark, sf_dir).select("doc_id", "prob")
    d = Catalog(spark, sf_dir).table("documents")
    lab = d.select(
        "doc_id",
        (T.stopword_ratio(T.tokens("text"), "en") >= 0.08).alias("label"))
    return scores.join(lab, "doc_id")


@register(
    "q_classifier_auc",
    oracle=None,  # replaced below — needs _stop_sql from queries.text
    doc="",
)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return histogram_auc(_scored_labels(spark, sf_dir))


def _install_auc_oracle() -> None:
    """The AUC oracle needs queries.text's stopword fragment; registering
    it here (instead of in the decorator literal) avoids a circular
    import at module load."""
    from datalake_project_spark.queries import REGISTRY, QuerySpec
    from datalake_project_spark.queries.text import _stop_sql

    oracle = f"""
    WITH {_CLS_CTE},
    lab AS (SELECT doc_id, ({_stop_sql('en')}) >= 0.08 AS label FROM tok),
    j AS (SELECT c.prob, CASE WHEN l.label THEN 1 ELSE 0 END AS li
          FROM cls c JOIN lab l USING (doc_id)),
    r AS (SELECT li,
                 RANK() OVER (ORDER BY prob)
                 + (COUNT(*) OVER (PARTITION BY prob) - 1) / 2.0 AS arank
          FROM j),
    t AS (SELECT SUM(CASE WHEN li = 1 THEN arank ELSE 0.0 END) AS rsum,
                 COUNT(CASE WHEN li = 1 THEN 1 END) AS p,
                 COUNT(CASE WHEN li = 0 THEN 1 END) AS n
          FROM r)
    SELECT p AS n_pos, n AS n_neg,
           ROUND((rsum - p * (p + 1) / 2.0) / (p::DOUBLE * n::DOUBLE), 6)
           + 0.0 AS auc
    FROM t
    """
    doc = (
        "ROC-AUC of the linear quality classifier against a held-out "
        "heuristic label (en-stopword ratio >= 0.08), computed as the "
        "tie-corrected Mann-Whitney U statistic. The engine side never "
        "globally ranks the corpus: scores collapse to a <=10^4-row "
        "(prob, pos, neg) histogram (prob is 4-dp-rounded), and AUC = "
        "sum_s pos(s)*(neg_below(s) + neg(s)/2) / (P*N) over that "
        "histogram — algebraically identical to the oracle's average-"
        "rank formulation. The prefix sum over the histogram is sharded "
        "by score decile (per-shard windows + an 11-row broadcast "
        "offset join), so no single-partition WindowExec appears even "
        "on the bounded table. At 100 TB the corpus pass is the same "
        "explode+join+agg the classifier already pays; the AUC overhead "
        "is a 10^4-row aggregate."
    )
    spec = REGISTRY["q_classifier_auc"]
    REGISTRY["q_classifier_auc"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_auc_oracle()


@register(
    "q_classifier_lift_gains",
    oracle=None,  # installed below — needs _stop_sql from queries.text
    doc="",
)
def q_classifier_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    j = _scored_labels(spark, sf_dir)
    hist = (j.groupBy("prob")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.count(F.when(F.col("label"), 1)).alias("pos")))
    # Prefix count in SCORE-DESC order without a global window: shard by
    # inverted score decile (monotone desc), per-shard window + 11-row
    # broadcast offsets — the histogram_auc discipline, opposite order.
    hist = hist.withColumn(
        "shard", (F.lit(10) - F.floor(F.col("prob") * 10)).cast("int"))
    w = (Window.partitionBy("shard").orderBy(F.desc("prob"))
         .rowsBetween(Window.unboundedPreceding, -1))
    intra = hist.withColumn(
        "cum_excl_intra", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    stot = hist.groupBy("shard").agg(F.sum("cnt").alias("s_cnt"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_cnt"), F.lit(0)).alias("off_cnt")))
    tot = j.agg(F.count(F.lit(1)).alias("nn"),
                F.count(F.when(F.col("label"), 1)).alias("pp"))
    dd = (intra.join(F.broadcast(below), "shard")
          .crossJoin(F.broadcast(tot))
          .select((F.lit(1) + F.floor(
              (F.col("off_cnt") + F.col("cum_excl_intra")) * 10
              / F.col("nn"))).cast("long").alias("decile"),
              "cnt", "pos"))
    g = (dd.groupBy("decile")
         .agg(F.sum("cnt").cast("long").alias("n_docs"),
              F.sum("pos").cast("long").alias("n_pos")))
    gb = g.select(F.col("decile").alias("d2"),
                  F.col("n_docs").alias("nd2"), F.col("n_pos").alias("np2"))
    cum = (g.join(F.broadcast(gb), F.col("d2") <= F.col("decile"))
           .groupBy("decile", "n_docs", "n_pos")
           .agg(F.sum("np2").cast("long").alias("cum_pos"),
                F.sum("nd2").cast("long").alias("cum_docs")))
    return (cum.crossJoin(F.broadcast(tot))
            .select("decile", "n_docs", "n_pos", "cum_pos",
                    F.round(F.col("cum_pos").cast("double") / F.col("pp"), 6)
                    .alias("gain"),
                    F.round(F.col("cum_pos") * F.col("nn")
                            / (F.col("cum_docs").cast("double")
                               * F.col("pp")), 6).alias("lift"))
            .orderBy("decile"))


def _install_lift_oracle() -> None:
    from datalake_project_spark.queries import REGISTRY, QuerySpec
    from datalake_project_spark.queries.text import _stop_sql

    oracle = f"""
    WITH {_CLS_CTE},
    lab AS (SELECT doc_id, ({_stop_sql("en")}) >= 0.08 AS label FROM tok),
    j AS (SELECT c.prob, CASE WHEN l.label THEN 1 ELSE 0 END AS li
          FROM cls c JOIN lab l USING (doc_id)),
    tot AS (SELECT COUNT(*) AS nn, CAST(SUM(li) AS BIGINT) AS pp FROM j),
    h AS (SELECT prob, COUNT(*) AS cnt, CAST(SUM(li) AS BIGINT) AS pos
          FROM j GROUP BY prob),
    r AS (SELECT prob, cnt, pos,
                 COALESCE(SUM(cnt) OVER (
                     ORDER BY prob DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_excl
          FROM h),
    dd AS (SELECT 1 + CAST(FLOOR(cum_excl * 10 / tot.nn) AS BIGINT)
                   AS decile, cnt, pos
           FROM r CROSS JOIN tot),
    g AS (SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n_docs,
                 CAST(SUM(pos) AS BIGINT) AS n_pos
          FROM dd GROUP BY decile),
    c AS (SELECT a.decile, a.n_docs, a.n_pos,
                 CAST(SUM(b.n_pos) AS BIGINT) AS cum_pos,
                 CAST(SUM(b.n_docs) AS BIGINT) AS cum_docs
          FROM g a JOIN g b ON b.decile <= a.decile
          GROUP BY a.decile, a.n_docs, a.n_pos)
    SELECT decile, n_docs, n_pos, cum_pos,
           ROUND(cum_pos::DOUBLE / tot.pp, 6) AS gain,
           ROUND(cum_pos * tot.nn / (cum_docs::DOUBLE * tot.pp), 6) AS lift
    FROM c CROSS JOIN tot
    ORDER BY decile
    """
    doc = (
        "Decile lift/gains table for the linear quality classifier — "
        "the scoring deliverable next to ROC-AUC (q_classifier_auc) "
        "and the calibration curve: rank docs by score descending, cut "
        "the POPULATION into tenths (score ties assigned whole to the "
        "decile of their first doc via the exclusive prefix count — "
        "deterministic in both engines), report per-decile positives, "
        "cumulative gain (share of all positives captured) and lift "
        "(capture rate vs random). The engine never globally ranks "
        "the corpus: scores collapse to the bounded 4-dp histogram, "
        "the score-desc prefix count runs decile-sharded (per-shard "
        "windows + broadcast offsets), and the 10-row cumulative is a "
        "bounded broadcast self-join. All quantities are exact "
        "integer ratios rounded once."
    )
    spec = REGISTRY["q_classifier_lift_gains"]
    REGISTRY["q_classifier_lift_gains"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_lift_oracle()


# --------------------------------------------------------------------------
# multinomial Naive Bayes language classifier
# --------------------------------------------------------------------------

_UTOKS = r"regexp_extract_all(lower(text), '[\p{L}\p{N}]+')"


@register(
    "q_text_nb_langid",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, t AS term, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest({_UTOKS}) AS t FROM documents)
        GROUP BY doc_id, t),
    dl AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS len
           FROM tok GROUP BY doc_id),
    docs AS (SELECT doc_id, lang FROM documents),
    ct AS (SELECT d.lang AS cls, t.term, CAST(SUM(t.cnt) AS BIGINT) AS n_tc
           FROM tok t JOIN docs d USING (doc_id) GROUP BY cls, t.term),
    ctot AS (SELECT cls, CAST(SUM(n_tc) AS BIGINT) AS tot
             FROM ct GROUP BY cls),
    vocab AS (SELECT COUNT(DISTINCT term) AS v FROM tok),
    pri AS (SELECT lang AS cls,
                   ln(COUNT(*)::DOUBLE
                      / (SELECT COUNT(*) FROM documents)) AS prior
            FROM documents GROUP BY lang),
    part AS (SELECT t.doc_id, ct.cls, SUM(t.cnt * ln(ct.n_tc + 1)) AS s
             FROM tok t JOIN ct ON t.term = ct.term
             GROUP BY t.doc_id, ct.cls),
    grid AS (
        SELECT d.doc_id, d.lang, p.cls,
               ROUND(p.prior + COALESCE(part.s, 0.0)
                     - COALESCE(dl.len, 0) * ln(ctot.tot + vocab.v), 6)
               AS score
        FROM docs d
        CROSS JOIN pri p
        JOIN ctot ON ctot.cls = p.cls
        CROSS JOIN vocab
        LEFT JOIN dl ON dl.doc_id = d.doc_id
        LEFT JOIN part ON part.doc_id = d.doc_id AND part.cls = p.cls),
    pred AS (
        SELECT doc_id, lang, cls,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cls) AS rk
        FROM grid)
    SELECT lang AS actual, cls AS predicted, COUNT(*) AS n_docs
    FROM pred WHERE rk = 1
    GROUP BY actual, predicted
    """,
    doc="Multinomial Naive Bayes language classifier, trained and "
        "scored in one DAG (in-sample confusion matrix): the classic "
        "closed-form aggregation-native supervised model — training is "
        "ONE grouped count pass, no gradient loop. Add-one smoothing "
        "is applied via the absent-mass identity score(d,c) = prior_c "
        "+ sum_present cnt*ln(n_tc+1) - len_d*ln(tot_c+V), so only "
        "PRESENT (term, class) pairs are ever materialized (absent "
        "terms contribute ln(0+1)=0) — the same closed-form trick the "
        "DSIR weights use. Unicode tokens make the zh slice "
        "classifiable (cf. the heuristic q_text_langid_confusion, "
        "whose zh row is all 'unknown'). Scale: the model is a "
        "vocab x 5-class table (broadcast); scoring is one "
        "explode+broadcast-join+aggregate corpus pass; the argmax is a "
        "min-struct aggregate, no per-doc window. Scores are rounded "
        "at 6 dp on both engines before the argmax so the confusion "
        "matrix is cross-engine deterministic.",
)
def q_text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    docs = d.select("doc_id", "lang")
    toks = d.select("doc_id", F.explode(F.regexp_extract_all(
        F.lower("text"), F.lit(r"[\p{L}\p{N}]+"), 0)).alias("term"))
    tok = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    dl = tok.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("len"))

    ct = (tok.join(docs, "doc_id")
          .groupBy(F.col("lang").alias("cls"), "term")
          .agg(F.sum("cnt").cast("long").alias("n_tc")))
    ctot = ct.groupBy("cls").agg(F.sum("n_tc").cast("long").alias("tot"))
    vocab = tok.agg(F.countDistinct("term").alias("v"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    pri = (docs.groupBy(F.col("lang").alias("cls"))
           .agg(F.count(F.lit(1)).alias("n_c"))
           .crossJoin(F.broadcast(n_docs))
           .select("cls", F.log(F.col("n_c").cast("double")
                                / F.col("n")).alias("prior")))

    part = (tok.join(F.broadcast(ct), "term")
            .groupBy("doc_id", "cls")
            .agg(F.sum(F.col("cnt") * F.log(F.col("n_tc") + 1)).alias("s")))

    grid = (docs
            .crossJoin(F.broadcast(pri.join(ctot, "cls")))
            .crossJoin(F.broadcast(vocab))
            .join(dl, "doc_id", "left")
            .join(part, ["doc_id", "cls"], "left")
            .select("doc_id", "lang", "cls",
                    F.round(F.col("prior") + F.coalesce(F.col("s"), F.lit(0.0))
                            - F.coalesce(F.col("len"), F.lit(0)).cast("double")
                            * F.log(F.col("tot") + F.col("v")), 6)
                    .alias("score")))
    # argmax class per doc: min of (-score, cls) — tie -> lexicographic
    pred = (grid.groupBy("doc_id", "lang")
            .agg(F.min(F.struct((-F.col("score")).alias("neg"),
                                F.col("cls").alias("cls"))).alias("p"))
            .select("lang", F.col("p.cls").alias("predicted")))
    return (pred.groupBy(F.col("lang").alias("actual"), "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "q_ols_multivariate",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS DOUBLE) AS q,
               CAST(l_discount AS DOUBLE) AS d,
               l_extendedprice AS y
        FROM lineitem),
    m AS (
        SELECT flag, COUNT(*) AS n_obs,
               AVG(q) AS qb, AVG(d) AS db, AVG(y) AS yb,
               var_samp(q) AS vqq, var_samp(d) AS vdd, var_samp(y) AS vyy,
               covar_samp(q, d) AS vqd,
               covar_samp(q, y) AS cqy,
               covar_samp(d, y) AS cdy
        FROM pts GROUP BY flag),
    fit AS (
        SELECT flag, n_obs, qb, db, yb, vyy, cqy, cdy,
               (cqy * vdd - cdy * vqd) / (vqq * vdd - vqd * vqd) AS b1,
               (cdy * vqq - cqy * vqd) / (vqq * vdd - vqd * vqd) AS b2
        FROM m)
    SELECT flag, n_obs,
           ROUND(yb - b1 * qb - b2 * db, 2) + 0.0 AS intercept,
           ROUND(b1, 4) + 0.0 AS beta_quantity,
           ROUND(b2, 4) + 0.0 AS beta_discount,
           ROUND((b1 * cqy + b2 * cdy) / vyy, 4) + 0.0 AS r2
    FROM fit
    """,
    doc="Multivariate OLS (2 features + intercept) in closed form per "
        "group: extended price regressed on quantity and discount per "
        "return flag, solved via the COVARIANCE normal equations "
        "(2x2 Cramer on centered second moments) rather than raw-"
        "moment matrices — centering keeps the system well-conditioned "
        "so cross-engine ulp noise in the parallel sums dies in the "
        "4-dp rounding, where raw-moment determinants would amplify "
        "it by catastrophic cancellation. One grouped aggregate "
        "computes all nine sufficient statistics (var/covar partials "
        "merge associatively -> map-side combine, one exchange), then "
        "the solve is per-group arithmetic — the multi-feature "
        "generalization of q_price_trend_regression's regr_* family, "
        "and the largest linear model that stays sane as hand-written "
        "Cramer; beyond this the normal-equation solve moves to a "
        "driver-side numpy solve over the SAME aggregate outputs "
        "(k x k for k features, data pass unchanged).",
)
def q_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_discount").cast("double").alias("d"),
        F.col("l_extendedprice").alias("y"))
    m = pts.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.avg("q").alias("qb"), F.avg("d").alias("db"),
        F.avg("y").alias("yb"),
        F.var_samp("q").alias("vqq"), F.var_samp("d").alias("vdd"),
        F.var_samp("y").alias("vyy"),
        F.covar_samp("q", "d").alias("vqd"),
        F.covar_samp("q", "y").alias("cqy"),
        F.covar_samp("d", "y").alias("cdy"))
    det = F.col("vqq") * F.col("vdd") - F.col("vqd") * F.col("vqd")
    b1 = (F.col("cqy") * F.col("vdd") - F.col("cdy") * F.col("vqd")) / det
    b2 = (F.col("cdy") * F.col("vqq") - F.col("cqy") * F.col("vqd")) / det
    fit = m.withColumn("b1", b1).withColumn("b2", b2)
    return fit.select(
        "flag", "n_obs",
        (F.round(F.col("yb") - F.col("b1") * F.col("qb")
                 - F.col("b2") * F.col("db"), 2) + F.lit(0.0))
        .alias("intercept"),
        (F.round("b1", 4) + F.lit(0.0)).alias("beta_quantity"),
        (F.round("b2", 4) + F.lit(0.0)).alias("beta_discount"),
        (F.round((F.col("b1") * F.col("cqy") + F.col("b2") * F.col("cdy"))
                 / F.col("vyy"), 4) + F.lit(0.0)).alias("r2"))


@register(
    "q_embed_mahalanobis_outliers",
    oracle="""
    WITH pts AS (
        SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
               CAST(embedding[2] AS DOUBLE) AS y
        FROM embeddings),
    m AS (
        SELECT AVG(x) AS mx, AVG(y) AS my,
               var_samp(x) AS a, covar_samp(x, y) AS b,
               var_samp(y) AS c
        FROM pts),
    d AS (
        SELECT p.vec_id,
               ((p.x - m.mx) * (m.c * (p.x - m.mx) - m.b * (p.y - m.my))
                + (p.y - m.my) * (m.a * (p.y - m.my) - m.b * (p.x - m.mx)))
               / (m.a * m.c - m.b * m.b) AS d2
        FROM pts p, m)
    SELECT vec_id, ROUND(d2, 4) + 0.0 AS mahalanobis_sq
    FROM d ORDER BY d2 DESC, vec_id LIMIT 10
    """,
    doc="Mahalanobis-distance outlier panel over the first two "
        "embedding dimensions: distance accounts for the covariance "
        "ELLIPSE (a point far along the correlated axis is normal; "
        "the same Euclidean distance across it is anomalous), which "
        "is what the plain norm-outlier check (q_embed_norm_outliers) "
        "cannot see. The 2x2 precision matrix inverts in CLOSED FORM "
        "inside the plan (det = ac - b^2), so the whole query is one "
        "statistics aggregate (map-side partials), a broadcast 1-row "
        "join, and a TakeOrderedAndProject top-10 — no driver-side "
        "linear algebra, no second pass. For d dimensions the same "
        "shape holds with the d x d solve moving to a numpy inverse "
        "of the aggregate output (k^2 scalars, driver-scale), as the "
        "covariance/PCA queries already do.",
)
def q_embed_mahalanobis_outliers(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    pts = e.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"))
    m = pts.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"),
                F.var_samp("x").alias("a"),
                F.covar_samp("x", "y").alias("b"),
                F.var_samp("y").alias("c"))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    d2 = ((dx * (F.col("c") * dx - F.col("b") * dy)
           + dy * (F.col("a") * dy - F.col("b") * dx)) / det)
    return (pts.crossJoin(F.broadcast(m))
            .select("vec_id", d2.alias("d2"))
            .orderBy(F.desc("d2"), "vec_id").limit(10)
            .select("vec_id",
                    (F.round("d2", 4) + F.lit(0.0))
                    .alias("mahalanobis_sq")))


_QUAL_SQL = """
        SELECT doc_id,
               ROUND(GREATEST(0.0, LEAST(1.0,
                   0.5 * LEAST(1.0, ln(1.0 + len(toks)::DOUBLE) / ln(101.0))
                   + 0.3 * LEAST(1.0, (CASE WHEN len(toks) > 0 THEN
                       len(list_filter(toks, t -> t IN
                           ('the','a','and','of','to','in','is','it')))::DOUBLE
                       / len(toks)::DOUBLE ELSE 0.0 END) * 5.0)
                   - 0.3 * LEAST(1.0, (CASE WHEN length(text) > 0 THEN
                       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / length(text)::DOUBLE ELSE 0.0 END) * 4.0)
                   - (CASE WHEN (CASE WHEN len(toks) > 0 THEN
                        list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                        / len(toks)::DOUBLE ELSE 0.0 END) < 2.0
                      OR (CASE WHEN len(toks) > 0 THEN
                        list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                        / len(toks)::DOUBLE ELSE 0.0 END) > 12.0
                      THEN 0.5 ELSE 0.0 END) * 0.2)), 4) AS quality
        FROM tok"""


@register(
    "q_classifier_conformal",
    oracle=f"""
    WITH {_CLS_CTE},
    qual AS ({_QUAL_SQL}),
    pts AS (
        SELECT c.doc_id, ROUND(1.0 - c.prob, 4) + 0.0 AS s,
               CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS y,
               CASE WHEN substr(md5(c.doc_id::VARCHAR || ':conf:11'), 1, 2)
                         < '80' THEN 1 ELSE 0 END AS is_cal
        FROM cls c JOIN qual q USING (doc_id)),
    cal1 AS (SELECT s FROM pts WHERE is_cal = 1 AND y = 1),
    n AS (SELECT COUNT(*) AS nc FROM cal1),
    hist AS (SELECT s, COUNT(*) AS c FROM cal1 GROUP BY s),
    cum AS (SELECT h1.s, CAST(SUM(h2.c) AS BIGINT) AS cc
            FROM hist h1 JOIN hist h2 ON h2.s <= h1.s GROUP BY h1.s),
    qhat AS (SELECT MIN(cum.s) AS q
             FROM cum, n WHERE cum.cc >= CEIL((n.nc + 1) * 0.9)),
    test1 AS (SELECT s FROM pts WHERE is_cal = 0 AND y = 1)
    SELECT (SELECT nc FROM n) AS n_calibration,
           (SELECT ROUND(q, 4) + 0.0 FROM qhat) AS qhat,
           COUNT(*) AS n_test,
           COUNT(CASE WHEN t.s <= (SELECT q FROM qhat) THEN 1 END)
               AS n_covered,
           ROUND(COUNT(CASE WHEN t.s <= (SELECT q FROM qhat) THEN 1 END)
                 ::DOUBLE / COUNT(*), 4) + 0.0 AS coverage
    FROM test1 t
    """,
    doc="Split conformal prediction for the quality classifier: the "
        "corpus hash-splits into calibration and test halves, the "
        "nonconformity score (1 - classifier prob) of the "
        "calibration GOOD documents yields the conformal threshold "
        "qhat = the ceil((n+1)(1-alpha))-th smallest score "
        "(alpha = 0.1), and the TEST half's good documents report "
        "their empirical coverage at qhat — the distribution-free "
        "finite-sample guarantee (marginal coverage >= 90%) that "
        "turns a raw classifier score into a calibrated keep/review "
        "decision with a stated error budget. The order statistic is "
        "computed WINDOW-FREE from the 4-dp score histogram (bounded "
        "self-join cumulative, the q_quantile_rollup shape); scores "
        "and the split are engine-portable (rounded probs, "
        "md5-bucket split), so threshold and coverage are "
        "value-checked exactly.",
)
def q_classifier_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (_scored_quality(spark, sf_dir)
           .select("doc_id",
                   (F.round(F.lit(1.0) - F.col("prob"), 4) + F.lit(0.0))
                   .alias("s"),
                   (F.col("quality") >= 0.5).cast("int").alias("y"),
                   (F.substring(F.md5(F.concat(
                       F.col("doc_id").cast("string"),
                       F.lit(":conf:11"))), 1, 2) < "80")
                   .cast("int").alias("is_cal")))
    cal1 = pts.where((F.col("is_cal") == 1) & (F.col("y") == 1)).select("s")
    n = cal1.agg(F.count(F.lit(1)).alias("nc"))
    hist = cal1.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    cum = (hist.alias("h1")
           .join(hist.alias("h2"), F.col("h2.s") <= F.col("h1.s"))
           .groupBy(F.col("h1.s").alias("s"))
           .agg(F.sum("h2.c").cast("long").alias("cc")))
    qhat = (cum.crossJoin(F.broadcast(n))
            .where(F.col("cc") >= F.ceil((F.col("nc") + 1) * 0.9))
            .agg(F.min("s").alias("q")))
    test1 = pts.where((F.col("is_cal") == 0) & (F.col("y") == 1)).select("s")
    return (test1.crossJoin(F.broadcast(qhat))
            .crossJoin(F.broadcast(n))
            .agg(F.first("nc").alias("n_calibration"),
                 (F.round(F.first("q"), 4) + F.lit(0.0)).alias("qhat"),
                 F.count(F.lit(1)).alias("n_test"),
                 F.count(F.when(F.col("s") <= F.col("q"), 1))
                 .alias("n_covered"))
            .withColumn("coverage",
                        F.round(F.col("n_covered").cast("double")
                                / F.col("n_test"), 4) + F.lit(0.0)))


# --------------------------------------------------------------------------
# ALS half-step — closed-form ridge user-factor solve, improvement proven
# --------------------------------------------------------------------------

@register(
    "q_recs_als_halfstep",
    oracle="""
    WITH qf(item, q1, q2) AS (VALUES
        ('click',    0.5,   0.25),
        ('view',     0.25, -0.5),
        ('purchase', 0.75,  0.5),
        ('signup',  -0.25,  0.625),
        ('error',   -0.5,  -0.375)),
    r AS (
        SELECT user_id, event_type AS item, COUNT(*) AS rating
        FROM events GROUP BY user_id, event_type),
    g AS (
        SELECT r.user_id,
               COUNT(*) AS n_items,
               SUM(q.q1 * q.q1) AS a11, SUM(q.q1 * q.q2) AS a12,
               SUM(q.q2 * q.q2) AS a22,
               SUM(r.rating * q.q1) AS b1, SUM(r.rating * q.q2) AS b2,
               SUM(r.rating * r.rating) AS sse0
        FROM r JOIN qf q USING (item)
        GROUP BY r.user_id),
    x AS (
        SELECT user_id, n_items, a11, a12, a22, b1, b2, sse0,
               ((a22 + 0.5) * b1 - a12 * b2)
                   / ((a11 + 0.5) * (a22 + 0.5) - a12 * a12) AS x1,
               ((a11 + 0.5) * b2 - a12 * b1)
                   / ((a11 + 0.5) * (a22 + 0.5) - a12 * a12) AS x2
        FROM g)
    SELECT user_id, CAST(n_items AS INT) AS n_items,
           ROUND(x1, 6) AS x1, ROUND(x2, 6) AS x2,
           CAST(sse0 AS BIGINT) AS sse_before,
           ROUND(sse0 - 2 * (x1 * b1 + x2 * b2)
                 + (x1 * x1 * a11 + 2 * x1 * x2 * a12 + x2 * x2 * a22),
                 4) AS sse_after,
           ROUND(sse0 - (sse0 - 2 * (x1 * b1 + x2 * b2)
                 + (x1 * x1 * a11 + 2 * x1 * x2 * a12 + x2 * x2 * a22)),
                 4) >= 0 AS improved
    FROM x
    ORDER BY sse_before DESC, user_id
    LIMIT 20
    """,
    doc="One ALS half-step (Koren/Hu-style alternating least squares, "
        "the workhorse of collaborative filtering): item factors held "
        "fixed (k=2, DYADIC literals — 0.5/0.25/0.625... are exact in "
        "binary floating point, so with integer ratings every Gram "
        "aggregate is bit-exact and summation-order-free), each user's "
        "factor vector solved in closed form from the 2x2 ridge normal "
        "equations (A + lambda*I) x = b with lambda = 0.5. This is the "
        "distributed shape ALS actually runs at scale: per-user normal "
        "equations are ONE grouped aggregate over the ratings (Gram "
        "entries a11/a12/a22, right-hand sides b1/b2), the solve is "
        "per-row arithmetic, and the improvement audit needs NO second "
        "pass — sse_after = sse0 - 2 x.b + x'Ax from the same "
        "aggregates. Ridge optimality guarantees sse_after + "
        "lambda*|x|^2 <= sse_before, so the per-user `improved` flag "
        "value-checks the math. Ratings = per-(user,item) event "
        "counts; sse_before is a pure integer (exactly hashable).",
)
def q_recs_als_halfstep(spark: SparkSession, sf_dir: str) -> DataFrame:
    LAM = 0.5
    qf = local_df(spark, 
        [("click", 0.5, 0.25), ("view", 0.25, -0.5),
         ("purchase", 0.75, 0.5), ("signup", -0.25, 0.625),
         ("error", -0.5, -0.375)],
        "item string, q1 double, q2 double")
    r = (Catalog(spark, sf_dir).table("events")
         .groupBy("user_id", F.col("event_type").alias("item"))
         .agg(F.count(F.lit(1)).alias("rating")))
    g = (r.join(F.broadcast(qf), "item")
         .groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n_items"),
              F.sum(F.col("q1") * F.col("q1")).alias("a11"),
              F.sum(F.col("q1") * F.col("q2")).alias("a12"),
              F.sum(F.col("q2") * F.col("q2")).alias("a22"),
              F.sum(F.col("rating") * F.col("q1")).alias("b1"),
              F.sum(F.col("rating") * F.col("q2")).alias("b2"),
              F.sum(F.col("rating") * F.col("rating")).alias("sse0")))
    det = ((F.col("a11") + LAM) * (F.col("a22") + LAM)
           - F.col("a12") * F.col("a12"))
    x1 = ((F.col("a22") + LAM) * F.col("b1")
          - F.col("a12") * F.col("b2")) / det
    x2 = ((F.col("a11") + LAM) * F.col("b2")
          - F.col("a12") * F.col("b1")) / det
    sse_after = (F.col("sse0") - 2 * (x1 * F.col("b1") + x2 * F.col("b2"))
                 + (x1 * x1 * F.col("a11") + 2 * x1 * x2 * F.col("a12")
                    + x2 * x2 * F.col("a22")))
    return (g.select(
        "user_id", F.col("n_items").cast("int").alias("n_items"),
        F.round(x1, 6).alias("x1"), F.round(x2, 6).alias("x2"),
        F.col("sse0").cast("long").alias("sse_before"),
        F.round(sse_after, 4).alias("sse_after"),
        (F.round(F.col("sse0") - sse_after, 4) >= 0).alias("improved"))
        .orderBy(F.desc("sse_before"), "user_id").limit(20))


# --------------------------------------------------------------------------
# Confusion-matrix scalar metrics — MCC at a fixed operating point
# --------------------------------------------------------------------------

@register(
    "q_classifier_mcc",
    oracle=None,  # installed below — needs _stop_sql from queries.text
    doc="",
)
def q_classifier_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = _scored_labels(spark, sf_dir).select(
        (F.col("prob") >= 0.5).alias("pred"), "label")
    m = j.agg(
        F.sum(F.when(F.col("pred") & F.col("label"), 1).otherwise(0))
         .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("label"), 1).otherwise(0))
         .alias("fp"),
        F.sum(F.when(~F.col("pred") & ~F.col("label"), 1).otherwise(0))
         .alias("tn"),
        F.sum(F.when(~F.col("pred") & F.col("label"), 1).otherwise(0))
         .alias("fn"))
    tp, fp = F.col("tp"), F.col("fp")
    tn, fn = F.col("tn"), F.col("fn")
    den = ((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)).cast("double")
    mcc = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        F.round((tp * tn - fp * fn).cast("double") / F.sqrt(den), 6))
    f1 = F.when((2 * tp + fp + fn) == 0, F.lit(None).cast("double")) \
          .otherwise(F.round(2 * tp.cast("double")
                             / (2 * tp + fp + fn), 6))
    return m.select(
        tp.cast("long").alias("tp"), fp.cast("long").alias("fp"),
        tn.cast("long").alias("tn"), fn.cast("long").alias("fn"),
        F.round((tp + tn).cast("double")
                / (tp + fp + tn + fn), 6).alias("accuracy"),
        f1.alias("f1"), mcc.alias("mcc"))


def _install_mcc_oracle() -> None:
    from datalake_project_spark.queries import REGISTRY, QuerySpec
    from datalake_project_spark.queries.text import _stop_sql

    oracle = f"""
    WITH {_CLS_CTE},
    lab AS (SELECT doc_id, ({_stop_sql('en')}) >= 0.08 AS label FROM tok),
    j AS (SELECT c.prob >= 0.5 AS pred, l.label
          FROM cls c JOIN lab l USING (doc_id)),
    m AS (SELECT
        SUM(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS tp,
        SUM(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS tn,
        SUM(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS fn
        FROM j)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
           ROUND((tp + tn)::DOUBLE / (tp + fp + tn + fn), 6) AS accuracy,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE ROUND(2 * tp::DOUBLE / (2 * tp + fp + fn), 6)
           END AS f1,
           CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN NULL
                ELSE ROUND((tp * tn - fp * fn)::DOUBLE
                           / SQRT(((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn))
                                  ::DOUBLE), 6)
           END AS mcc
    FROM m
    """
    doc = (
        "Matthews correlation coefficient (plus accuracy/F1 and the raw "
        "confusion matrix) for the quality classifier at the 0.5 "
        "operating point, against the held-out stopword-ratio label. "
        "MCC is the single scalar that stays honest under class "
        "imbalance (it is the Pearson correlation of the binary "
        "pred/label vectors; accuracy and even F1 can look good on a "
        "skewed corpus-quality split, MCC cannot). All four cells are "
        "exact integers from ONE scan-aggregate — no per-row metric "
        "state — and the scalar derivations share the identical "
        "closed-form expression on both engines. Zero-margin "
        "denominators return NULL identically."
    )
    spec = REGISTRY["q_classifier_mcc"]
    REGISTRY["q_classifier_mcc"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_mcc_oracle()


# --------------------------------------------------------------------------
# PR-AUC (average precision) over the score histogram
# --------------------------------------------------------------------------

@register(
    "q_classifier_pr_auc",
    oracle=None,  # installed below — needs _stop_sql from queries.text
    doc="",
)
def q_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    j = _scored_labels(spark, sf_dir)
    hist = (j.groupBy("prob")
            .agg(F.count(F.when(F.col("label"), 1)).alias("pos"),
                 F.count(F.when(~F.col("label"), 1)).alias("neg")))
    # Descending-inclusive prefix sums, sharded exactly like
    # histogram_auc (per-shard window + broadcast cross-shard offsets
    # from HIGHER shards) — no single-partition WindowExec.
    hist = hist.withColumn("shard", F.floor(F.col("prob") * 10).cast("int"))
    w = (Window.partitionBy("shard").orderBy(F.desc("prob"))
         .rowsBetween(Window.unboundedPreceding, 0))
    intra = (hist
             .withColumn("tp_intra", F.sum("pos").over(w))
             .withColumn("fp_intra", F.sum("neg").over(w)))
    tot = hist.groupBy("shard").agg(F.sum("pos").alias("spos"),
                                    F.sum("neg").alias("sneg"))
    above = (tot.alias("a")
             .join(F.broadcast(tot.alias("b")),
                   F.col("b.shard") > F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.spos"), F.lit(0)).alias("tp_shards"),
                  F.coalesce(F.sum("b.sneg"), F.lit(0)).alias("fp_shards")))
    e = (intra.join(F.broadcast(above), "shard")
         .select("prob", "pos",
                 (F.col("tp_shards") + F.col("tp_intra")).alias("ctp"),
                 (F.col("fp_shards") + F.col("fp_intra")).alias("cfp")))
    p_tot = e.agg(F.sum("pos").alias("p"))
    return (e.crossJoin(F.broadcast(p_tot))
            .agg(F.first("p").cast("long").alias("n_pos"),
                 F.round(F.sum((F.col("pos") / F.col("p"))
                               * (F.col("ctp")
                                  / (F.col("ctp") + F.col("cfp")))), 6)
                 .alias("pr_auc")))


def _install_pr_auc_oracle() -> None:
    from datalake_project_spark.queries import REGISTRY, QuerySpec
    from datalake_project_spark.queries.text import _stop_sql

    oracle = f"""
    WITH {_CLS_CTE},
    lab AS (SELECT doc_id, ({_stop_sql('en')}) >= 0.08 AS label FROM tok),
    j AS (SELECT c.prob, l.label FROM cls c JOIN lab l USING (doc_id)),
    hist AS (SELECT prob,
                    COUNT(CASE WHEN label THEN 1 END) AS pos,
                    COUNT(CASE WHEN NOT label THEN 1 END) AS neg
             FROM j GROUP BY prob),
    r AS (SELECT prob, pos,
                 SUM(pos) OVER (ORDER BY prob DESC) AS ctp,
                 SUM(neg) OVER (ORDER BY prob DESC) AS cfp
          FROM hist),
    p_ AS (SELECT SUM(pos) AS p FROM hist)
    SELECT CAST(p AS BIGINT) AS n_pos,
           ROUND(SUM((pos::DOUBLE / p) * (ctp::DOUBLE / (ctp + cfp))), 6)
               AS pr_auc
    FROM r CROSS JOIN p_
    GROUP BY p
    """
    doc = (
        "PR-AUC (average precision, step interpolation — scikit-learn's "
        "average_precision_score definition: AP = sum_s dR(s) * P(s) "
        "descending over score thresholds) for the quality classifier "
        "against the stopword-ratio label. The right curve for rare-"
        "positive regimes (corpus quality triage, dedup candidate "
        "review) where ROC-AUC's false-positive axis saturates. Scores "
        "collapse to the same bounded 4-dp histogram as q_classifier_"
        "auc, and the descending cumulative TP/FP prefix uses the "
        "identical decile-sharded window + broadcast-offset pattern — "
        "no single-partition exchange; the corpus pays one scan."
    )
    spec = REGISTRY["q_classifier_pr_auc"]
    REGISTRY["q_classifier_pr_auc"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_pr_auc_oracle()


# --------------------------------------------------------------------------
# Simplified silhouette — internal clustering quality without pairwise cost
# --------------------------------------------------------------------------

@register(
    "q_embed_silhouette",
    oracle=_kmeans_cte(K_CLUSTERS, N_ITER) + f""",
    alld AS (
        SELECT e.vec_id, c.cluster, list_distance(e.v, c.cvec) AS dist
        FROM e CROSS JOIN c{N_ITER} c),
    sil AS (
        SELECT f.vec_id, f.cluster, f.dist AS a,
               (SELECT MIN(d2.dist) FROM alld d2
                WHERE d2.vec_id = f.vec_id
                  AND d2.cluster <> f.cluster) AS b
        FROM final f)
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                          ELSE (b - a) / GREATEST(a, b) END), 4) + 0.0
               AS mean_silhouette,
           CAST(SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT)
               AS n_well_placed
    FROM sil GROUP BY cluster ORDER BY cluster
    """,
    doc="Simplified silhouette (centroid-based: a = distance to own "
        "centroid, b = distance to the nearest OTHER centroid, "
        "s = (b-a)/max(a,b)) per k-means cluster — the internal "
        "clustering-quality score that, unlike the classical pairwise "
        "silhouette's O(n^2) distance matrix, costs one pass against k "
        "broadcast centroids and is the form libraries actually run at "
        "scale (e.g. Spark MLlib's ClusteringEvaluator). Shares the "
        "exact Lloyd trajectory (same CTE prefix / same lazy plan) "
        "with q_embed_kmeans and the purity eval, so the three metrics "
        "describe ONE clustering. n_well_placed counts s > 0 (closer "
        "to home than to any rival). Centroids are 6-dp-rounded each "
        "update (the kmeans determinism discipline), distances match "
        "to the 4-dp output rounding.",
)
def q_embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, cents = _kmeans_cents(spark, sf_dir)
    alld = (e.crossJoin(F.broadcast(cents))
            .select("vec_id", "cluster", _dist("v", "cvec").alias("dist")))
    best = (alld.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cluster")).alias("_m"))
            .select("vec_id", F.col("_m.cluster").alias("own"),
                    F.col("_m.dist").alias("a")))
    b = (alld.join(best, "vec_id")
         .where(F.col("cluster") != F.col("own"))
         .groupBy("vec_id", "own", "a").agg(F.min("dist").alias("b")))
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)) \
         .otherwise((F.col("b") - F.col("a")) / F.greatest("a", "b"))
    return (b.groupBy(F.col("own").alias("cluster"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 (F.round(F.avg(s), 4) + F.lit(0.0))
                 .alias("mean_silhouette"),
                 F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0))
                 .cast("long").alias("n_well_placed"))
            .orderBy("cluster"))


# --------------------------------------------------------------------------
# Cohen's kappa — chance-corrected agreement between two cheap labelers
# --------------------------------------------------------------------------

def _rater_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, r1, r2): the classifier's keep call (prob >= 0.5) and the
    heuristic quality call (score >= 0.5) on each document."""
    from datalake_project_spark.functions import text as T

    d = Catalog(spark, sf_dir).table("documents")
    cls = _classifier_scores(spark, sf_dir).select(
        "doc_id", (F.col("prob") >= 0.5).alias("r1"))
    qual = d.select(
        "doc_id",
        (F.round(T.quality_score(F.col("text"), T.tokens("text")), 4)
         >= 0.5).alias("r2"))
    return cls.join(qual, "doc_id")


@register(
    "q_stats_cohens_kappa",
    oracle=f"""
    WITH {_CLS_CTE},
    qual AS ({_QUAL_SQL}),
    j AS (SELECT (c.prob >= 0.5) AS r1, (q.quality >= 0.5) AS r2
          FROM cls c JOIN qual q USING (doc_id)),
    m AS (SELECT
        COUNT(*) AS n,
        SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS a,
        SUM(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS c,
        SUM(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END) AS d
        FROM j),
    k AS (SELECT n, a, b, c, d,
                 (a + d)::DOUBLE / n AS po,
                 ((a + b)::DOUBLE * (a + c) + (c + d)::DOUBLE * (b + d))
                     / (n::DOUBLE * n) AS pe
          FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(a AS BIGINT) AS both_keep,
           CAST(b AS BIGINT) AS only_classifier,
           CAST(c AS BIGINT) AS only_heuristic,
           CAST(d AS BIGINT) AS both_drop,
           ROUND(po, 6) AS observed_agreement,
           ROUND(pe, 6) AS chance_agreement,
           CASE WHEN pe = 1 THEN NULL
                ELSE ROUND((po - pe) / (1 - pe), 6) END AS kappa
    FROM k
    """,
    doc="Cohen's kappa between the engine's two cheap document labelers "
        "— the trained quality classifier (prob >= 0.5) and the "
        "closed-form quality heuristic (score >= 0.5) — the chance-"
        "corrected agreement statistic every label-quality audit runs "
        "before trusting weak supervision (raw agreement is inflated "
        "whenever both raters share a base rate; kappa subtracts the "
        "agreement two INDEPENDENT raters with these marginals would "
        "get for free). The 2x2 table is exact integers from one "
        "join-aggregate; po/pe/kappa share the identical closed-form "
        "double expression on both engines. Landis-Koch reading: "
        "kappa in [0.4, 0.6] = moderate — enough to cross-check, not "
        "enough to substitute one labeler for the other.",
)
def q_stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (_rater_pair(spark, sf_dir)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("r1") & F.col("r2"), 1).otherwise(0))
               .alias("a"),
              F.sum(F.when(F.col("r1") & ~F.col("r2"), 1).otherwise(0))
               .alias("b"),
              F.sum(F.when(~F.col("r1") & F.col("r2"), 1).otherwise(0))
               .alias("c"),
              F.sum(F.when(~F.col("r1") & ~F.col("r2"), 1).otherwise(0))
               .alias("d")))
    n = F.col("n").cast("double")
    po = (F.col("a") + F.col("d")) / n
    pe = ((F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
          + (F.col("c") + F.col("d")).cast("double")
          * (F.col("b") + F.col("d"))) / (n * n)
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.col("a").cast("long").alias("both_keep"),
        F.col("b").cast("long").alias("only_classifier"),
        F.col("c").cast("long").alias("only_heuristic"),
        F.col("d").cast("long").alias("both_drop"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.when(pe == 1, F.lit(None).cast("double"))
         .otherwise(F.round((po - pe) / (1 - pe), 6)).alias("kappa"))


# --------------------------------------------------------------------------
# McNemar's test — do the two labelers disagree SYSTEMATICALLY?
# --------------------------------------------------------------------------

@register(
    "q_stats_mcnemar",
    oracle=f"""
    WITH {_CLS_CTE},
    qual AS ({_QUAL_SQL}),
    j AS (SELECT (c.prob >= 0.5) AS r1, (q.quality >= 0.5) AS r2
          FROM cls c JOIN qual q USING (doc_id)),
    m AS (SELECT
        SUM(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS c
        FROM j)
    SELECT CAST(b AS BIGINT) AS only_classifier,
           CAST(c AS BIGINT) AS only_heuristic,
           CAST(b + c AS BIGINT) AS n_discordant,
           CASE WHEN b + c = 0 THEN NULL
                ELSE ROUND((ABS(b - c) - 1.0) * (ABS(b - c) - 1.0)
                           / (b + c), 4) END AS mcnemar_chi2,
           CASE WHEN b + c = 0 THEN NULL
                ELSE (ABS(b - c) - 1.0) * (ABS(b - c) - 1.0) / (b + c)
                     >= 3.8415 END AS biased_at_5pct
    FROM m
    """,
    doc="McNemar's test (continuity-corrected) on the two cheap "
        "labelers' discordant cells — the PAIRED companion to Cohen's "
        "kappa: kappa measures how much they agree, McNemar asks "
        "whether their DISagreements lean one way (a systematically "
        "stricter/looser labeler — marginal homogeneity), which is "
        "what decides if swapping labelers shifts the kept-corpus "
        "size. chi2 = (|b-c|-1)^2/(b+c) against the 3.84 critical "
        "value; only the two discordant integer cells matter, "
        "degenerate b+c = 0 yields NULL identically on both engines.",
)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (_rater_pair(spark, sf_dir)
         .agg(F.sum(F.when(F.col("r1") & ~F.col("r2"), 1).otherwise(0))
              .alias("b"),
              F.sum(F.when(~F.col("r1") & F.col("r2"), 1).otherwise(0))
              .alias("c")))
    b, c = F.col("b"), F.col("c")
    chi2 = (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c)
    return m.select(
        b.cast("long").alias("only_classifier"),
        c.cast("long").alias("only_heuristic"),
        (b + c).cast("long").alias("n_discordant"),
        F.when(b + c == 0, F.lit(None).cast("double"))
         .otherwise(F.round(chi2, 4)).alias("mcnemar_chi2"),
        F.when(b + c == 0, F.lit(None).cast("boolean"))
         .otherwise(chi2 >= 3.8415).alias("biased_at_5pct"))


# --------------------------------------------------------------------------
# F1 threshold sweep — picking the operating point from the histogram
# --------------------------------------------------------------------------

@register(
    "q_classifier_f1_sweep",
    oracle=None,  # installed below — needs _stop_sql from queries.text
    doc="",
)
def q_classifier_f1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (_scored_labels(spark, sf_dir)
            .groupBy("prob")
            .agg(F.count(F.when(F.col("label"), 1)).alias("pos"),
                 F.count(F.when(~F.col("label"), 1)).alias("neg"))
            .localCheckpoint(eager=False))
    th = local_df(spark, 
        [(0.3,), (0.4,), (0.5,), (0.6,), (0.7,)], "threshold double")
    cells = (hist.crossJoin(F.broadcast(th))
             .groupBy("threshold")
             .agg(F.sum(F.when(F.col("prob") >= F.col("threshold"),
                               F.col("pos")).otherwise(0)).alias("tp"),
                  F.sum(F.when(F.col("prob") >= F.col("threshold"),
                               F.col("neg")).otherwise(0)).alias("fp"),
                  F.sum(F.when(F.col("prob") < F.col("threshold"),
                               F.col("pos")).otherwise(0)).alias("fn")))
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0,
                F.lit(None).cast("double")) \
          .otherwise(F.round(2 * F.col("tp").cast("double")
                             / (2 * F.col("tp") + F.col("fp")
                                + F.col("fn")), 6))
    return (cells.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.when(F.col("tp") + F.col("fp") == 0,
               F.lit(None).cast("double"))
         .otherwise(F.round(F.col("tp").cast("double")
                            / (F.col("tp") + F.col("fp")), 6))
         .alias("precision"),
        F.when(F.col("tp") + F.col("fn") == 0,
               F.lit(None).cast("double"))
         .otherwise(F.round(F.col("tp").cast("double")
                            / (F.col("tp") + F.col("fn")), 6))
         .alias("recall"),
        f1.alias("f1"))
        .orderBy("threshold"))


def _install_f1_sweep_oracle() -> None:
    from datalake_project_spark.queries import REGISTRY, QuerySpec
    from datalake_project_spark.queries.text import _stop_sql

    oracle = f"""
    WITH {_CLS_CTE},
    lab AS (SELECT doc_id, ({_stop_sql('en')}) >= 0.08 AS label FROM tok),
    j AS (SELECT c.prob, l.label FROM cls c JOIN lab l USING (doc_id)),
    th AS (SELECT UNNEST([0.3, 0.4, 0.5, 0.6, 0.7]) AS threshold),
    cells AS (
        SELECT t.threshold,
               SUM(CASE WHEN j.prob >= t.threshold AND j.label
                        THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN j.prob >= t.threshold AND NOT j.label
                        THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN j.prob < t.threshold AND j.label
                        THEN 1 ELSE 0 END) AS fn
        FROM th t CROSS JOIN j GROUP BY t.threshold)
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE ROUND(tp::DOUBLE / (tp + fp), 6) END AS precision,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE ROUND(tp::DOUBLE / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE ROUND(2 * tp::DOUBLE / (2 * tp + fp + fn), 6)
           END AS f1
    FROM cells ORDER BY threshold
    """
    doc = (
        "Precision/recall/F1 sweep over five operating thresholds for "
        "the quality classifier — the table that PICKS the threshold "
        "the fixed-point metrics (q_classifier_mcc at 0.5, the "
        "PR-AUC's integral view) then characterize. All cells are "
        "conditional integer sums over the bounded 4-dp score "
        "histogram with the thresholds broadcast — one corpus pass, "
        "five operating points, no re-scoring per threshold (the "
        "session-gap-sweep pattern applied to a classifier)."
    )
    spec = REGISTRY["q_classifier_f1_sweep"]
    REGISTRY["q_classifier_f1_sweep"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_f1_sweep_oracle()


# --------------------------------------------------------------------------
# Bland–Altman agreement — comparing two measurements, not two classifiers
# --------------------------------------------------------------------------

@register(
    "q_stats_bland_altman",
    oracle=None,  # installed below — needs _stop_sql via _QUAL_SQL context
    doc="",
)
def q_stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4-dp scores scale to exact integer ten-thousandths: every sum
    # below is BIGINT-exact and summation-order-free.
    j = (_scored_quality(spark, sf_dir)
         .select((F.round(F.col("prob") * 10000)
                  - F.round(F.col("quality") * 10000))
                 .cast("long").alias("dd")))
    s = j.agg(F.count(F.lit(1)).alias("n"),
              F.sum("dd").alias("s1"),
              F.sum(F.col("dd") * F.col("dd")).alias("s2"))
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    sd = F.sqrt((F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1") / n)
                / (n - 1))
    lo, hi = mu - 1.96 * sd, mu + 1.96 * sd
    within = (j.crossJoin(F.broadcast(
        s.select(((F.col("s1").cast("double") / F.col("n"))
                  - 1.96 * F.sqrt((F.col("s2").cast("double")
                                   - F.col("s1").cast("double")
                                   * F.col("s1") / F.col("n"))
                                  / (F.col("n") - 1))).alias("lo2"),
                 ((F.col("s1").cast("double") / F.col("n"))
                  + 1.96 * F.sqrt((F.col("s2").cast("double")
                                   - F.col("s1").cast("double")
                                   * F.col("s1") / F.col("n"))
                                  / (F.col("n") - 1))).alias("hi2"))))
        .agg(F.sum(F.when(F.col("dd").between(F.col("lo2"),
                                              F.col("hi2")), 1)
                   .otherwise(0)).alias("n_within")))
    return (s.crossJoin(F.broadcast(within))
            .select(n.cast("long").alias("n"),
                    F.round(mu / 10000, 6).alias("bias"),
                    F.round(lo / 10000, 6).alias("loa_low"),
                    F.round(hi / 10000, 6).alias("loa_high"),
                    F.col("n_within").cast("long").alias("n_within_loa"),
                    F.round(F.col("n_within").cast("double") / n, 4)
                     .alias("pct_within")))


def _install_bland_altman_oracle() -> None:
    from datalake_project_spark.queries import REGISTRY, QuerySpec

    oracle = f"""
    WITH {_CLS_CTE},
    qual AS ({_QUAL_SQL}),
    j AS (SELECT CAST(ROUND(c.prob * 10000)
                      - ROUND(q.quality * 10000) AS BIGINT) AS dd
          FROM cls c JOIN qual q USING (doc_id)),
    s AS (SELECT COUNT(*) AS n, SUM(dd) AS s1, SUM(dd * dd) AS s2
          FROM j),
    m AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
                 SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                      / (n - 1)) AS sd
          FROM s),
    w AS (SELECT COUNT(*) AS n_within
          FROM j CROSS JOIN m
          WHERE dd BETWEEN mu - 1.96 * sd AND mu + 1.96 * sd)
    SELECT CAST(m.n AS BIGINT) AS n,
           ROUND(mu / 10000, 6) AS bias,
           ROUND((mu - 1.96 * sd) / 10000, 6) AS loa_low,
           ROUND((mu + 1.96 * sd) / 10000, 6) AS loa_high,
           CAST(w.n_within AS BIGINT) AS n_within_loa,
           ROUND(w.n_within::DOUBLE / m.n, 4) AS pct_within
    FROM m, w
    """
    doc = (
        "Bland-Altman agreement analysis between the trained quality "
        "classifier's probability and the closed-form quality "
        "heuristic as CONTINUOUS measurements — the method-comparison "
        "standard (medicine's answer to 'can instrument B replace "
        "instrument A'): bias = mean difference, 95% limits of "
        "agreement = bias +- 1.96 sd, and the share of documents "
        "whose disagreement stays inside the limits (~95% if the "
        "differences are roughly normal). Completes the labeler-"
        "comparison suite: kappa/McNemar compare the THRESHOLDED "
        "decisions, Bland-Altman compares the scores themselves. "
        "4-dp scores scale to integer ten-thousandths so every sum "
        "is BIGINT-exact; one pass for moments + one broadcast-"
        "limits recount."
    )
    spec = REGISTRY["q_stats_bland_altman"]
    REGISTRY["q_stats_bland_altman"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=oracle, doc=doc)


_install_bland_altman_oracle()


@register(
    "q_ml_decision_stump",
    oracle="""
    WITH lab AS (
        SELECT c.c_custkey, c.c_acctbal,
               CASE WHEN COALESCE(SUM(o.o_totalprice), 0) >= 150000
                    THEN 1 ELSE 0 END AS y
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    thr AS (SELECT unnest(range(-1000, 10500, 500))::DOUBLE AS t),
    split AS (
        SELECT t,
               SUM(CASE WHEN c_acctbal < t THEN 1 ELSE 0 END) AS nl,
               SUM(CASE WHEN c_acctbal < t THEN y ELSE 0 END) AS pl,
               SUM(CASE WHEN c_acctbal >= t THEN 1 ELSE 0 END) AS nr,
               SUM(CASE WHEN c_acctbal >= t THEN y ELSE 0 END) AS pr,
               COUNT(*) AS n, SUM(y) AS p
        FROM lab CROSS JOIN thr GROUP BY t),
    scored AS (
        SELECT t, nl, nr,
               ROUND((nl::DOUBLE / n)
                     * (2.0 * (CASE WHEN nl = 0 THEN 0
                               ELSE pl::DOUBLE / nl END)
                        * (1 - CASE WHEN nl = 0 THEN 0
                               ELSE pl::DOUBLE / nl END))
                   + (nr::DOUBLE / n)
                     * (2.0 * (CASE WHEN nr = 0 THEN 0
                               ELSE pr::DOUBLE / nr END)
                        * (1 - CASE WHEN nr = 0 THEN 0
                               ELSE pr::DOUBLE / nr END)), 6)
                   AS split_gini,
               ROUND(2.0 * (p::DOUBLE / n) * (1 - p::DOUBLE / n), 6)
                   AS parent_gini
        FROM split)
    SELECT t AS threshold, CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right, split_gini, parent_gini,
           ROUND(parent_gini - split_gini, 6) AS gain
    FROM scored
    ORDER BY split_gini ASC, t ASC LIMIT 1
    """,
    doc="DECISION STUMP learner: the best single acctbal threshold "
        "for predicting the heavy-buyer label (lifetime spend >= "
        "150k) by weighted Gini impurity over a fixed literal "
        "threshold grid (-1000..10000 step 500) — the depth-1 "
        "tree-induction primitive (and the split-finding inner loop "
        "of every gradient-boosted tree): candidate x threshold "
        "evaluation as ONE conditional-aggregate pass, argmin with a "
        "threshold tie-break. The grid is a 23-row broadcast, so the "
        "scan is read once with 23 conditional sums per row group — "
        "at 100 TB this is the histogram-based split search XGBoost/"
        "LightGBM run, with the bin boundaries as the grid. All "
        "impurities are ratios of integer counts, rounded at 6 dp.",
)
def q_ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    lab = (c.join(o, o["o_custkey"] == c["c_custkey"], "left")
           .groupBy("c_custkey", "c_acctbal")
           .agg(F.when(F.coalesce(F.sum("o_totalprice"), F.lit(0))
                       >= 150000, 1).otherwise(0).alias("y")))
    thr = local_df(spark, 
        [(float(t),) for t in range(-1000, 10500, 500)], "t double")
    left = F.col("c_acctbal") < F.col("t")
    split = (lab.crossJoin(F.broadcast(thr))
             .groupBy("t")
             .agg(F.sum(F.when(left, 1).otherwise(0)).alias("nl"),
                  F.sum(F.when(left, F.col("y")).otherwise(0))
                  .alias("pl"),
                  F.sum(F.when(~left, 1).otherwise(0)).alias("nr"),
                  F.sum(F.when(~left, F.col("y")).otherwise(0))
                  .alias("pr"),
                  F.count(F.lit(1)).alias("n"),
                  F.sum("y").alias("p")))

    def gini(pos, tot):
        frac = F.when(tot == 0, 0.0).otherwise(
            pos.cast("double") / tot.cast("double"))
        return 2.0 * frac * (1 - frac)

    split_gini = F.round(
        (F.col("nl").cast("double") / F.col("n")) * gini(F.col("pl"),
                                                         F.col("nl"))
        + (F.col("nr").cast("double") / F.col("n")) * gini(F.col("pr"),
                                                           F.col("nr")),
        6)
    parent = F.round(gini(F.col("p"), F.col("n")), 6)
    return (split
            .select(F.col("t").alias("threshold"),
                    F.col("nl").cast("long").alias("n_left"),
                    F.col("nr").cast("long").alias("n_right"),
                    split_gini.alias("split_gini"),
                    parent.alias("parent_gini"),
                    F.round(parent - split_gini, 6).alias("gain"))
            .orderBy(F.asc("split_gini"), F.asc("threshold")).limit(1))
