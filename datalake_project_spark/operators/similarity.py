"""Similarity search over embedding columns (`array<float>`).

Two paths, same output contract (query_id, neighbor_id, rank [, cos_sim]):

- ``cosine_topk``: exact brute force. The small query set is broadcast
  against the candidate table, so the big side is never shuffled — each
  scan partition scores its local candidates, and TakeOrdered/top-k per
  query happens after a window on the (tiny) query-id key space.
  Right answer up to ~millions x thousands; the correctness baseline.

- ``hyperplane_bucketed_pairs`` / ``cosine_topk_lsh``: random-hyperplane
  LSH. Signatures are sign-bit longs computed in codegen; candidates are
  generated by multi-probe bucket equality (hamming-0 on sub-bands), then
  scored exactly. At 100 TB this turns O(n*q) into O(bucket collisions).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.functions.vectors import (
    cosine, hyperplane_signature_vectorized,
)


def _rank_by_cosine(cands: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): the ``k`` candidates of each
    query with the highest cosine(_qv, _cv), ties to the lower id."""
    scored = cands.withColumn("cos_sim", cosine(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def cosine_topk(queries: DataFrame, candidates: DataFrame, k: int = 5,
                query_id: str = "vec_id", cand_id: str = "vec_id",
                vec_col: str = "embedding", exclude_self: bool = True) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (brute force).

    Deterministic ranking: (cosine DESC, neighbor_id ASC) tie-break.
    """
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = candidates.select(F.col(cand_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    return _rank_by_cosine(joined, k)


def cosine_range(queries: DataFrame, candidates: DataFrame,
                 threshold: float, query_id: str = "vec_id",
                 cand_id: str = "vec_id", vec_col: str = "embedding",
                 exclude_self: bool = True, round_dp: int = 6) -> DataFrame:
    """Radius (range) search: EVERY candidate with cosine >= threshold
    per query vector — the fixed-radius companion to :func:`cosine_topk`
    (top-k answers "closest k", range answers "all within tau"; near-dup
    audit thresholds and recall@radius evals want the latter).

    Same scan-side shape as cosine_topk: the bounded query set is
    broadcast, each candidate partition scores locally in codegen, and
    the threshold filter runs AT THE SCAN — no window, no shuffle at
    all, because range search has no per-query ranking step. Result
    size is data-dependent (unlike top-k), so callers at 100 TB pair a
    tau with a df-cap audit the way the dedup valves do.

    The filter compares the ROUNDED score (HALF-UP at ``round_dp``) so
    an engine-vs-oracle ulp wobble at the tau boundary cannot flip
    membership: both sides round first, then compare.
    """
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
    c = candidates.select(F.col(cand_id).alias("neighbor_id"),
                          F.col(vec_col).alias("_cv"))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn(
        "cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), round_dp))
    return (scored.where(F.col("cos_sim") >= threshold)
            .select("query_id", "neighbor_id", "cos_sim"))


# Hard ceiling on the driver-collected probe matrix (~30 MB at dim=384
# float64). Module-level so tests can patch it; callers with larger
# probe sets belong on the IVF/LSH lanes.
_ARROW_KNN_MAX_PROBES = 10_000


def _arrow_knn(queries: DataFrame, candidates: DataFrame, k: int,
               query_id: str, cand_id: str, vec_col: str,
               exclude_self: bool, distance: bool = False,
               round_dp: int | None = None) -> DataFrame:
    """Shared Arrow-batch brute-force kNN kernel.

    The bounded probe set (<= a few hundred vectors by contract) is
    collected, L2-normalized into one numpy matrix, and closed over by a
    ``mapInPandas`` scorer: each Arrow batch of candidates becomes ONE
    BLAS matmul ``(batch x dim) @ (dim x n_queries)`` instead of
    batch x n_queries per-row ``F.aggregate`` folds — the ~10x lane for
    the 100 TB scan side. Each batch emits only its local top-k per
    query (never the full batch x q score matrix), so post-UDF rows are
    n_batches x q x k — a final tiny window reduces those to the global
    top-k. Global result is EXACTLY the brute-force answer: top-k is
    monotone, so the global winners are a subset of every batch's local
    winners.

    ``distance=True`` scores ``1 - cos`` ranked ascending;
    ``round_dp`` rounds the score HALF-UP *before* ranking (the
    ulp-safe argmax discipline q_embed_intrinsic_dimension pins).
    Ties break on neighbor id ascending in both the batch-local
    lexsort and the final window, matching :func:`cosine_topk`.

    The probe side MUST be small — it is collected to the driver and
    broadcast (via closure) to every task as a dense matrix. The
    ``max_probes`` cap (default 10k ~ 30 MB at dim=384 float64) is
    enforced with ``limit(max_probes + 1)`` so an oversized probe
    DataFrame fails fast with a clear error instead of silently
    OOM-ing the driver; callers with genuinely larger probe sets
    should block via IVF/LSH (below) or swap the sides.

    HALF-UP caveat: ``round_dp`` emulates JVM ``F.round`` via
    ``floor(x*10^dp + 0.5)/10^dp``. JVM rounds the double's shortest
    decimal form through BigDecimal HALF_UP, so a score whose scaled
    value sits within one ulp of an exact .5 boundary can round the
    other way here. Cosines of real-valued embeddings land on exact
    .5*10^-dp boundaries with probability ~0 (and never in the test
    fixtures, which pin equality against the codegen twin); if exact
    JVM parity at boundaries were ever required, route through
    ``decimal.Decimal(...).quantize(ROUND_HALF_UP)`` per element.
    """
    max_probes = _ARROW_KNN_MAX_PROBES
    qrows = (queries.select(F.col(query_id).alias("qid"),
                            F.col(vec_col).alias("qv"))
             .where(F.col("qv").isNotNull())
             .limit(max_probes + 1).collect())
    if len(qrows) > max_probes:
        raise ValueError(
            f"_arrow_knn probe side exceeds {max_probes} vectors; the "
            "probe matrix is driver-collected and closure-broadcast, so "
            "large probe sets must use the IVF/LSH lanes or swap sides")
    qtype = queries.schema[query_id].dataType.simpleString()
    ctype = candidates.schema[cand_id].dataType.simpleString()
    score_col = "dist" if distance else "cos_sim"
    out_schema = f"query_id {qtype}, neighbor_id {ctype}, {score_col} double"

    if not qrows:  # empty probe set -> empty result, typed like the output
        empty = (F.lit(None).cast(qtype).alias("query_id"),
                 F.lit(None).cast(ctype).alias("neighbor_id"),
                 F.lit(None).cast("double").alias(score_col),
                 F.lit(None).cast("int").alias("rank"))
        return candidates.limit(0).select(*empty)

    qids = [r["qid"] for r in qrows]
    qmat = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    qn = qmat / np.maximum(
        np.linalg.norm(qmat, axis=1, keepdims=True), 1e-30)
    qid_arr = np.asarray(qids)

    import pandas as pd  # arrow batches arrive as pandas

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["_cv"]])
            cn = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-30)
            sims = cn @ qn.T  # (batch, n_queries)
            nid = pdf["neighbor_id"].to_numpy()
            if distance:
                score = 1.0 - sims
            else:
                score = sims
            if round_dp is not None:
                # HALF-UP (JVM F.round semantics), not numpy's
                # half-to-even; scores here are >= ~-1ulp so the
                # floor(x*10^dp + 0.5) form is exact HALF-UP.
                p = 10.0 ** round_dp
                score = np.floor(score * p + 0.5) / p
            out_q, out_n, out_s = [], [], []
            for j in range(len(qids)):
                s = score[:, j]
                keep = np.ones(len(s), dtype=bool)
                if exclude_self:
                    keep &= nid != qid_arr[j]
                if not keep.any():
                    continue
                s_j, n_j = s[keep], nid[keep]
                key = s_j if distance else -s_j
                idx = np.lexsort((n_j, key))[:k]
                out_q.extend([qids[j]] * len(idx))
                out_n.extend(n_j[idx])
                out_s.extend(s_j[idx])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n,
                     score_col: out_s})

    # null embeddings can't enter the matmul (the codegen twin scores
    # them null, which desc-sorts last and never reaches top-k anyway)
    c = (candidates.select(F.col(cand_id).alias("neighbor_id"),
                           F.col(vec_col).alias("_cv"))
         .where(F.col("_cv").isNotNull()))
    local = c.mapInPandas(score_batches, schema=out_schema)
    order = ([F.asc(score_col), F.asc("neighbor_id")] if distance
             else [F.desc(score_col), F.asc("neighbor_id")])
    w = Window.partitionBy("query_id").orderBy(*order)
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def cosine_topk_arrow(queries: DataFrame, candidates: DataFrame, k: int = 5,
                      query_id: str = "vec_id", cand_id: str = "vec_id",
                      vec_col: str = "embedding",
                      exclude_self: bool = True) -> DataFrame:
    """Exact top-k cosine neighbors — Arrow/BLAS lane.

    Same output contract and deterministic (cos DESC, id ASC) ranking as
    :func:`cosine_topk`; the scan side is scored one matmul per Arrow
    batch instead of one ``F.aggregate`` fold per row.
    """
    return (_arrow_knn(queries, candidates, k, query_id, cand_id, vec_col,
                       exclude_self)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cos_sim", 6).alias("cos_sim")))


def quantize_int8(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)``. Returns (id, qvec, scale).

    Storage/shuffle compression for the ANN path: ~4x smaller vector
    payloads (int8 elements + one float scale vs float32 elements). At
    100 TB the embedding bytes ARE the shuffle/scan cost, so int8 is the
    standard first rung before product quantization. Pure codegen
    expressions — no Python, no UDF.
    """
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-30))
    return emb.select(
        F.col(id_col),
        F.transform(v, lambda x: F.round(x / scale).cast("int")).alias("qvec"),
        scale.cast("float").alias("scale"),
    )


def dequantize(qz: DataFrame, id_col: str = "vec_id",
               out_col: str = "embedding") -> DataFrame:
    """Reconstruct ``array<float>`` vectors from (qvec, scale) — the read
    path of the quantized store; feeds any exact/ANN scorer unchanged."""
    deq = F.transform("qvec", lambda x: (x.cast("float") * F.col("scale")).cast("float"))
    return qz.select(F.col(id_col), deq.alias(out_col))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def cosine_topk_lsh(queries: DataFrame, candidates: DataFrame, k: int = 5,
                    query_id: str = "vec_id", cand_id: str = "vec_id",
                    vec_col: str = "embedding", dim: int = 64,
                    n_planes: int = 16, bands: int = 4, seed: int = 42,
                    exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: LSH-bucketed candidate generation, exact rescoring.

    The signature's ``n_planes`` sign bits are split into ``bands``
    sub-bands; a candidate is considered when it matches the query on at
    least one full sub-band (multi-probe union). Candidates are scored
    with the exact cosine, so precision is exact; recall depends on the
    S-curve of (n_planes/bands)-bit collisions.
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    band_size = n_planes // bands
    sig_udf = hyperplane_signature_vectorized(planes)

    def with_bands(df: DataFrame, idc: str, alias_id: str) -> DataFrame:
        """(id, band) only — candidate generation shuffles 16-byte rows,
        never the vectors themselves."""
        sig = sig_udf(F.col(vec_col))
        band_cols = [
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(sig, i * band_size)
                 .bitwiseAND(F.lit((1 << band_size) - 1)).alias("h"),
            )
            for i in range(bands)
        ]
        return df.select(F.col(idc).alias(alias_id),
                         F.explode(F.array(*band_cols)).alias("_band"))

    qb = with_bands(queries, query_id, "query_id")
    cb = with_bands(candidates, cand_id, "neighbor_id")
    pairs = (
        qb.join(cb, qb["_band"] == cb["_band"])
        .select("query_id", "neighbor_id")
        .distinct()
    )
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    # vectors re-attached only for the surviving pairs: broadcast the
    # (small) query side, one hash join on the candidate side
    qv = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    cv = candidates.select(F.col(cand_id).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    cands = pairs.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    return _rank_by_cosine(cands, k)


def _l2_normalized(df: DataFrame, idc: str, out_id: str, out_vec: str,
                   vec_col: str) -> DataFrame:
    """(id, unit-norm double vector) projection — cosine becomes dot."""
    v = F.col(vec_col)
    norm_expr = F.sqrt(F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    return df.select(
        F.col(idc).alias(out_id),
        F.transform(v, lambda x: x.cast("double") / norm_expr).alias(out_vec),
    )


def _fit_coarse_quantizer(cand_ml: DataFrame, id_col: str, n_clusters: int,
                          seed: int):
    """KMeans coarse quantizer on a deterministic hash-sample (~64 points
    per cell). Cells need to be roughly balanced, not converged."""
    from pyspark.ml.clustering import KMeans

    n = cand_ml.count()
    mod = max(1, n // (n_clusters * 64))
    fit_df = (cand_ml.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
              if mod > 1 else cand_ml)
    return KMeans(k=n_clusters, seed=seed, maxIter=5, initMode="random",
                  featuresCol="_features", predictionCol="_cell").fit(fit_df)


def build_ivf_index(candidates: DataFrame, index_path: str,
                    cand_id: str = "vec_id", vec_col: str = "embedding",
                    n_clusters: int = 16, seed: int = 42) -> None:
    """BUILD step of the IVF index — run once, reuse for every probe.

    Persists two artifacts under ``index_path``:
    - ``cells/``: the candidate vectors (unit-normalized), written
      ``partitionBy("cell")`` — a probe of ``n_probe`` cells is a
      partition-pruned scan reading n_probe/n_clusters of the data;
    - ``centroids/``: the (tiny) quantizer centroid table.

    At 100 TB this is the one-time indexing job (quantizer trains on a
    hash-sample, assignment is a single map pass, the write is the only
    shuffle); queries then never touch the unindexed table.
    """
    from pyspark.ml.functions import array_to_vector

    cand_n = _l2_normalized(candidates, cand_id, "neighbor_id", "_cv", vec_col)
    cand_ml = cand_n.withColumn("_features", array_to_vector("_cv"))
    model = _fit_coarse_quantizer(cand_ml, "neighbor_id", n_clusters, seed)
    (model.transform(cand_ml)
     .select("neighbor_id", "_cv", F.col("_cell").alias("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{index_path}/cells"))
    centroids = candidates.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, _centroid array<double>")
    centroids.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")


def _nearest_cells(queries: DataFrame, centroids: DataFrame, query_id: str,
                   vec_col: str, n_probe: int) -> DataFrame:
    """(query_id, _qv, cell, ...): each L2-normalized query beside its
    ``n_probe`` nearest (cell, _centroid) rows, ties to the lower cell."""
    q_n = _l2_normalized(queries, query_id, "query_id", "_qv", vec_col)
    qd = (q_n.crossJoin(F.broadcast(centroids))
          .withColumn("_dist", F.sqrt(F.aggregate(
              F.zip_with("_qv", "_centroid", lambda a, b: (a - b) * (a - b)),
              F.lit(0.0), lambda acc, x: acc + x))))
    wp = Window.partitionBy("query_id").orderBy(F.asc("_dist"), F.asc("cell"))
    return (qd.withColumn("_pr", F.row_number().over(wp))
            .where(F.col("_pr") <= n_probe))


def _top_k_candidates(cands: DataFrame, k: int,
                      exclude_self: bool) -> DataFrame:
    """Exact top-k of (query_id, _qv, neighbor_id, _cv) candidate rows:
    vectors are unit-norm, so cosine == dot; a pair reached through
    several cells counts once."""
    if exclude_self:
        cands = cands.where(F.col("query_id") != F.col("neighbor_id"))
    scored = cands.withColumn(
        "cos_sim",
        F.aggregate(F.zip_with("_qv", "_cv", lambda a, b: a * b),
                    F.lit(0.0), lambda acc, x: acc + x))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def ivf_probe(queries: DataFrame, index_path: str, k: int = 5,
              query_id: str = "vec_id", vec_col: str = "embedding",
              n_probe: int = 4, exclude_self: bool = True) -> DataFrame:
    """PROBE step against a persisted IVF index: rank each query's
    ``n_probe`` nearest cells against the broadcast centroid table, scan
    ONLY those cell partitions (partition pruning on the ``cell``
    partition column — verified in tests/test_scale.py), score exactly.
    """
    spark = queries.sparkSession
    centroids = spark.read.parquet(f"{index_path}/centroids")

    probes = (_nearest_cells(queries, centroids, query_id, vec_col, n_probe)
              .select("query_id", "_qv", "cell"))

    # the probe cell set is tiny (n_queries x n_probe); pushing it as an
    # IN-filter on the partition column prunes the cells/ scan to just
    # those directories before the join
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    cells = (spark.read.parquet(f"{index_path}/cells")
             .where(F.col("cell").isin(probe_cells)))

    cands = probes.join(cells, "cell")
    return _top_k_candidates(cands, k, exclude_self)


def cosine_topk_ivf(queries: DataFrame, candidates: DataFrame, k: int = 5,
                    query_id: str = "vec_id", cand_id: str = "vec_id",
                    vec_col: str = "embedding", n_clusters: int = 16,
                    n_probe: int = 4, seed: int = 42,
                    exclude_self: bool = True) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning: a KMeans
    coarse quantizer assigns every candidate to a centroid cell; each
    query probes only its ``n_probe`` nearest cells and scores those
    candidates exactly.

    The 100 TB shape: the quantizer trains once on a sample, cell
    assignment is a single map pass, and the candidate table can be
    WRITTEN partitioned by cell — a probe then reads n_probe/n_clusters
    of the data (partition pruning on the cell column), with no shuffle
    at query time beyond the (tiny) per-query top-k. Vectors are
    L2-normalized before clustering so euclidean cells respect cosine
    geometry.
    """
    from pyspark.ml.functions import array_to_vector

    cand_n = _l2_normalized(candidates, cand_id, "neighbor_id", "_cv", vec_col)
    cand_ml = cand_n.withColumn("_features", array_to_vector("_cv"))
    model = _fit_coarse_quantizer(cand_ml, "neighbor_id", n_clusters, seed)
    cells = model.transform(cand_ml).select("neighbor_id", "_cv", "_cell")

    # centroid table is tiny: broadcast to rank each query's probe cells
    centroids = queries.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, _centroid array<double>")

    probes = (_nearest_cells(queries, centroids, query_id, vec_col, n_probe)
              .select("query_id", "_qv", F.col("cell").alias("_cell")))

    cands = probes.join(cells, "_cell")
    return _top_k_candidates(cands, k, exclude_self)


def block_pairwise_cosine(emb: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.5,
                          block_rows: int = 1024) -> DataFrame:
    """Exact all-pairs cosine >= threshold via block-matrix products.

    The scalable formulation of exact pairwise similarity: vectors are
    hashed into ~``block_rows``-sized blocks, blocks are cross-joined with
    ``a.bid <= b.bid`` (upper triangle), and each block pair is ONE task
    that runs a single numpy matmul over Arrow-transferred batches. For n
    vectors this is n^2/(2*block_rows^2) tasks of dense BLAS work — the
    per-pair cost is ~100x below a per-row higher-order-function plan, and
    the shuffle volume is n/block_rows block payloads, not n^2 pairs.

    Output: (a_id, b_id, cos_sim) with a_id < b_id, cos_sim rounded to 4.
    """
    import pandas as pd

    n = emb.count()
    n_blocks = max(1, -(-n // block_rows))

    tagged = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_bid"),
    )
    blocks = tagged.groupBy("_bid").agg(
        F.collect_list(F.struct("_id", "_v")).alias("_items"))

    a = blocks.select(F.col("_bid").alias("a_bid"), F.col("_items").alias("a_items"))
    b = blocks.select(F.col("_bid").alias("b_bid"), F.col("_items").alias("b_items"))
    paired = a.join(b, F.col("a_bid") <= F.col("b_bid"))
    # one block pair per task: the matmul is the unit of parallelism
    paired = paired.repartition(max(n_blocks * (n_blocks + 1) // 2, 1))

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                ids_a = np.array([it["_id"] for it in row["a_items"]], dtype=np.int64)
                mat_a = np.array([it["_v"] for it in row["a_items"]], dtype=np.float64)
                ids_b = np.array([it["_id"] for it in row["b_items"]], dtype=np.int64)
                mat_b = np.array([it["_v"] for it in row["b_items"]], dtype=np.float64)
                mat_a /= np.linalg.norm(mat_a, axis=1, keepdims=True)
                mat_b /= np.linalg.norm(mat_b, axis=1, keepdims=True)
                sims = mat_a @ mat_b.T
                ai, bi = np.nonzero(sims >= threshold)
                ia, ib = ids_a[ai], ids_b[bi]
                if row["a_bid"] == row["b_bid"]:
                    # diagonal block: every unordered pair appears twice
                    # ((x,y) and (y,x)) — keep the oriented half only.
                    keep = ia < ib
                    lo, hi, cs = ia[keep], ib[keep], sims[ai, bi][keep]
                else:
                    # off-diagonal: each unordered pair appears exactly once
                    # (blocks are disjoint) — orient, never drop.
                    lo, hi, cs = np.minimum(ia, ib), np.maximum(ia, ib), sims[ai, bi]
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cs)
            if out_a:
                yield pd.DataFrame({
                    "a_id": np.concatenate(out_a),
                    "b_id": np.concatenate(out_b),
                    "cos_sim": np.round(np.concatenate(out_c), 4),
                })

    return paired.mapInPandas(score, "a_id long, b_id long, cos_sim double")
