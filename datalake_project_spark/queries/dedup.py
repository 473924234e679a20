"""Deduplication queries over `documents` (and `lineitem` for keyed dedup).

The brute-force DuckDB oracle (list_intersect Jaccard over all pairs)
checks BOTH the exact inverted-index implementation and the MinHash-LSH
implementation: LSH candidates are exact-verified, so if recall is 1 on
the fixture (planted near-dups at J >= 0.8 vs background < 0.1, and the
16-band/4-row S-curve misses a J=0.8 pair with p ~= 2e-4) the outputs are
identical. SimHash has no SQL-expressible oracle (xxhash64) -> rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark import tuning
from datalake_project_spark.catalog import Catalog
from datalake_project_spark.operators import dedup as D
from datalake_project_spark.queries import local_df, register

_PAIRS_ORACLE = """
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles)))::DOUBLE, 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
          (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5
"""



# Every shingle-pair exchange is sized from the documents footprint: the
# sum-df² pair stream's working set runs ~45x the parquet bytes (the 30x
# ladder measured 3.8 GB spill in the unsized truth arms).
_PAIR_EXPANSION = 48


def _pair_width(spark: SparkSession, sf_dir: str,
                target_bytes: int | None = None) -> int:
    """Width of a shingle-pair exchange over ``sf_dir``'s documents."""
    return tuning.width(
        spark, "jvm_shuffle",
        _PAIR_EXPANSION * tuning.dir_bytes(f"{sf_dir}/documents.parquet"),
        target_bytes=target_bytes)


def _near_dup_pairs(docs: DataFrame, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs (shingle Jaccard >= 0.5) among ``docs``, the
    pair exchanges sized from the fixture's documents footprint."""
    return D.ngram_jaccard_pairs(
        docs, threshold=0.5,
        num_partitions=_pair_width(docs.sparkSession, sf_dir))


def _near_dup_clusters(docs: DataFrame, sf_dir: str) -> DataFrame:
    """(id, rep): each near-duplicate cluster of ``docs`` labelled by its
    minimum doc id; documents without a near duplicate are absent."""
    return D.connected_components(_near_dup_pairs(docs, sf_dir))


@register(
    "q_dedup_exact",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
    FROM (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey,
                                             l_suppkey, l_quantity) AS rn
          FROM lineitem) t
    WHERE rn = 1
    """,
    doc="Exact keyed dedup: deterministic keep-first per key (row_number "
        "over a TOTAL order — NOT dropDuplicates, which keeps an "
        "arbitrary row and is irreproducible across cluster sizes; the "
        "fixture has duplicate (orderkey, linenumber) pairs, so every "
        "remaining column joins the tie-break).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).table("lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    return D.dedup_exact(li, keys=["l_orderkey"],
                         order_by=[F.asc("l_linenumber"), F.asc("l_partkey"),
                                   F.asc("l_suppkey"), F.asc("l_quantity")])


@register(
    "q_dedup_exact_text",
    oracle="""
    SELECT lower(text) AS text_norm, MIN(doc_id) AS rep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY lower(text)
    """,
    doc="Exact content dedup by normalized text hash-groupBy: group "
        "identical texts, keep min doc_id as representative.",
)
def q_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return (
        d.groupBy(F.lower("text").alias("text_norm"))
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=_PAIRS_ORACLE,
    doc="Exact near-dup pairs by 3-gram Jaccard >= 0.5 via inverted "
        "shingle index (explode -> self-join on shingle -> pair counts): "
        "cost ~ sum(shingle_df^2), never the n^2 cross product.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return _near_dup_pairs(d, sf_dir)


@register(
    "q_dedup_containment",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3)
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                 len(a.shingles)::DOUBLE, 4) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
          len(a.shingles)::DOUBLE >= 0.8
    """,
    doc="Directed shingle-containment pairs C(A in B) = |A∩B|/|A| >= "
        "0.8 — the asymmetric dedup signal that catches a small "
        "document embedded in a larger one (excerpt reposts, "
        "page-in-site), which symmetric Jaccard misses because the "
        "union is dominated by the big side. Same inverted-index plan "
        "and Σ df² cost as the Jaccard query.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return D.ngram_containment_pairs(d, threshold=0.8)


@register(
    "q_dedup_minhash_lsh",
    oracle=_PAIRS_ORACLE,
    doc="MinHash (64 perms) + banded LSH (16 bands x 4 rows, S-curve "
        "threshold ~0.5) with exact verification of candidates. Same "
        "output contract as the exact query; the oracle doubles as a "
        "recall check.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return D.minhash_lsh_pairs(d, threshold=0.5)


@register(
    "q_dedup_simhash",
    oracle=None,  # xxhash64-based signature not reproducible in SQL
    doc="SimHash near-dup pairs (hamming <= 3 of 64-bit signatures); "
        "pigeonhole 4-chunk bucketing gives perfect recall for d <= 3. "
        "Rows-only ONLY because the production hash (xxhash64) is "
        "deliberately SQL-opaque; the mechanism is fully value-checked "
        "by the portable twin q_dedup_simhash_portable and the recall "
        "invariant by q_dedup_simhash_recall.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return D.simhash_pairs(d, max_hamming=3)


@register(
    "q_dedup_simhash_recall",
    oracle="""
    WITH groups AS (
        SELECT lower(text) AS t, COUNT(*) AS n
        FROM documents
        WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
        GROUP BY lower(text) HAVING COUNT(*) > 1)
    SELECT CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_exact_pairs,
           CAST(COALESCE(SUM(n * (n - 1) / 2), 0) AS BIGINT) AS n_caught,
           TRUE AS recall_is_1
    FROM groups
    """,
    doc="End-to-end recall check for the SimHash pipeline: every "
        "exact-duplicate pair (identical normalized text) has identical "
        "token sets, hence identical signatures (hamming 0 <= 3), so the "
        "pigeonhole bucketing MUST emit it — recall vs exact dups is "
        "provably 1.0. The Spark side runs the full simhash_pairs "
        "operator and counts how many exact-dup pairs it actually caught; "
        "the oracle computes the exact-dup pair count from the data. Any "
        "bucketing/signature/join defect that drops pairs breaks the "
        "match. (A jaccard-based floor would be dishonest: hamming<=3 on "
        "64-bit signatures is far stricter than J>=0.8.)",
)
def q_dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # mirror the operator's implicit filter: docs whose text yields zero
    # tokens get no signature (explode of an empty array), so they can't
    # appear in ANY pair — exclude them from the exact-pair base too, or
    # two identical punctuation-only docs would flip recall_is_1 false.
    from datalake_project_spark.functions.text import tokens
    norm = (d.where(F.size(tokens("text")) > 0)
            .select("doc_id", F.lower("text").alias("_t")))
    a, b = norm.alias("a"), norm.alias("b")
    exact_pairs = (
        a.join(b, (F.col("a._t") == F.col("b._t"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    caught = exact_pairs.join(
        D.simhash_pairs(d, max_hamming=3).select("a_id", "b_id"),
        ["a_id", "b_id"])
    n_exact = exact_pairs.count()
    n_caught = caught.count()
    return local_df(spark, 
        [(n_exact, n_caught, bool(n_exact == n_caught))],
        "n_exact_pairs long, n_caught long, recall_is_1 boolean")


@register(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.5
    """,
    doc="Embedding-cosine near-dup pairs (threshold 0.5), exact, via "
        "block-matrix products: one numpy matmul per block pair over "
        "Arrow batches — ~70x faster than a per-pair expression join and "
        "the formulation that scales (task = block pair, shuffle = block "
        "payloads not n^2 pairs).",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.similarity import block_pairwise_cosine
    e = Catalog(spark, sf_dir).table("embeddings")
    return block_pairwise_cosine(e, threshold=0.5)


@register(
    "q_dedup_components",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u)
    SELECT u AS id, LEAST(u, MIN(v)) AS rep
    FROM reach GROUP BY u
    """,
    doc="Duplicate-cluster resolution: connected components over the "
        "near-dup pair graph (min-label propagation, one join + one "
        "min-agg per round) -> (id, rep) canonical representative per "
        "cluster. The oracle recomputes components via a recursive-CTE "
        "transitive closure over the exact-Jaccard pairs.",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return _near_dup_clusters(d, sf_dir)


@register(
    "q_dedup_cluster_sizes",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u),
    sizes AS (SELECT rep, COUNT(*) AS cluster_size FROM comp GROUP BY rep)
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removable
    FROM sizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size histogram: how many near-dup clusters of "
        "each size the corpus contains and how many documents dedup "
        "resolution would remove (size - 1 per cluster) — the corpus-"
        "health dashboard number that decides whether a dedup pass is "
        "worth its cost at 100 TB. Two cheap aggregates over the "
        "components output.",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    comp = _near_dup_clusters(d, sf_dir)
    sizes = comp.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum(F.col("cluster_size") - 1).cast("long")
                 .alias("docs_removable")))


@register(
    "q_dedup_ngram_jaccard_capped",
    oracle=_PAIRS_ORACLE,
    doc="The df-capped variant of the inverted-index near-dup join "
        "(max_df=50): heavy-hitter shingles are dropped from the "
        "CANDIDATE index (the sum-df^2 skew valve for boilerplate at "
        "corpus scale), surviving pairs re-verified on full shingle "
        "sets. Same oracle as the exact query — a pass proves the cap "
        "loses no pairs and changes no values on this corpus.",
)
def q_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return D.ngram_jaccard_pairs(d, threshold=0.5, max_df=50,
                                 num_partitions=_pair_width(spark, sf_dir))


@register(
    "q_dedup_incremental",
    oracle="""
    WITH batch AS (SELECT * FROM documents WHERE doc_id % 5 = 4),
    corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 4),
    words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    near_hits AS (
        SELECT b.doc_id
        FROM sh b JOIN sh c
          ON b.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
        WHERE len(list_intersect(b.shingles, c.shingles))::DOUBLE /
              (len(b.shingles) + len(c.shingles)
               - len(list_intersect(b.shingles, c.shingles)))::DOUBLE >= 0.5)
    SELECT b.doc_id
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c
                      WHERE lower(c.text) = lower(b.text))
      AND NOT EXISTS (SELECT 1 FROM near_hits nh WHERE nh.doc_id = b.doc_id)
    """,
    doc="INCREMENTAL dedup: the daily-batch operation at corpus scale — "
        "new documents (doc_id %% 5 = 4) are admitted only if they have "
        "no exact text match and no 3-gram-Jaccard >= 0.5 near-dup in "
        "the EXISTING corpus. Exact pass = hash semi-join; near pass = "
        "cross-index inverted join (batch index x corpus index, so "
        "corpus-corpus pairs are never recomputed and the batch side "
        "broadcasts at scale); survivors via two anti-joins.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    batch = d.where(F.col("doc_id") % 5 == 4)
    corpus = d.where(F.col("doc_id") % 5 != 4)
    exact_hits = (
        batch.select("doc_id", F.lower("text").alias("_t"))
        .join(corpus.select(F.lower("text").alias("_t")).distinct(), "_t",
              "left_semi")
        .select("doc_id"))
    near_hits = (
        D.ngram_jaccard_pairs_between(batch, corpus, threshold=0.5)
        .select(F.col("a_id").alias("doc_id")).distinct())
    dropped = exact_hits.union(near_hits).distinct()
    return batch.join(dropped, "doc_id", "left_anti").select("doc_id")


@register(
    "q_dedup_resolved",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u)
    SELECT d.doc_id
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.id = d.doc_id
                      AND comp.id <> comp.rep)
    """,
    doc="END-TO-END dedup resolution: the surviving corpus after "
        "near-dup clustering — pairs (inverted-index Jaccard) -> "
        "connected components -> keep only cluster representatives "
        "(min id) and untouched documents, via one anti-join of the "
        "corpus against non-representative members. This is the actual "
        "training-data operation the pair/component queries feed.",
)
def q_dedup_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    comp = _near_dup_clusters(d, sf_dir)
    non_reps = comp.where(F.col("id") != F.col("rep")).select("id")
    return d.join(non_reps, d.doc_id == non_reps.id, "left_anti").select("doc_id")


@register(
    "q_dedup_semantic_resolved",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS i, b.vec_id AS j
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
    dropped AS (SELECT DISTINCT j FROM pairs)
    SELECT e.vec_id
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.j
    WHERE d.j IS NULL
    """,
    doc="SemDeDup-style semantic deduplication keep-set over the "
        "embedding column: a vector is dropped iff SOME lower-id vector "
        "sits within cosine >= 0.4 of it (the deterministic dominance "
        "rule — the embedding-space counterpart of q_dedup_resolved's "
        "keep-min-per-component). Pair generation reuses the exact "
        "block-matrix operator (operators/similarity.py "
        "block_pairwise_cosine): n^2 work arrives as dense numpy "
        "matmuls over Arrow batches, one block pair per task, shuffle "
        "volume n/block_rows block payloads — then one distinct + one "
        "anti-join. The oracle recomputes all pairs naively in DuckDB; "
        "the 0.4 threshold sits >1e-4 from every actual pair "
        "similarity in the fixture, so float-arithmetic-order "
        "differences cannot flip membership.",
)
def q_dedup_semantic_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.similarity import block_pairwise_cosine

    e = Catalog(spark, sf_dir).table("embeddings")
    pairs = block_pairwise_cosine(e, threshold=0.4)
    dropped = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    return e.select("vec_id").join(dropped, "vec_id", "left_anti")


LSH_B, LSH_R = 16, 4  # minhash_lsh_pairs defaults: 16 bands x 4 rows


@register(
    "q_dedup_lsh_s_curve",
    oracle=f"""
    SELECT ROUND(u.i / 20.0, 2) + 0.0 AS jaccard_s,
           ROUND(1.0 - pow(1.0 - pow(u.i / 20.0, {LSH_R}), {LSH_B}), 4)
               + 0.0 AS p_candidate
    FROM unnest(range(0, 21)) AS u(i)
    """,
    doc=f"MinHash-LSH banding S-curve for the engine's configured "
        f"b={LSH_B} bands x r={LSH_R} rows (operators/dedup.py "
        "minhash_lsh_pairs): P(candidate | jaccard=s) = 1-(1-s^r)^b "
        "tabulated over s in 0..1 — the tuning table that locates the "
        "detection threshold (~(1/b)^(1/r) ≈ 0.5 here) and quantifies "
        "the false-positive/false-negative trade before anyone "
        "re-bands a 100 TB dedup run. Data-free (generated in-plan "
        "via sequence+explode), so the oracle is the same closed "
        "form — the query exists to keep the deployed banding's "
        "operating curve inspectable next to the operator itself.",
)
def q_dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(21).select(
        (F.round(F.col("id") / 20.0, 2) + F.lit(0.0)).alias("jaccard_s"),
        (F.round(1.0 - F.pow(1.0 - F.pow(F.col("id") / 20.0, F.lit(LSH_R)),
                             F.lit(LSH_B)), 4) + F.lit(0.0))
        .alias("p_candidate"))
    return grid


@register(
    "q_dedup_impact_by_source",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u),
    dropped AS (SELECT id FROM comp WHERE id <> rep)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(dr.id) AS BIGINT) AS n_removed,
           ROUND(COUNT(dr.id)::DOUBLE / COUNT(*), 4) + 0.0 AS removal_rate
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.id
    GROUP BY d.source
    """,
    doc="NEAR-dup removal impact per source — the observability "
        "companion of q_corpus_dedup_rate_by_source (which counts "
        "EXACT copies): how many documents each source loses under "
        "q_dedup_resolved's clustering (inverted-index Jaccard pairs "
        "-> components -> keep representatives), as count and rate. A "
        "source with a spiking removal_rate is mirroring another "
        "source or re-crawling itself with small edits — the signal "
        "that re-weights q_corpus_mix. Same pair/component machinery, "
        "one extra join to the source column and a tiny aggregate.",
)
def q_dedup_impact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    comp = _near_dup_clusters(d, sf_dir)
    dropped = comp.where(F.col("id") != F.col("rep")).select("id")
    tagged = d.select("doc_id", "source").join(
        dropped, d.doc_id == dropped.id, "left")
    return (tagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count("id").cast("long").alias("n_removed"),
                 (F.round(F.count("id").cast("double")
                          / F.count(F.lit(1)), 4) + F.lit(0.0))
                 .alias("removal_rate")))


DF_CAPS = (5, 10, 25, 50)


@register(
    "q_dedup_dfcap_planner",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                     FOR i IN range(1, len(ws) - 1)])) AS s
        FROM words WHERE len(ws) >= 3),
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    caps AS (SELECT unnest([{", ".join(str(c) for c in DF_CAPS)}]) AS cap)
    SELECT caps.cap,
           CAST(SUM(CASE WHEN df.df <= caps.cap
                         THEN df.df * (df.df - 1) / 2 ELSE 0 END) AS BIGINT)
               AS candidate_pairs,
           CAST(COUNT(CASE WHEN df.df > caps.cap THEN 1 END) AS BIGINT)
               AS shingles_dropped
    FROM df CROSS JOIN caps
    GROUP BY caps.cap
    """,
    doc="Document-frequency-cap planner for the inverted-index dedup "
        "(the q_dedup_ngram_jaccard_capped valve): for each candidate "
        "cap value, the exact candidate-pair count the index would "
        "generate (sum of df*(df-1)/2 over surviving shingles) and the "
        "heavy-hitter shingles dropped — the table an operator reads "
        "to pick the cap BEFORE launching a 100 TB Jaccard run, since "
        "candidate volume (the shuffle driver) is quadratic in df. "
        "One df aggregate cross-joined with the tiny cap grid; the "
        "same shape as the LSH S-curve table but measured from the "
        "corpus rather than closed-form.",
)
def q_dedup_dfcap_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import shingles, tokens

    d = Catalog(spark, sf_dir).table("documents")
    sh = (d.select("doc_id", F.explode(
            shingles(tokens("text"), n=3)).alias("s"))
          .distinct())
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    caps = local_df(spark, [(c,) for c in DF_CAPS], "cap int")
    pairs = F.when(F.col("df") <= F.col("cap"),
                   (F.col("df") * (F.col("df") - 1) / 2).cast("long")) \
        .otherwise(F.lit(0))
    dropped = F.when(F.col("df") > F.col("cap"), 1)
    return (df.crossJoin(F.broadcast(caps))
            .groupBy("cap")
            .agg(F.sum(pairs).cast("long").alias("candidate_pairs"),
                 F.count(dropped).cast("long").alias("shingles_dropped")))


@register(
    "q_dedup_threshold_sweep",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles)))::DOUBLE AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles)) > 0),
    cuts AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
    SELECT threshold,
           COUNT(CASE WHEN ROUND(j, 4) >= threshold THEN 1 END) AS n_pairs
    FROM cuts LEFT JOIN pairs ON TRUE
    GROUP BY threshold
    """,
    doc="Dedup threshold tuning table: near-dup PAIR counts at Jaccard "
        "cuts 0.5-0.9 from ONE candidate-generation pass — the decision "
        "table read (with q_dedup_dfcap_planner and "
        "q_dedup_lsh_s_curve) before committing a 100 TB dedup run to a "
        "threshold: how many pairs (and so how much removal) each cut "
        "buys. The engine reuses the inverted-index operator at the "
        "LOWEST cut (>= 0.5, the same Σ df² cost as the single-"
        "threshold query — higher cuts are a free aggregate over its "
        "output); counts per cut come from conditional aggregation "
        "against a broadcast 5-row cut table, no second pass. Integer "
        "counts, hash-exact. NB pairs below 0.5 are not candidates "
        "here, so the sweep's floor IS the operating threshold.",
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    pairs = _near_dup_pairs(d, sf_dir)
    cuts = F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
    exploded = pairs.select("jaccard",
                            F.explode(cuts).alias("threshold"))
    counted = (exploded.groupBy("threshold")
               .agg(F.count(F.when(F.col("jaccard") >= F.col("threshold"), 1))
                    .alias("n_pairs")))
    # cuts with zero candidate pairs must still appear (LEFT-join shape)
    all_cuts = d.sparkSession.range(1).select(
        F.explode(cuts).alias("threshold"))
    return (all_cuts.join(counted, "threshold", "left")
            .select("threshold",
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs")))


@register(
    "q_dedup_review_sample",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)))::DOUBLE,
                     4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))::DOUBLE
              >= 0.5)
    SELECT p.a_id, p.b_id, p.jaccard,
           substr(da.text, 1, 60) AS a_snippet,
           substr(db.text, 1, 60) AS b_snippet
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    ORDER BY p.jaccard DESC, p.a_id, p.b_id
    LIMIT 10
    """,
    doc="Near-dup REVIEW QUEUE: the top-10 highest-Jaccard candidate "
        "pairs with 60-char snippets of both documents side by side — "
        "the human-QA sample a dedup rollout ships before flipping the "
        "removal switch (thresholds and S-curves say how many; this "
        "shows WHAT). Pairs come from the same inverted-index operator "
        "as q_dedup_ngram_jaccard; snippets join back to the corpus "
        "for exactly the 10 surviving ids (two Bloom-filtered keyed "
        "probes at scale), TakeOrderedAndProject for the cut.",
)
def q_dedup_review_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    pairs = (_near_dup_pairs(d, sf_dir)
             .orderBy(F.desc("jaccard"), "a_id", "b_id").limit(10)
             .localCheckpoint(eager=False))
    da = d.select(F.col("doc_id").alias("a_id"),
                  F.substring("text", 1, 60).alias("a_snippet"))
    db = d.select(F.col("doc_id").alias("b_id"),
                  F.substring("text", 1, 60).alias("b_snippet"))
    return (pairs.join(da, "a_id").join(db, "b_id")
            .select("a_id", "b_id", "jaccard", "a_snippet", "b_snippet")
            .orderBy(F.desc("jaccard"), "a_id", "b_id"))


@register(
    "q_dedup_winnow_params",
    oracle="""
    SELECT u.w AS window_w,
           5 + u.w - 1 AS guarantee_tokens,
           ROUND(2.0 / (u.w + 1), 4) + 0.0 AS expected_density,
           (u.w = 4) AS deployed
    FROM unnest([2, 4, 8, 16, 32]) AS u(w)
    """,
    doc="Winnowing parameter table for the engine's k=5 fingerprints "
        "(operators/dedup.py winnow_fingerprint_rows): per candidate "
        "window w, the detection GUARANTEE (any shared token run of "
        ">= k+w-1 is always caught — Schleimer et al. 2003's "
        "correctness bound) against the expected fingerprint density "
        "~2/(w+1) (the storage/shuffle cost) — the trade a re-tune of "
        "a 100 TB fingerprint index reads before changing w, beside "
        "the LSH S-curve. Data-free, generated in-plan; the deployed "
        "w=4 row is flagged.",
)
def q_dedup_winnow_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(w) for w in (2, 4, 8, 16, 32)]))
        .alias("window_w"))
    return grid.select(
        "window_w",
        (F.lit(5) + F.col("window_w") - 1).alias("guarantee_tokens"),
        (F.round(2.0 / (F.col("window_w") + 1), 4) + F.lit(0.0))
        .alias("expected_density"),
        (F.col("window_w") == 4).alias("deployed"))


@register(
    "q_dedup_savings_ladder",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), w -> w <> '') AS ws
        FROM documents),
    tcnt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS nt FROM words),
    ex AS (SELECT d.doc_id,
                  MIN(d2.doc_id) AS keeper
           FROM documents d JOIN documents d2
             ON lower(d2.text) = lower(d.text)
           GROUP BY d.doc_id),
    s1 AS (SELECT doc_id FROM ex WHERE doc_id = keeper),
    sh AS (
        SELECT w.doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words w JOIN s1 USING (doc_id) WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u WHERE e.v <> r.u),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u),
    s2 AS (SELECT doc_id FROM s1
           WHERE NOT EXISTS (SELECT 1 FROM comp
                             WHERE comp.id = s1.doc_id
                               AND comp.id <> comp.rep)),
    sp AS (
        SELECT w.doc_id, t.i AS pos,
               array_to_string(ws[t.i:t.i+7], ' ') AS span
        FROM words w JOIN s2 USING (doc_id),
             unnest(range(1, len(ws) - 6)) AS t(i)
        WHERE len(ws) >= 8),
    rep AS (SELECT span FROM sp GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
        SELECT DISTINCT s.doc_id, u.p
        FROM sp s JOIN rep USING (span),
             unnest(range(s.pos, s.pos + 8)) AS u(p)),
    t0 AS (SELECT CAST(SUM(nt) AS BIGINT) AS t FROM tcnt),
    t1 AS (SELECT CAST(SUM(nt) AS BIGINT) AS t
           FROM tcnt JOIN s1 USING (doc_id)),
    t2 AS (SELECT CAST(SUM(nt) AS BIGINT) AS t
           FROM tcnt JOIN s2 USING (doc_id)),
    cv AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM cov)
    SELECT 'raw' AS stage, t0.t AS tokens_remaining,
           CAST(0 AS BIGINT) AS tokens_removed FROM t0
    UNION ALL
    SELECT 'exact', t1.t, t0.t - t1.t FROM t0, t1
    UNION ALL
    SELECT 'near_dup', t2.t, t1.t - t2.t FROM t1, t2
    UNION ALL
    SELECT 'substring_mask', t2.t - cv.c, cv.c FROM t2, cv
    """,
    doc="The dedup savings LADDER — every family's incremental token "
        "cost in one table: raw corpus -> exact content dedup "
        "(keep-first per normalized text) -> near-dup cluster "
        "resolution on the survivors (inverted-index Jaccard >= 0.5 -> "
        "connected components -> representatives only) -> cross-"
        "document repeated-span masking on what remains. Each stage "
        "runs on the PREVIOUS stage's survivors, so the removed-token "
        "columns are the true incremental savings (near-dup only gets "
        "credit beyond exact; spans only beyond both) — the table that "
        "justifies each family's 100 TB compute spend. Engine side "
        "composes the existing operators (keep-first anti-join, the "
        "checkpointed Jaccard index, min-label components, hashed span "
        "coverage); the oracle replays the identical ladder with a "
        "recursive-CTE closure. Integer token counts — hash-exact.",
)
def q_dedup_savings_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions import text as T

    d = Catalog(spark, sf_dir).table("documents")
    tcnt = d.select("doc_id", F.size(T.tokens("text")).cast("long").alias("nt"))

    # stage 1: exact content dedup (keep-first per normalized text)
    from pyspark.sql.window import Window
    keeper = F.min("doc_id").over(Window.partitionBy(F.lower("text")))
    s1 = (d.withColumn("_keep", keeper)
          .where(F.col("doc_id") == F.col("_keep")).select("doc_id"))
    d1 = d.join(s1, "doc_id", "left_semi")

    # stage 2: near-dup resolution on survivors (footprint-sized pair
    # exchanges — the r8 attribution found the UNSIZED call here was the
    # query's entire 610 MB 30x spill: one 33.8M-row pair-count
    # HashAggregate on AQE-coalesced session width)
    comp = _near_dup_clusters(d1, sf_dir)
    non_reps = comp.where(F.col("id") != F.col("rep")).select("id")
    s2 = s1.join(non_reps, s1.doc_id == non_reps.id, "left_anti")
    d2 = d.join(s2, "doc_id", "left_semi")

    # stage 3: cross-document repeated-span coverage on what remains
    # (r12: fan out the single-split scan before the span pass — the
    # broadcast semi-joins above preserve the scan's 1-partition shape)
    sp = tuning.fan_out_scan(d2, "doc_id").select("doc_id", F.posexplode(
        T.span_list(T.tokens("text"), 8)).alias("pos", "span"))
    h = sp.withColumn("h", F.xxhash64("span")).localCheckpoint(eager=False)
    surv = (h.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
            .where(F.col("nd") >= 2).select("h"))
    # (the r8 spill attribution cleared this distinct: the left-semi
    # keeps only repeated-span positions, a small stream — the query's
    # 30x spill lived entirely in the unsized jaccard call above)
    cov = (h.join(surv, "h", "left_semi")
           .select("doc_id", F.explode(
               F.sequence(F.col("pos") + 1, F.col("pos") + 8)).alias("p"))
           .distinct())

    t0 = tcnt.agg(F.sum("nt").alias("t"))
    t1 = tcnt.join(s1, "doc_id", "left_semi").agg(F.sum("nt").alias("t"))
    t2 = tcnt.join(s2, "doc_id", "left_semi").agg(F.sum("nt").alias("t"))
    cv = cov.agg(F.count(F.lit(1)).alias("c"))

    row = (t0.crossJoin(F.broadcast(t1.withColumnRenamed("t", "t1")))
           .crossJoin(F.broadcast(t2.withColumnRenamed("t", "t2")))
           .crossJoin(F.broadcast(cv)))
    return row.select(F.explode(F.array(
        F.struct(F.lit("raw").alias("stage"),
                 F.col("t").alias("tokens_remaining"),
                 F.lit(0).cast("long").alias("tokens_removed")),
        F.struct(F.lit("exact").alias("stage"),
                 F.col("t1").alias("tokens_remaining"),
                 (F.col("t") - F.col("t1")).alias("tokens_removed")),
        F.struct(F.lit("near_dup").alias("stage"),
                 F.col("t2").alias("tokens_remaining"),
                 (F.col("t1") - F.col("t2")).alias("tokens_removed")),
        F.struct(F.lit("substring_mask").alias("stage"),
                 (F.col("t2") - F.col("c")).alias("tokens_remaining"),
                 F.col("c").cast("long").alias("tokens_removed")),
    )).alias("s")).select("s.stage", "s.tokens_remaining", "s.tokens_removed")


@register(
    "q_dedup_resolved_by_quality",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE
              >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
        WHERE e.v <> r.u),
    comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS rep FROM reach GROUP BY u),
    scored AS (
        SELECT doc_id,
               CASE WHEN len(ws) > 0
                    THEN len(list_distinct(ws))::DOUBLE / len(ws)
                    ELSE 0.0 END AS score
        FROM words),
    ranked AS (
        SELECT c.id,
               ROW_NUMBER() OVER (PARTITION BY c.rep
                                  ORDER BY s.score DESC, c.id) AS rk
        FROM comp c JOIN scored s ON s.doc_id = c.id),
    dropped AS (SELECT id FROM ranked WHERE rk > 1)
    SELECT d.doc_id
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM dropped WHERE dropped.id = d.doc_id)
    """,
    doc="Quality-ARBITRATED dedup resolution: same near-dup clusters "
        "as q_dedup_resolved (inverted-index Jaccard pairs -> "
        "connected components), but each cluster keeps its HIGHEST-"
        "QUALITY member (distinct-token-ratio score, min-id "
        "tie-break) instead of the minimum id — what production "
        "pipelines actually do, since the first-crawled copy of a "
        "page is often the boilerplate-heavy one. Adds one broadcast-"
        "sized join of the (cluster-member, score) table and a "
        "PARTITIONED per-cluster row_number on top of the resolved "
        "plan; scores are single-division doubles (bit-identical "
        "cross-engine) so the arbitration is deterministic.",
)
def q_dedup_resolved_by_quality(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.text import tokens

    d = Catalog(spark, sf_dir).table("documents")
    comp = _near_dup_clusters(d, sf_dir)
    ws = tokens(F.col("text"))
    scored = d.select(
        "doc_id",
        F.when(F.size(ws) > 0,
               F.size(F.array_distinct(ws)).cast("double") / F.size(ws))
        .otherwise(F.lit(0.0)).alias("score"))
    ranked = (comp.join(scored, comp.id == scored.doc_id)
              .withColumn("rk", F.row_number().over(
                  Window.partitionBy("rep")
                  .orderBy(F.desc("score"), "id"))))
    dropped = ranked.where(F.col("rk") > 1).select("id")
    return d.join(dropped, d.doc_id == dropped.id, "left_anti") \
        .select("doc_id")


# --------------------------------------------------------------------------
# B-cubed clustering evaluation — scoring a cheap clustering against gold
# --------------------------------------------------------------------------

@register(
    "q_dedup_bcubed",
    oracle="""
    WITH RECURSIVE words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE >= 0.5),
    und AS (SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, v FROM und
        UNION
        SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
        WHERE e.v <> r.u),
    rep AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS rep
            FROM reach GROUP BY u),
    lab AS (
        SELECT d.doc_id,
               COALESCE(r.rep, d.doc_id) AS g,
               substr(lower(regexp_replace(d.text, '\s+', ' ', 'g')),
                      1, 40) AS p
        FROM documents d LEFT JOIN rep r USING (doc_id)),
    cells AS (SELECT p, g, COUNT(*) AS c FROM lab GROUP BY p, g),
    cp AS (SELECT p, SUM(c) AS cp FROM cells GROUP BY p),
    cg AS (SELECT g, SUM(c) AS cg FROM cells GROUP BY g),
    n_ AS (SELECT COUNT(*) AS n FROM lab),
    pr AS (SELECT SUM(c * c * 1.0 / cp) AS ps
           FROM cells JOIN cp USING (p)),
    rc AS (SELECT SUM(c * c * 1.0 / cg) AS rs
           FROM cells JOIN cg USING (g))
    SELECT CAST(n AS BIGINT) AS n_docs,
           (SELECT COUNT(DISTINCT g) FROM lab)::BIGINT AS n_gold_clusters,
           (SELECT COUNT(DISTINCT p) FROM lab)::BIGINT AS n_pred_clusters,
           ROUND(ps / n, 4) AS b3_precision,
           ROUND(rs / n, 4) AS b3_recall,
           ROUND(2 * (ps / n) * (rs / n) / ((ps / n) + (rs / n)), 4)
               AS b3_f1
    FROM pr, rc, n_
    """,
    doc="B-cubed precision/recall/F1 — the standard extrinsic clustering "
        "metric for entity-resolution and dedup evaluation (Bagga & "
        "Baldwin '98; the ER-benchmark standard because, unlike pairwise "
        "F1, it weights every ITEM equally and is chance-insensitive). "
        "Gold clustering = connected components over exact 3-gram "
        "Jaccard >= 0.5 pairs (the expensive truth the engine's "
        "q_dedup_components already computes); predicted clustering = "
        "the 40-char normalized-prefix key (the cheap one-scan blocking "
        "a 100 TB first pass would use). Per-item precision "
        "|C(i) n G(i)|/|C(i)| aggregates to cell counts: "
        "B3_P = (1/N) * sum_cells c_pg^2 / c_p and B3_R likewise over "
        "c_g — three group-bys over (pred, gold) labels, no per-item "
        "loop, linear shuffle in corpus size. The audit quantifies "
        "exactly what the cheap blocking key trades away (recall "
        "against the Jaccard truth) before you spend the LSH pass.",
)
def q_dedup_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # footprint-sized pair exchanges (r6 ladder: 2.6 GB spill at 10x
    # on the static session width)
    rep = _near_dup_clusters(d, sf_dir)  # (id, rep)
    lab = (d.join(rep.withColumnRenamed("id", "doc_id"), "doc_id", "left")
           .select("doc_id",
                   F.coalesce("rep", "doc_id").alias("g"),
                   F.substring(
                       F.lower(F.regexp_replace("text", r"\s+", " ")),
                       1, 40).alias("p")))
    cells = lab.groupBy("p", "g").agg(F.count(F.lit(1)).alias("c"))
    cp = cells.groupBy("p").agg(F.sum("c").alias("cp"))
    cg = cells.groupBy("g").agg(F.sum("c").alias("cg"))
    ps = (cells.join(cp, "p")
          .agg(F.sum(F.col("c") * F.col("c") / F.col("cp")).alias("ps")))
    rs = (cells.join(cg, "g")
          .agg(F.sum(F.col("c") * F.col("c") / F.col("cg")).alias("rs")))
    tot = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("g").cast("long").alias("n_gold_clusters"),
        F.countDistinct("p").cast("long").alias("n_pred_clusters"))
    pn = F.col("ps") / F.col("n_docs")
    rn = F.col("rs") / F.col("n_docs")
    return (tot.crossJoin(F.broadcast(ps)).crossJoin(F.broadcast(rs))
            .select("n_docs", "n_gold_clusters", "n_pred_clusters",
                    F.round(pn, 4).alias("b3_precision"),
                    F.round(rn, 4).alias("b3_recall"),
                    F.round(2 * pn * rn / (pn + rn), 4).alias("b3_f1")))


# --------------------------------------------------------------------------
# PPJoin-style prefix filtering — candidate-pair reduction audit
# --------------------------------------------------------------------------

@register(
    "q_dedup_prefix_filter",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    toks AS (SELECT doc_id, unnest(shingles) AS tok FROM sh),
    df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
    tsz AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
    ranked AS (
        SELECT t.doc_id, t.tok,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                  ORDER BY f.df, t.tok) AS tr,
               s.sz
        FROM toks t JOIN df f USING (tok) JOIN tsz s USING (doc_id)),
    pref AS (SELECT doc_id, tok FROM ranked
             WHERE tr <= sz - CEIL(0.5 * sz) + 1),
    cand_pref AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id),
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE
              >= 0.5)
    SELECT (SELECT COUNT(*) FROM sh)::BIGINT AS n_docs,
           (SELECT CAST(SUM(df * (df - 1) // 2) AS BIGINT) FROM df)
               AS n_full_pair_slots,
           (SELECT COUNT(*) FROM cand_pref)::BIGINT AS n_prefix_pairs,
           (SELECT COUNT(*) FROM truth)::BIGINT AS n_true_pairs,
           (SELECT COUNT(*) FROM truth t
            WHERE NOT EXISTS (SELECT 1 FROM cand_pref c
                              WHERE c.a_id = t.a_id AND c.b_id = t.b_id)
           )::BIGINT AS n_missed_true,
           (SELECT COUNT(*) FROM truth t
            WHERE NOT EXISTS (SELECT 1 FROM cand_pref c
                              WHERE c.a_id = t.a_id AND c.b_id = t.b_id)
           ) = 0 AS prefix_complete,
           ROUND((SELECT SUM(df * (df - 1) // 2) FROM df)::DOUBLE
                 / (SELECT COUNT(*) FROM cand_pref), 2) AS reduction_x_ub
    """,
    doc="PPJoin-style prefix filtering (Xiao et al. '11) — the "
        "candidate-reduction theorem that makes exact set-similarity "
        "join feasible at corpus scale, audited end to end. Order each "
        "doc's shingles rarest-first (global df, then lexicographic — "
        "a PER-DOC window, no global rank, so no single-partition "
        "exchange); index only the first |T| - ceil(t*|T|) + 1 of them. "
        "Theorem: two sets with Jaccard >= t MUST collide inside these "
        "prefixes (if all prefix tokens differ, the overlap is too "
        "small), so pruning the inverted index to prefixes loses ZERO "
        "true pairs while collapsing candidate volume, and the "
        "prefix_complete flag value-checks the theorem, not just the "
        "counts. The full-index denominator is Sigma C(df,2) computed "
        "ARITHMETICALLY from the df table (n_full_pair_slots — the "
        "number of colliding postings-pairs the un-pruned index would "
        "enumerate, an upper bound on its distinct pairs), never by "
        "materializing the all-token self-join: the r5 audit paid a "
        "23 MB shuffle at sf0.1 just to print that denominator, and at "
        "100x the audit itself would explode while the operator it "
        "audits stayed healthy. reduction_x_ub is stated as the bound "
        "it is. The remaining shuffle (~22 MB at sf0.1) is the LINEAR "
        "rarest-first ranking stream — every (doc, token, df) row "
        "crosses one tok exchange and one doc_id window exchange, "
        "O(corpus tokens), the unavoidable cost of a global-df prefix "
        "order. This composes with the df-cap skew valve "
        "(q_dedup_dfcap_planner): the cap bounds per-shingle df^2 "
        "blowup, the prefix bounds per-DOC index width; together they "
        "are the knobs an exact 100 TB near-dup pass actually ships "
        "with. Shingle strings (not hashes) are indexed here so both "
        "engines agree on the df tie-break ordering; the production "
        "operator (ngram_jaccard_pairs) hashes to 8-byte keys.",
)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window
    d = Catalog(spark, sf_dir).table("documents")
    # every wide exchange in the audit (token-df join, per-doc ranking
    # window, prefix self-join, truth arm) takes the footprint width:
    # the 30x ladder measured 7.3 GB spilled with these on the static
    # session setting. r9: the width uses an 8 MB per-partition target
    # (vs the 128 MB default) because the pair stage pipelines
    # the self-join SMJ sort WITH the pair-distinct aggregate in one
    # task's memory slice — the same co-resident-consumer sizing the
    # FS verify arm needed; the r8 receipt measured ~5 MB/task of sort
    # spill at the 64-task width that this deletes.
    nparts = _pair_width(spark, sf_dir, target_bytes=8 << 20)
    sh = D._doc_shingles(d, "doc_id", "text", 3)
    # sz rides the index rows from the source (_shingles is DISTINCT by
    # construction, so |shingle set| = size of the array = COUNT(*) per
    # doc of the exploded index) — r13: this deletes the count() window
    # that previously re-scanned every doc partition just to recompute
    # a number the array already knew (8 B/row through one exchange
    # buys a full window pass)
    toks = (sh.select(F.col("_id").alias("doc_id"),
                      F.size("_shingles").alias("sz"),
                      F.explode("_shingles").alias("tok"))
            .localCheckpoint(eager=False))
    # ONE tok exchange feeds df-count AND the rank join (r13, guide
    # §2.4 share-the-exchange: the old shape exchanged the token stream
    # by tok for the join, exchanged it AGAIN for the df groupBy, then
    # re-widened the df table to match — the aggregate over the
    # already-tok-partitioned rows and the join both reuse this single
    # exchange, 3 token-stream exchanges -> 1)
    tokw = toks.repartition(nparts, "tok")
    dfreq = tokw.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = (tokw.join(dfreq, "tok")
              .repartition(nparts, "doc_id")
              .select("doc_id", "tok", "sz",
                      F.row_number().over(w).alias("tr")))
    pref = (ranked.where(F.col("tr") <= F.col("sz")
                         - F.ceil(0.5 * F.col("sz")) + 1)
            .select("doc_id", "tok").localCheckpoint(eager=False))

    def pair_count(idx):
        idx = idx.repartition(nparts, "tok")
        a, b = idx.alias("a"), idx.alias("b")
        return (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("a_id"),
                        F.col("b.doc_id").alias("b_id"))
                .repartition(nparts, "a_id", "b_id")
                .distinct())

    cand_pref = pair_count(pref).localCheckpoint(eager=False)
    truth = (D.ngram_jaccard_pairs(d, threshold=0.5,
                                   num_partitions=nparts)
             .select("a_id", "b_id").localCheckpoint(eager=False))
    missed = truth.join(cand_pref, ["a_id", "b_id"], "left_anti")
    # The five audit scalars assemble through ONE union-of-aggregates
    # pass instead of a chain of five broadcast crossJoins (r13: each
    # broadcast was its own build + exchange; the union's independent
    # leaf stages still materialize concurrently, and the final pivot
    # touches 5 rows). n_docs counts distinct ids off the checkpointed
    # index (r12: _doc_shingles no longer filters empties; this avoids
    # a second corpus tokenize pass).
    cnt = F.count(F.lit(1)).cast("long")
    leg = lambda df, k: df.agg(cnt.alias("v")).select(
        F.lit(k).alias("k"), "v")
    u = (toks.agg(F.count_distinct("doc_id").cast("long").alias("v"))
         .select(F.lit("n_docs").alias("k"), "v")
         .unionByName(dfreq.agg(F.sum(F.expr("df * (df - 1) DIV 2"))
                                .cast("long").alias("v"))
                      .select(F.lit("n_full_pair_slots").alias("k"), "v"))
         .unionByName(leg(cand_pref, "n_prefix_pairs"))
         .unionByName(leg(truth, "n_true_pairs"))
         .unionByName(leg(missed, "n_missed_true")))
    pick = lambda k: F.max(F.when(F.col("k") == k, F.col("v"))).alias(k)
    return (u.agg(pick("n_docs"), pick("n_full_pair_slots"),
                  pick("n_prefix_pairs"), pick("n_true_pairs"),
                  pick("n_missed_true"))
            .select("n_docs", "n_full_pair_slots", "n_prefix_pairs",
                    "n_true_pairs", "n_missed_true",
                    (F.col("n_missed_true") == 0).alias("prefix_complete"),
                    F.round(F.col("n_full_pair_slots").cast("double")
                            / F.col("n_prefix_pairs"), 2)
                    .alias("reduction_x_ub")))


# --------------------------------------------------------------------------
# MinHash estimator-quality audit — signature agreement vs exact Jaccard
# --------------------------------------------------------------------------

@register(
    "q_dedup_minhash_estimator",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                     (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)))::DOUBLE,
                     4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE
              >= 0.2),
    ids AS (SELECT a_id AS id FROM truth UNION SELECT b_id FROM truth),
    toks AS (
        SELECT doc_id, u.s
        FROM sh, unnest(sh.shingles) AS u(s)
        WHERE doc_id IN (SELECT id FROM ids)),
    hs AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform([s[i] FOR i IN range(1, length(s) + 1)],
                                      c -> unicode(c)::BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS h
        FROM toks),
    perms AS (
        SELECT j, (1103515245 * j + 12345) % 2147483647 AS a,
               (69069 * j + 362437) % 2147483647 AS b
        FROM (SELECT unnest(range(0, 16)) AS j)),
    sig AS (
        SELECT doc_id, j, MIN((a * h + b) % 2147483647) AS mh
        FROM hs CROSS JOIN perms GROUP BY doc_id, j),
    est AS (
        SELECT t.a_id, t.b_id, t.jaccard,
               SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS e
        FROM truth t
        JOIN sig sa ON sa.doc_id = t.a_id
        JOIN sig sb ON sb.doc_id = t.b_id AND sb.j = sa.j
        GROUP BY t.a_id, t.b_id, t.jaccard)
    SELECT a_id, b_id, jaccard AS exact_j,
           ROUND(e, 4) AS est_j,
           ROUND(ABS(e - jaccard), 4) AS abs_err,
           (SELECT ROUND(AVG(ABS(e - jaccard)), 4) FROM est) AS mae
    FROM est ORDER BY a_id, b_id
    """,
    doc="MinHash ESTIMATOR-quality audit, fully value-checked — the "
        "measurement the production MinHash-LSH path (xxhash64 "
        "signatures, SQL-opaque, hence rows-only there) cannot get an "
        "oracle for. This twin swaps in a portable signature: shingle "
        "hash = the engine's rolling fingerprint fold ((acc*31 + "
        "codepoint) mod 2^31-1, bit-identical in both engines), 16 "
        "LCG-derived permutations (a_j, b_j literals computed from j "
        "identically on both sides), minhash = min over the doc's "
        "shingles. For every pair with exact 3-gram Jaccard >= 0.2 it "
        "reports Pr[mh_a = mh_b] estimated as matching-perm fraction "
        "against the exact Jaccard (the estimator's unbiasedness "
        "target, E[match] = J), the per-pair absolute error, and the "
        "panel MAE ~ sqrt(J(1-J)/16) — the binomial noise floor the "
        "64-perm production config quarters. Signatures are computed "
        "ONLY for docs appearing in audit pairs (semi-join pushdown), "
        "so the audit costs O(pairs * shingles), not a corpus pass.",
)
def q_dedup_minhash_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, P = 16, 2147483647
    d = Catalog(spark, sf_dir).table("documents")
    truth = (D.ngram_jaccard_pairs(d, threshold=0.2,
                                   num_partitions=_pair_width(spark, sf_dir))
             .select("a_id", "b_id", "jaccard")
             .localCheckpoint(eager=False))
    ids = (truth.select(F.col("a_id").alias("_id"))
           .union(truth.select("b_id")).distinct())
    sh = D._doc_shingles(d, "doc_id", "text", 3).join(ids, "_id")
    toks = sh.select("_id", F.explode("_shingles").alias("s"))
    chars = F.filter(F.split(F.col("s"), ""),
                     lambda c: F.length(c) > 0)
    h = F.aggregate(chars, F.lit(0).cast("long"),
                    lambda acc, c: (acc * 31 + F.ascii(c)) % P)
    hs = toks.select("_id", h.alias("h"))
    perms = (spark.range(K).select(F.col("id").alias("j"))
             .select("j",
                     ((1103515245 * F.col("j") + 12345) % P).alias("a"),
                     ((69069 * F.col("j") + 362437) % P).alias("b")))
    sig = (hs.crossJoin(F.broadcast(perms))
           .groupBy("_id", "j")
           .agg(F.min((F.col("a") * F.col("h") + F.col("b")) % P)
                .alias("mh"))
           .localCheckpoint(eager=False))
    sa = sig.select(F.col("_id").alias("a_id"), "j",
                    F.col("mh").alias("mha"))
    sb = sig.select(F.col("_id").alias("b2"),
                    F.col("j").alias("jb"), F.col("mh").alias("mhb"))
    est = (truth.join(sa, "a_id")
           .join(sb, (F.col("b_id") == F.col("b2"))
                 & (F.col("j") == F.col("jb")))
           .drop("b2", "jb")
           .groupBy("a_id", "b_id", "jaccard")
           .agg((F.sum(F.when(F.col("mha") == F.col("mhb"), 1)
                       .otherwise(0)) / float(K)).alias("e")))
    mae = est.agg(F.round(F.avg(F.abs(F.col("e") - F.col("jaccard"))), 4)
                  .alias("mae"))
    return (est.crossJoin(F.broadcast(mae))
            .select("a_id", "b_id",
                    F.col("jaccard").alias("exact_j"),
                    F.round("e", 4).alias("est_j"),
                    F.round(F.abs(F.col("e") - F.col("jaccard")), 4)
                     .alias("abs_err"),
                    "mae")
            .orderBy("a_id", "b_id"))


# --------------------------------------------------------------------------
# SimHash portable twin — the signature mechanism, fully value-checked
# --------------------------------------------------------------------------

@register(
    "q_dedup_simhash_portable",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               ROUND(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                     (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)))::DOUBLE,
                     4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))::DOUBLE
              >= 0.5),
    ids AS (SELECT a_id AS id FROM truth UNION SELECT b_id FROM truth),
    toksd AS (
        SELECT DISTINCT w.doc_id, u.t AS s
        FROM words w, unnest(w.ws) AS u(t)
        WHERE w.doc_id IN (SELECT id FROM ids)),
    hs AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform([s[i] FOR i IN range(1, length(s) + 1)],
                                      c -> unicode(c)::BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS h
        FROM toksd),
    bits AS (
        SELECT doc_id, j,
               CASE WHEN SUM(((h >> CAST(j AS INT)) & 1) * 2 - 1) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS j)
        GROUP BY doc_id, j),
    ham AS (
        SELECT t.a_id, t.b_id, t.jaccard,
               SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hamming
        FROM truth t
        JOIN bits ba ON ba.doc_id = t.a_id
        JOIN bits bb ON bb.doc_id = t.b_id AND bb.j = ba.j
        GROUP BY t.a_id, t.b_id, t.jaccard)
    SELECT a_id, b_id, jaccard AS exact_j,
           CAST(hamming AS BIGINT) AS hamming16,
           hamming <= 3 AS near_dup
    FROM ham ORDER BY a_id, b_id
    """,
    doc="SimHash MECHANISM audit, fully value-checked — the portable twin "
        "the rows-only production query (q_dedup_simhash, xxhash64 64-bit "
        "signatures, SQL-opaque by design) names as its oracle-checked "
        "companion. Swaps in the portable token hash (the rolling "
        "(acc*31 + codepoint) mod 2^31-1 fold, bit-identical in both "
        "engines) and computes a 16-bit simhash with pure integer "
        "arithmetic: bit j of the signature is the sign of "
        "sum_tokens(2*((h >> j) & 1) - 1) — Charikar's random-projection "
        "sketch with the hash bits as the projection. For every "
        "exact-Jaccard >= 0.5 pair it reports the signature hamming "
        "distance and the near_dup verdict at the production threshold "
        "(hamming <= 3), so the monotone jaccard->hamming relation the "
        "production pigeonhole join relies on is VALUE-checked, not "
        "rows-counted. Signatures are computed only for docs appearing "
        "in audit pairs (semi-join pushdown), O(pairs * tokens).",
)
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    B, P = 16, 2147483647
    d = Catalog(spark, sf_dir).table("documents")
    truth = (_near_dup_pairs(d, sf_dir)
             .select("a_id", "b_id", "jaccard")
             .localCheckpoint(eager=False))
    ids = (truth.select(F.col("a_id").alias("_id"))
           .union(truth.select("b_id")).distinct())
    from datalake_project_spark.functions.text import tokens
    toks = (d.join(ids, d["doc_id"] == ids["_id"])
            .select("doc_id", F.explode(tokens("text")).alias("s"))
            .distinct())
    chars = F.filter(F.split(F.col("s"), ""), lambda c: F.length(c) > 0)
    h = F.aggregate(chars, F.lit(0).cast("long"),
                    lambda acc, c: (acc * 31 + F.ascii(c)) % P)
    hs = toks.select("doc_id", h.alias("h"))
    # 16 per-(doc, j) weights in one explode: +1 when bit j of h is set
    weights = F.array(*[
        (F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1))
         * 2 - 1).cast("long").alias(f"w{j}")
        for j in range(B)])
    bits = (hs.select("doc_id", F.posexplode(weights).alias("j", "w"))
            .groupBy("doc_id", "j")
            .agg(F.when(F.sum("w") > 0, F.lit(1)).otherwise(F.lit(0))
                 .alias("bit")))
    ba = bits.select(F.col("doc_id").alias("a_id"), "j",
                     F.col("bit").alias("bita"))
    bb = bits.select(F.col("doc_id").alias("b2"),
                     F.col("j").alias("jb"), F.col("bit").alias("bitb"))
    return (truth.join(ba, "a_id")
            .join(bb, (F.col("b_id") == F.col("b2"))
                  & (F.col("j") == F.col("jb")))
            .groupBy("a_id", "b_id", "jaccard")
            .agg(F.sum(F.when(F.col("bita") != F.col("bitb"), 1)
                       .otherwise(0)).cast("long").alias("hamming16"))
            .select("a_id", "b_id", F.col("jaccard").alias("exact_j"),
                    "hamming16",
                    (F.col("hamming16") <= 3).alias("near_dup"))
            .orderBy("a_id", "b_id"))


@register(
    "q_dedup_idf_weighted_jaccard",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM words WHERE len(ws) >= 3),
    inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    n AS (SELECT COUNT(*) AS n_docs FROM sh),
    idf AS (
        SELECT s, ln(n.n_docs::DOUBLE / COUNT(*)::DOUBLE) AS idf
        FROM inv, n GROUP BY s, n.n_docs
        HAVING COUNT(*) <= 500),
    wv AS (SELECT inv.doc_id, inv.s, idf.idf
           FROM inv JOIN idf USING (s)),
    docw AS (SELECT doc_id, SUM(idf) AS w FROM wv GROUP BY doc_id),
    iw AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.idf) AS iw
        FROM wv a JOIN wv b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT iw.a_id, iw.b_id,
           ROUND(iw.iw / (wa.w + wb.w - iw.iw), 4) AS w_jaccard
    FROM iw
    JOIN docw wa ON wa.doc_id = iw.a_id
    JOIN docw wb ON wb.doc_id = iw.b_id
    WHERE iw.iw / (wa.w + wb.w - iw.iw) >= 0.5
    ORDER BY a_id, b_id
    """,
    doc="IDF-WEIGHTED Jaccard near-dup pairs: sim(A,B) = "
        "sum(idf over A∩B) / sum(idf over A∪B) with idf(s) = "
        "ln(N/df(s)) over 3-gram shingles — the weighted-set member "
        "of the dedup family (unweighted Jaccard, containment, "
        "MinHash, SimHash are all unweighted). Two docs sharing RARE "
        "content score high even when their boilerplate differs, and "
        "two docs sharing only corpus-common chrome score ~0 — the "
        "signal plain Jaccard dilutes in both directions. Same "
        "inverted-index plan as q_dedup_ngram_jaccard (self-join on "
        "xxhash64'd shingle keys; df and hence idf are preserved "
        "under hashing), with the standard max_df=500 occupancy valve "
        "defining the similarity over the capped vocabulary on BOTH "
        "engines, so the valve is part of the spec, not a recall "
        "leak. Intersection weight rides the index join (SUM(idf) "
        "per pair); per-doc total weight is one groupBy off the same "
        "checkpointed index — one corpus pass, cost ~ sum(df^2) over "
        "kept shingles, never n^2.",
)
def q_dedup_idf_weighted_jaccard(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    sh = D._doc_shingles(Catalog(spark, sf_dir).table("documents"),
                         "doc_id", "text", 3)
    inv = (sh.select("_id", F.explode(
               F.transform("_shingles", lambda s: F.xxhash64(s)))
               .alias("_s"))
           .localCheckpoint(eager=False))
    # docs with >= 1 shingle == distinct ids in the checkpointed index
    # (r12: _doc_shingles no longer filters empties)
    n_docs = inv.agg(F.count_distinct("_id").alias("_n"))
    idf = (inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
           .where(F.col("_df") <= 500)
           .crossJoin(F.broadcast(n_docs))
           .select("_s", F.log(F.col("_n").cast("double")
                               / F.col("_df").cast("double")).alias("_idf")))
    wv = inv.join(idf, "_s")  # single consumer since the leg-carry
    # restructure (the window chain below) — no checkpoint needed
    # Per-doc total weight rides the INDEX LEGS (one keyed window over
    # the 16 M-row index), so the sum-df^2 pair aggregate finishes the
    # similarity with any_value() and needs NO post-aggregate join —
    # the 60x attribution put 1.3 GB of disk spill in the two SMJ
    # sorts that joined the 67.8 M-row pair table to the per-doc
    # weight table (the receipt's `spill_nodes`). Exchanges are footprint-
    # sized at the kcore-style 16 MB per-partition target: the byte term
    # overtakes the density-capped cores floor once the pair working set
    # passes 16 MB x cores rather than 128 MB x cores (at sf0.1 both
    # targets give the 8-partition minimum).
    from pyspark.sql.window import Window

    n_parts = _pair_width(spark, sf_dir, target_bytes=16 << 20)
    wv2 = wv.withColumn("_w", F.sum("_idf").over(
        Window.partitionBy("_id")))
    wvs = wv2.repartition(n_parts, "_s")
    a = wvs.select(F.col("_id").alias("a_id"), "_s", "_idf",
                   F.col("_w").alias("_wa"))
    b = wvs.select(F.col("_id").alias("b_id"), "_s",
                   F.col("_w").alias("_wb"))
    iw = (a.join(b, "_s")
          .where(F.col("a_id") < F.col("b_id"))
          .repartition(n_parts, "a_id", "b_id")
          .groupBy("a_id", "b_id")
          .agg(F.sum("_idf").alias("_iw"),
               F.any_value("_wa").alias("_wa"),
               F.any_value("_wb").alias("_wb")))
    sim = F.col("_iw") / (F.col("_wa") + F.col("_wb") - F.col("_iw"))
    return (iw.where(sim >= 0.5)
            .select("a_id", "b_id", F.round(sim, 4).alias("w_jaccard"))
            .orderBy("a_id", "b_id"))


@register(
    "q_dedup_bag_jaccard",
    oracle="""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    sh AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       FOR i IN range(1, len(ws) - 1)]) AS s
        FROM words WHERE len(ws) >= 3),
    tf AS (SELECT doc_id, s, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
    keep AS (SELECT s FROM tf GROUP BY s HAVING COUNT(*) <= 500),
    tfk AS (SELECT tf.* FROM tf JOIN keep USING (s)),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tfk GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               SUM(LEAST(a.tf, b.tf)) AS i
        FROM tfk a JOIN tfk b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    bj AS (
        SELECT a_id, b_id,
               i::DOUBLE / (da.dl + db.dl - i)::DOUBLE AS bj
        FROM inter
        JOIN dl da ON da.doc_id = a_id
        JOIN dl db ON db.doc_id = b_id)
    SELECT a_id, b_id, ROUND(bj, 4) AS bag_jaccard
    FROM bj WHERE bj >= 0.5
    ORDER BY a_id, b_id
    """,
    doc="BAG (multiset) Jaccard near-dup pairs over 3-gram shingles: "
        "B(A,B) = sum min(tf_A, tf_B) / sum max(tf_A, tf_B), with "
        "sum-max rewritten exactly as dl_A + dl_B - sum-min (max = "
        "a + b - min summed over the union) so the pair aggregate "
        "only ever sums the SHARED-shingle minima — the REPEAT-"
        "SENSITIVE member of the dedup family: q_dedup_ngram_jaccard "
        "dedupes each doc's shingle set, so a document repeating a "
        "boilerplate paragraph ten times scores identically to one "
        "containing it once; bag semantics count those repeats, which "
        "is exactly the template/spam-inflation signal set Jaccard "
        "flattens. Same inverted-index discipline as the set query "
        "(per-(doc, xxhash64 shingle) tf index, max_df=500 occupancy "
        "valve on BOTH engines — armed, df max 25 on this corpus — "
        "pair cost ~ sum df^2 over kept shingles); an earlier unigram "
        "formulation collapsed under the valve (the fixture has a "
        "~31-token vocabulary, so every token is corpus-common and "
        "99.9%% of mass was vetoed) — shingle df is duplicate-driven, "
        "not vocabulary-driven, which is the property the whole dedup "
        "family relies on. Every similarity is a ratio of integers — "
        "hash-exact; only the display column rounds.",
)
def q_dedup_bag_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import span_list, tokens

    # r13: the tokenize+shingle+hash pass ran in a 1-task stage (1.2 s
    # of the 4.8 s warm wall — single-split fixture scan, guide §2.5);
    # the fan-out is a no-op at production scan widths
    d = tuning.fan_out_scan(Catalog(spark, sf_dir).table("documents"),
                            "doc_id")
    tf = (d.select("doc_id",
                   F.explode(span_list(tokens("text"), 3)).alias("s"))
          .select("doc_id", F.xxhash64("s").alias("s"))
          .groupBy("doc_id", "s")
          .agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=False))  # one shingle pass feeds all
    keep = (tf.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= 500).select("s"))
    tfk = tf.join(keep, "s", "left_semi")  # single consumer now
    # Per-doc bag size rides the INDEX LEGS (one keyed window over the
    # index) so the sum-df^2 pair aggregate finishes the similarity
    # with any_value() and needs NO post-aggregate join — the idf twin
    # measured 1.3 GB of 60x spill in exactly those SMJ sorts before
    # this shape. Exchanges footprint-sized at a 16 MB per-partition
    # target: the pair partial-aggregate hash tables spilled 1.2 GB at
    # the narrower 128 MB-target width. The byte term overtakes the
    # density-capped cores floor once the pair working set passes
    # 16 MB x cores (at sf0.1 both targets give the 8-partition minimum).
    from pyspark.sql.window import Window

    n_parts = _pair_width(spark, sf_dir, target_bytes=16 << 20)
    tfk2 = tfk.withColumn("dl", F.sum("tf").over(
        Window.partitionBy("doc_id")))
    tfs = tfk2.repartition(n_parts, "s")
    a = tfs.select(F.col("doc_id").alias("a_id"), "s",
                   F.col("tf").alias("tfa"),
                   F.col("dl").alias("dla"))
    b = tfs.select(F.col("doc_id").alias("b_id"), "s",
                   F.col("tf").alias("tfb"),
                   F.col("dl").alias("dlb"))
    inter = (a.join(b, "s")
             .where(F.col("a_id") < F.col("b_id"))
             .repartition(n_parts, "a_id", "b_id")
             .groupBy("a_id", "b_id")
             .agg(F.sum(F.least("tfa", "tfb")).alias("i"),
                  F.any_value("dla").alias("dla"),
                  F.any_value("dlb").alias("dlb")))
    bj = (F.col("i").cast("double")
          / (F.col("dla") + F.col("dlb") - F.col("i")).cast("double"))
    return (inter
            .where(bj >= 0.5)
            .select("a_id", "b_id", F.round(bj, 4).alias("bag_jaccard"))
            .orderBy("a_id", "b_id"))

