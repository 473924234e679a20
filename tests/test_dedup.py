"""Dedup operator semantics: exact keep-first, n-gram Jaccard inverted
index, MinHash-LSH recall vs the exact pairs, SimHash pigeonhole recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_project_spark.operators import dedup as D
from tests.conftest import rows

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")


def _docs(spark):
    near = BASE.replace("lazy", "sleepy")          # 1-token edit => high J
    far = "completely different text about databases and query engines only"
    data = [(1, BASE), (2, BASE), (3, near), (4, far),
            (5, "tiny"), (6, "")]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_dedup_exact_deterministic_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 20), (2, "z", 5)], "k long, s string, v int")
    got = rows(D.dedup_exact(df, keys=["k"], order_by=[F.asc("s")]))
    assert got == [(1, "a", 20), (2, "z", 5)]


def test_dedup_exact_default_order_total(spark):
    # default order = all non-key columns => stable regardless of input order
    df1 = spark.createDataFrame([(1, "b"), (1, "a")], "k long, s string")
    df2 = spark.createDataFrame([(1, "a"), (1, "b")], "k long, s string")
    assert rows(D.dedup_exact(df1, keys=["k"])) == rows(D.dedup_exact(df2, keys=["k"]))


def test_ngram_jaccard_pairs(spark):
    got = rows(D.ngram_jaccard_pairs(_docs(spark), threshold=0.5))
    pairs = {(r[0], r[1]) for r in got}
    assert (1, 2) in pairs                      # identical
    assert (1, 3) in pairs and (2, 3) in pairs  # near-dup
    assert all(4 not in p and 5 not in p and 6 not in p for p in pairs)
    exact_dup = [r for r in got if (r[0], r[1]) == (1, 2)][0]
    assert exact_dup[2] == 1.0


def test_minhash_lsh_matches_exact_on_separated_fixture(spark):
    """Planted near-dups (J>=0.8) vs background (J~0): LSH candidates are
    exact-verified, so outputs must equal the exact inverted-index pairs."""
    docs = _docs(spark)
    exact = rows(D.ngram_jaccard_pairs(docs, threshold=0.5))
    lsh = rows(D.minhash_lsh_pairs(docs, threshold=0.5))
    assert lsh == exact


def test_simhash_pairs_identical_docs(spark):
    got = rows(D.simhash_pairs(_docs(spark), max_hamming=3))
    pairs = {(r[0], r[1]): r[2] for r in got}
    assert pairs.get((1, 2)) == 0               # identical => hamming 0
    assert all(h <= 3 for h in pairs.values())


def test_embedding_near_dup_pairs(spark):
    data = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~same direction
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [-1.0, 0.0, 0.0]),     # opposite
    ]
    e = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    got = rows(D.embedding_near_dup_pairs(e, threshold=0.9))
    assert [(r[0], r[1]) for r in got] == [(1, 2)]


def test_connected_components_known_graph(spark):
    """Two chains and an isolate-free pair: labels converge to min id."""
    from datalake_project_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain {1,2,3,4}
         (10, 11),                    # pair {10,11}
         (20, 21), (22, 21)],         # chain {20,21,22} via shared 21
        "a_id long, b_id long")
    got = {(r["id"], r["rep"]) for r in connected_components(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_ngram_jaccard_max_df_keeps_exact_values(spark):
    """The df-cap drops heavy-hitter shingles from the CANDIDATE index
    only; emitted pairs are re-verified on full shingle sets, so values
    match the uncapped run exactly (planted dups share rare shingles)."""
    docs = _docs(spark)
    uncapped = rows(D.ngram_jaccard_pairs(docs, threshold=0.5))
    capped = rows(D.ngram_jaccard_pairs(docs, threshold=0.5, max_df=3))
    assert capped == uncapped


def test_ngram_jaccard_max_df_drops_boilerplate_candidates(spark):
    """A shingle shared by every doc (boilerplate) must not generate
    candidates once its df exceeds the cap: docs whose ONLY overlap is
    the boilerplate prefix produce no pair."""
    boiler = "all rights reserved by the site "
    data = [(i, boiler + body) for i, body in enumerate([
        "alpha beta gamma delta epsilon zeta", "eta theta iota kappa mu nu",
        "xi omicron pi rho sigma tau", "upsilon phi chi psi omega one",
    ])]
    docs = spark.createDataFrame(data, "doc_id long, text string")
    got = rows(D.ngram_jaccard_pairs(docs, threshold=0.1, max_df=2))
    assert got == []
    # uncapped finds the boilerplate-only overlaps at a low threshold
    assert rows(D.ngram_jaccard_pairs(docs, threshold=0.1)) != []


def test_embedding_near_dup_guard():
    import pytest as _pytest

    class _FakeCount:
        def count(self):
            return 200_000

    with _pytest.raises(ValueError, match="O\\(n\\^2\\)"):
        D.embedding_near_dup_pairs(_FakeCount())


def test_incremental_pairs_between_sets(spark):
    """Cross-set near-dup detection: batch doc 3 (near-dup of corpus 1/2)
    is caught, batch doc 4 (unrelated) is not; corpus-corpus pairs like
    (1,2) never appear."""
    d = _docs(spark)
    batch = d.where(F.col("doc_id").isin(3, 4))
    corpus = d.where(F.col("doc_id").isin(1, 2, 5, 6))
    got = rows(D.ngram_jaccard_pairs_between(batch, corpus, threshold=0.5))
    pairs = {(r[0], r[1]) for r in got}
    assert (3, 1) in pairs and (3, 2) in pairs
    assert all(a == 3 for a, _ in pairs), "only batch ids on the left"
    assert all(b in (1, 2) for _, b in pairs)


def test_winnow_rows_equal_array_formulation(spark):
    """The corpus-scale posexplode+window winnowing must select exactly
    the fingerprint set of the reference array formulation."""
    from datalake_project_spark.functions.text import winnow_fingerprints, tokens

    d = _docs(spark)
    via_rows = rows(D.winnow_fingerprint_rows(d, k=3, w=2))
    via_array = rows(
        d.select("doc_id",
                 F.explode(winnow_fingerprints(tokens("text"), k=3, w=2)).alias("fp")))
    assert via_rows == via_array and via_rows


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a long one has containment 1.0 in
    the contained->container direction only; symmetric Jaccard would
    stay below threshold because the union is dominated by the big doc."""
    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"filler{i} word{i} pad{i}" for i in range(20))
    d = spark.createDataFrame([(1, small), (2, big)], "doc_id long, text string")
    got = rows(D.ngram_containment_pairs(d, threshold=0.8))
    assert got == [(1, 2, 1.0)]  # directed: only small-in-big
    assert rows(D.ngram_jaccard_pairs(d, threshold=0.5)) == []


def test_incremental_exact_dup_is_jaccard_one(spark):
    d = _docs(spark)
    batch = d.where(F.col("doc_id") == 2)    # identical to corpus doc 1
    corpus = d.where(F.col("doc_id") == 1)
    got = rows(D.ngram_jaccard_pairs_between(batch, corpus, threshold=0.5))
    assert got == [(2, 1, 1.0)]


def test_scan_fan_out_fires_only_on_narrow_scans(spark, tmp_path):
    """scan_fan_out_width spreads a single-split fixture scan across the
    cluster (r12: the tokenize+shingle pass otherwise runs on ONE core)
    and must be a no-op for in-memory frames and wide-enough scans."""
    from pyspark.sql import functions as F

    from datalake_project_spark.operators.dedup import _doc_shingles
    from datalake_project_spark.tuning import scan_fan_out_width

    cores = spark.sparkContext.defaultParallelism
    # tiny parquet -> one split -> fan out to ONE wave of core-count
    # tasks (r13: the flat 2x-cores width over-partitioned KB-scale
    # fixtures; 2x only unlocks at >= 1 MiB per extra partition)
    p = tmp_path / "docs"
    spark.range(50).coalesce(1) \
        .select(F.col("id").alias("doc_id"),
                F.lit("alpha beta gamma delta").alias("text")) \
        .write.mode("overwrite").parquet(str(p))
    docs = spark.read.parquet(str(p))
    assert scan_fan_out_width(docs) == cores
    # in-memory frame: no input files -> no fan-out
    mem = spark.range(5).select(F.col("id").alias("doc_id"),
                                F.lit("a b c").alias("text"))
    assert scan_fan_out_width(mem) is None
    # scan wide enough on its own (simulated via a tiny split target)
    saved = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16")
        assert scan_fan_out_width(docs) is None
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", saved)
    # shingle output is identical with and without the fan-out exchange
    got = {(r["_id"], tuple(r["_shingles"]))
           for r in _doc_shingles(docs, "doc_id", "text", 3).collect()}
    want = {(i, ("alpha beta gamma", "beta gamma delta")) for i in range(50)}
    assert got == want
