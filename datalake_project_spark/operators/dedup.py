"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:
- Exact dedup is a deterministic keep-first per key (row_number over an
  explicit tie-break order — Spark's dropDuplicates keeps an *arbitrary*
  row, which is not reproducible across runs/cluster sizes).
- Pairwise similarity NEVER materializes the O(n^2) cross product.
  The n-gram path builds an inverted index (explode shingles -> self-join
  on shingle -> count) so cost is sum over shingles of df^2, not n^2.
  The MinHash-LSH path reduces that further: fixed-size signatures
  (num_perm ints/doc regardless of doc length), banded bucketing, and
  only bucket-colliding pairs are verified exactly.
- All hashing is closed-form integer arithmetic inside codegen
  (xxhash64 reduced mod 2^31-1, then universal hashing a*x+b mod p with
  a,b < 2^20 so products stay < 2^52 — no int64 overflow under ANSI mode).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.functions.text import shingles, tokens
from datalake_project_spark.tuning import fan_out_scan

MERSENNE31 = 2_147_483_647  # field for minhash arithmetic


def dedup_exact(df: DataFrame, keys: list[str], order_by: list[Column] | None = None) -> DataFrame:
    """Keep exactly one row per key group, deterministically (first row by
    ``order_by``, which defaults to all non-key columns ascending)."""
    order = order_by or [F.col(c).asc_nulls_first() for c in df.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _shingles) for every document — including empty arrays for
    docs shorter than ``n`` tokens (r12 contract change: the old
    ``size >= 1`` filter inlined the whole shingle expression into a
    scan-stage predicate, which both defeated the fan-out below and
    evaluated the tokenizer twice; empty arrays vanish at the explode
    every consumer performs, and consumers that count documents count
    distinct ids on the exploded index instead)."""
    # spread the tokenize+shingle pass across the cluster BEFORE the
    # expensive expressions run when the scan undershoots the cores
    # (projection stays above the exchange; the id hash is
    # deterministic, so retries are safe)
    base = fan_out_scan(docs.select(F.col(id_col).alias("_id"),
                                    F.col(text_col).alias("_text")), "_id")
    sh = shingles(tokens(F.col("_text")), n=n)
    return base.select("_id", sh.alias("_shingles"))


def _verify_pairs_exact(hashed: DataFrame, cands: DataFrame,
                        threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs only. ``hashed`` is
    (_id, _hs: array<long>) of xxhash64'd distinct shingles; set Jaccard
    is preserved (shingles are distinct, hash collisions negligible)."""
    sha = hashed.select(F.col("_id").alias("a_id"), F.col("_hs").alias("_sa"))
    shb = hashed.select(F.col("_id").alias("b_id"), F.col("_hs").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cands.join(sha, "a_id").join(shb, "b_id")
        .withColumn("jaccard", F.round(jac, 4))
        .where(jac >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = None,
                        num_partitions: int | None = None) -> DataFrame:
    """Exact near-duplicate pairs by word-``n``-gram Jaccard >= threshold.

    Inverted-index plan: explode distinct shingles, self-join on shingle
    (only docs sharing >=1 shingle ever meet), count shared shingles per
    pair, then J = inter / (|A| + |B| - inter). Jaccard is a ratio of
    ints -> bit-identical across engines.

    The index carries xxhash64 of each shingle, not the shingle string:
    the self-join shuffles 8-byte keys instead of ~20-byte-per-word
    n-grams (at 100 TB the shuffle IS the cost; hash collisions merging
    two distinct shingles are negligible at any corpus size).

    ``max_df`` is the skew valve for corpus scale: the self-join costs
    sum over shingles of df^2, and boilerplate shingles (site chrome,
    license headers) dominate that sum. With ``max_df`` set, shingles
    with document frequency > max_df are dropped from the CANDIDATE
    index only; surviving pairs are then re-verified against the FULL
    shingle sets, so every emitted Jaccard value is still exact — the
    cap can only lose pairs whose overlap is exclusively ultra-common
    shingles, which at threshold >= 0.5 means near-pure boilerplate.

    ``num_partitions`` sizes the self-join / pair-count exchanges
    (callers derive it from the corpus footprint via
    ``tuning.width``): the sum-df² pair stream's aggregate
    hash tables otherwise sit on the session's static shuffle width
    and spill once the corpus outgrows it (q_dedup_bcubed measured
    2.6 GB spilled at the r6 ladder's 10x point on 32 partitions).
    """
    sh = _doc_shingles(docs, id_col, text_col, n)
    if max_df is not None:
        # (_id, hash-array) feeds the candidate index AND both sides of
        # the exact re-verify join; lazy localCheckpoint tokenizes and
        # shingles the corpus ONCE (compact payload: 8 B per shingle)
        hashed = sh.select("_id", F.transform(
            "_shingles", lambda s: F.xxhash64(s)).alias("_hs")) \
            .localCheckpoint(eager=False)
        inv = hashed.select("_id", F.explode("_hs").alias("_s"))
        rare = (inv.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") <= max_df).select("_s"))
        inv = inv.join(rare, "_s")  # drop heavy-hitter shingles
        if num_partitions is not None:
            inv = inv.repartition(num_partitions, "_s")
        a, b = inv.alias("a"), inv.alias("b")
        cands = (
            a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        )
        if num_partitions is not None:
            cands = cands.repartition(num_partitions, "a_id", "b_id")
        return _verify_pairs_exact(hashed, cands.distinct(), threshold)

    # one tokenize+shingle+hash pass for the WHOLE query: the compact
    # (_id, hash-array) table is lazily checkpointed and feeds the
    # inverted index (both self-join sides) AND the size legs — before
    # r12 the sizes leg re-ran the tokenizer from the parquet in its
    # own (single-task at fixture scale) stage
    hashed = sh.select("_id", F.transform(
        "_shingles", lambda s: F.xxhash64(s)).alias("_hs")) \
        .localCheckpoint(eager=False)
    sizes = hashed.select("_id", F.size("_hs").alias("_n"))
    inv = hashed.select("_id", F.explode("_hs").alias("_s"))
    if num_partitions is not None:
        # widen the shingle-keyed exchange so the join (and the pair
        # partial-aggregates running on its output partitions) split
        # the sum-df² working set across footprint-sized tasks
        inv = inv.repartition(num_partitions, "_s")

    a, b = inv.alias("a"), inv.alias("b")
    raw = (a.join(b, (F.col("a._s") == F.col("b._s"))
                  & (F.col("a._id") < F.col("b._id")))
           .select(F.col("a._id").alias("a_id"),
                   F.col("b._id").alias("b_id")))
    if num_partitions is not None:
        # size the pair-count exchange too: map-side combine buys
        # almost nothing here (a pair's duplicate wedges live in
        # DIFFERENT shingle partitions), so shuffling the raw stream
        # into footprint-sized buckets costs the same bytes and keeps
        # every aggregate hash table ~128 MB
        raw = raw.repartition(num_partitions, "a_id", "b_id")
    inter = (raw.groupBy("a_id", "b_id")
             .agg(F.count(F.lit(1)).alias("_inter")))
    sa = sizes.select(F.col("_id").alias("a_id"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("b_id"), F.col("_n").alias("_nb"))
    jac = F.col("_inter").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
    return (
        inter.join(sa, "a_id").join(sb, "b_id")
        .withColumn("jaccard", F.round(jac, 4))
        .where(jac >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def winnow_fingerprint_rows(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 5,
                            w: int = 4) -> DataFrame:
    """Winnowing fingerprints as ROWS (id, fp) — the corpus-scale
    formulation of ``functions.text.winnow_fingerprints``.

    The pure-array version evaluates the span/hash arrays once per
    zip_with operand (Catalyst does not share subexpressions across
    lambda slices), which multiplies the per-row work ~20x — measured
    57 s at sf0.1 vs ~3 s for this shape. Here each span hash is
    computed exactly once on its own row (posexplode), and the w-wide
    window minimum is a plain window function over (id, pos): one
    shuffle on the doc id, which the downstream pair join reuses.
    Output is identical to exploding the array version (unit-tested).
    """
    from pyspark.sql.window import Window

    from datalake_project_spark.functions.text import (
        char_fold_hash, span_list, tokens,
    )

    # single-split fixture scan: spread the span+hash pass (r12
    # profile: a 2.8 s single-task stage; see tuning.fan_out_scan)
    base = fan_out_scan(docs.select(F.col(id_col).alias("_id"),
                                    F.col(text_col).alias("_text")), "_id")
    spans = base.select(
        "_id",
        F.posexplode(span_list(tokens(F.col("_text")), k))
        .alias("_pos", "_span"))
    hashed = spans.select(
        "_id", "_pos", char_fold_hash(F.col("_span")).alias("_h"),
        F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"))
    sel = Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, w - 1)
    return (hashed
            .withColumn("_fp", F.min("_h").over(sel))
            .where(F.col("_pos") <= F.col("_n") - w)
            .select(F.col("_id").alias(id_col), F.col("_fp").alias("fp"))
            .distinct())


def ngram_containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            threshold: float = 0.8) -> DataFrame:
    """Directed near-duplicate pairs by shingle CONTAINMENT
    C(A in B) = |A ∩ B| / |A| >= threshold — the asymmetric complement
    of Jaccard that catches a small document embedded in a larger one
    (quote farms, page-in-site, excerpt reposts), where Jaccard stays
    low because the union is dominated by the big side.

    Output is directed: (contained_id, container_id, containment), one
    row per direction that clears the threshold. Same inverted-index
    plan and Σ df² cost as ``ngram_jaccard_pairs`` (one extra emitted
    direction, not an extra join); containment is a ratio of ints, so
    values are engine-exact.
    """
    sh = _doc_shingles(docs, id_col, text_col, n)
    # one tokenize pass: hashed arrays checkpointed, index + size legs
    # both derive from it (same r12 restructure as ngram_jaccard_pairs)
    hashed = sh.select("_id", F.transform(
        "_shingles", lambda s: F.xxhash64(s)).alias("_hs")) \
        .localCheckpoint(eager=False)
    sizes = hashed.select("_id", F.size("_hs").alias("_n"))
    inv = hashed.select("_id", F.explode("_hs").alias("_s"))
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") != F.col("b._id")))
        .groupBy(F.col("a._id").alias("contained_id"),
                 F.col("b._id").alias("container_id"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("contained_id"), F.col("_n").alias("_na"))
    cont = F.col("_inter").cast("double") / F.col("_na").cast("double")
    return (
        inter.join(sa, "contained_id")
        .withColumn("containment", F.round(cont, 4))
        .where(cont >= threshold)
        .select("contained_id", "container_id", "containment")
    )


def ngram_jaccard_pairs_between(left: DataFrame, right: DataFrame,
                                id_col: str = "doc_id", text_col: str = "text",
                                n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Cross-set near-duplicate pairs (left x right) by word-n-gram
    Jaccard >= threshold — the INCREMENTAL dedup primitive: a new batch
    is checked against the existing corpus without recomputing any
    corpus-corpus pairs.

    Same inverted-index shape as ``ngram_jaccard_pairs`` (cost is
    sum over shared shingles of df_left * df_right, never |L| x |R|),
    but the join is between two indexes instead of a self-join. At
    100 TB the corpus index is built once and the daily batch index is
    tiny, so AQE broadcasts the batch side of the shingle join and the
    corpus is never shuffled.
    """
    shl = _doc_shingles(left, id_col, text_col, n)
    shr = _doc_shingles(right, id_col, text_col, n)
    sl = shl.select(F.col("_id").alias("a_id"), F.size("_shingles").alias("_na"))
    sr = shr.select(F.col("_id").alias("b_id"), F.size("_shingles").alias("_nb"))
    invl = shl.select(F.col("_id").alias("a_id"), F.explode(
        F.transform("_shingles", lambda s: F.xxhash64(s))).alias("_s"))
    invr = shr.select(F.col("_id").alias("b_id"), F.explode(
        F.transform("_shingles", lambda s: F.xxhash64(s))).alias("_s"))
    inter = (invl.join(invr, "_s")
             .groupBy("a_id", "b_id").agg(F.count(F.lit(1)).alias("_inter")))
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double")
    return (
        inter.join(sl, "a_id").join(sr, "b_id")
        .withColumn("jaccard", F.round(jac, 4))
        .where(jac >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _minhash_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    # a,b < 2^20 and x < 2^31 keeps a*x + b < 2^52 (ANSI-safe in int64).
    return [(rng.randrange(1, 1 << 20), rng.randrange(0, 1 << 20)) for _ in range(num_perm)]


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.5, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, exact-verified.

    num_perm=64 / bands=16 (rows-per-band 4) puts the S-curve threshold at
    ~(1/16)^(1/4) ~= 0.5; candidate pairs are then verified with the exact
    shingle-set Jaccard, so the output contains no LSH false positives —
    only (possibly) false negatives, and for J >= 0.8 the miss probability
    is (1 - 0.8^4)^16 ~= 2e-4 per pair.

    Physical shape: each shingle string is xxhash64'd exactly ONCE; the
    ``num_perm`` permutations are min-aggregates of closed-form integer
    expressions over an exploded (doc, shingle-hash) inverted index — a
    single shuffle on doc id with map-side partial mins, no wide nested
    array expressions (which blow up codegen compile time), and the
    hashed arrays are reused for the exact verification join.
    """
    rows_per_band = num_perm // bands
    params = _minhash_params(num_perm, seed)

    sh = _doc_shingles(docs, id_col, text_col, n)
    # hash once: all minhash arithmetic and verification run on int64s.
    # localCheckpoint (not cache): materializes once for the three uses
    # below AND truncates lineage; the blocks are released when the RDD
    # is garbage-collected, so repeated calls in a long-lived session
    # don't accumulate executor storage the way never-unpersisted
    # .cache() entries do.
    hashed = sh.select(
        "_id",
        F.transform("_shingles",
                    lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31))).alias("_hs"),
    ).localCheckpoint(eager=True)

    inv = hashed.select("_id", F.explode("_hs").alias("_h"))
    sig = inv.groupBy("_id").agg(*[
        F.min(F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(MERSENNE31))).alias(f"_m{i}")
        for i, (a, b) in enumerate(params)
    ])

    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.xxhash64(*[f"_m{i * rows_per_band + j}"
                         for j in range(rows_per_band)]).alias("h"),
        )
        for i in range(bands)
    ]
    buckets = sig.select("_id", F.explode(F.array(*band_cols)).alias("_b"))

    a, b = buckets.alias("a"), buckets.alias("b")
    cands = (
        a.join(b, (F.col("a._b") == F.col("b._b")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
        .distinct()
    )
    # Exact verification of candidates only, on the hashed shingle sets
    # (set Jaccard is preserved: shingles are distinct and xxhash64
    # collisions are negligible at any realistic corpus size).
    return _verify_pairs_exact(hashed, cands, threshold)


def simhash_signature(token_arr: Column, bits: int = 64) -> Column:
    """SimHash over distinct tokens: bit b of the signature is the sign of
    sum over tokens of (2*bit_b(xxhash64(token)) - 1)."""
    toks = F.array_distinct(token_arr)

    def bit_contrib(b: int):
        def f(acc, t):
            bit_b = F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1))
            return acc + (bit_b * 2 - 1)
        return f

    sig = F.lit(0).cast("long")
    for b in range(bits):
        contrib = F.aggregate(toks, F.lit(0).cast("long"), bit_contrib(b))
        bit = F.when(contrib >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        if b < 63:
            sig = sig + F.shiftleft(bit, b)
        else:
            # avoid setting the sign bit via overflow under ANSI mode
            sig = F.when(bit == 1, sig + F.lit(-9223372036854775808)).otherwise(sig)
    return sig


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <= max_hamming.

    Candidate generation by the pigeonhole principle: split the signature
    into max_hamming+1 chunks; any pair within distance max_hamming agrees
    on >= 1 chunk, so bucket-join per chunk has perfect recall.
    """
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1

    # Same math as simhash_signature, but shaped for scale: explode the
    # distinct tokens, hash each once, and take the 64 per-bit sums as
    # groupBy aggregates (one shuffle, map-side partials, small codegen
    # expressions) instead of 64 array folds per row.
    # single-split fixture scan: spread the tokenize pass (see
    # tuning.fan_out_scan — a no-op at production scan widths)
    base = fan_out_scan(docs.select(F.col(id_col).alias("_id"),
                                    F.col(text_col).alias("_text")), "_id")
    inv = (base.select("_id",
                       F.explode(F.array_distinct(tokens(F.col("_text"))))
                       .alias("_t"))
           .select("_id", F.xxhash64("_t").alias("_h")))
    contribs = inv.groupBy("_id").agg(*[
        F.sum(F.shiftright("_h", b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_c{b}")
        for b in range(bits)
    ])

    sig_col = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.when(F.col(f"_c{b}") >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        if b < 63:
            sig_col = sig_col + F.shiftleft(bit, b)
        else:
            # avoid setting the sign bit via overflow under ANSI mode
            sig_col = F.when(bit == 1, sig_col + F.lit(-9223372036854775808)).otherwise(sig_col)
    # localCheckpoint, not cache: see minhash_lsh_pairs — blocks are
    # released on GC instead of pinning executor storage forever.
    sig = contribs.select("_id", sig_col.alias("_sig")).localCheckpoint(eager=True)

    chunk_cols = [
        F.struct(F.lit(i).alias("c"),
                 F.shiftrightunsigned("_sig", i * chunk_bits).bitwiseAND(F.lit(mask)).alias("v"))
        for i in range(n_chunks)
    ]
    buckets = sig.select("_id", "_sig", F.explode(F.array(*chunk_cols)).alias("_b"))
    a, b = buckets.alias("a"), buckets.alias("b")
    hamming = F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig")))
    return (
        a.join(b, (F.col("a._b") == F.col("b._b")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"),
                hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(pairs: DataFrame, a_col: str = "a_id",
                         b_col: str = "b_id", max_iter: int = 30) -> DataFrame:
    """Connected components over near-duplicate pairs: returns
    (``id``, ``rep``) where ``rep`` is the minimum id reachable in the
    undirected pair graph — the canonical representative used to keep
    ONE document per duplicate cluster.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds. Each round is one join + one min-aggregate (both
    shuffles on the node id, so they co-partition), with
    ``localCheckpoint`` truncating the growing lineage — the classic
    Spark formulation of an iterative graph algorithm without GraphX.
    Near-dup clusters are short-diameter by construction, so rounds stay
    in the low single digits.
    """
    und = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .distinct().localCheckpoint(eager=True)
    labels = (edges.select("u").distinct()
              .withColumn("label", F.col("u")))
    for _ in range(max_iter):
        # r12 round shape: carry the OLD label through the min-update so
        # convergence detection is a filter over the checkpointed round
        # output instead of a second join+shuffle job per round (the r11
        # form ran new⋈old as its own 2-exchange job every iteration)
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u").agg(F.min("label").alias("_nl")))
        upd = (labels.join(neighbor_min, "u", "left")
               .select("u", F.col("label").alias("_old"),
                       F.least("label", F.coalesce("_nl", "label"))
                       .alias("label"))
               .localCheckpoint(eager=True))
        changed = upd.where(F.col("label") != F.col("_old")).count()
        labels = upd.select("u", "label")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("id"), F.col("label").alias("rep"))


def embedding_near_dup_pairs(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.5) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine >= threshold.

    Baseline is the exact O(n^2/2) self-join (id< id) — correct at test SF
    and ONLY at test SF. The scale paths are
    `similarity.block_pairwise_cosine` (exact, block-matrix) and the
    hyperplane-LSH bucketing; a guard below refuses to run the quadratic
    join on inputs where n^2 is plainly unreasonable.
    """
    import warnings

    from datalake_project_spark.functions.vectors import cosine

    n = emb.count()
    if n > 100_000:
        raise ValueError(
            f"embedding_near_dup_pairs is the O(n^2) correctness baseline; "
            f"{n} rows means {n * (n - 1) // 2} pairs. Use "
            f"similarity.block_pairwise_cosine (exact) or the LSH path.")
    if n > 20_000:
        warnings.warn(
            f"embedding_near_dup_pairs on {n} rows is quadratic; prefer "
            f"similarity.block_pairwise_cosine", stacklevel=2)

    a = emb.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"))
    cos = cosine(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cos_sim", F.round(cos, 4))
        .where(cos >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )
