"""Substring-level dedup and corpus language-model scoring over
`documents` — the position-sensitive complement of the shingle-set
dedup family (`queries/dedup.py`).

Three operators a large-scale training-data pipeline runs that set-based
near-dup misses:

- **Repeated-span mining** (`q_dedup_substring_spans`): exact word-level
  n-gram spans occurring in more than one document — the candidate step
  of exact substring deduplication (the "repeated 50-gram removal" pass
  of modern corpus dedup; at token-level granularity the reference shape
  is the suffix-array dedup of Lee et al. 2022, which this realizes as a
  distributed explode + groupBy instead of a monolithic suffix array).
- **Winnowing candidate pairs** (`q_dedup_winnow_pairs`): MOSS-style
  local fingerprinting (Schleimer et al., SIGMOD 2003) — window-minimum
  span hashes guarantee any shared run of >= k+w-1 tokens is detected
  while keeping ~2/(w+1) of the hashes.
- **Bigram-LM scoring** (`q_text_bigram_lm`): per-document mean log
  probability under an add-one-smoothed bigram model trained on the
  corpus itself — the CCNet/KenLM-style perplexity quality filter,
  expressed as two aggregations and two joins.

All three are pure DataFrame ops (explode + groupBy + join); hashes are
exact integer arithmetic so every query is fully value-hash oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.functions import text as T
from datalake_project_spark.queries import local_df, register

_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

SPAN_N = 8  # words per span for repeated-span mining


@register(
    "q_dedup_substring_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    sp AS (
        SELECT doc_id,
               unnest([array_to_string(ws[i:i+{SPAN_N - 1}], ' ')
                       FOR i IN range(1, len(ws) - {SPAN_N - 2})]) AS span
        FROM tok WHERE len(ws) >= {SPAN_N})
    SELECT span,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM sp
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=f"Exact repeated-span mining: every {SPAN_N}-word span occurring "
        "in >= 2 documents, with document and occurrence counts — the "
        "candidate step of exact substring dedup (Lee et al. 2022 style, "
        "as one explode + one groupBy with map-side partials instead of "
        "a suffix array). At 100 TB spans are hashed to 8-byte keys "
        "before the shuffle and re-verified after, exactly as the "
        "n-gram-Jaccard operator does; the plain-string key here keeps "
        "the query oracle-exact.",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import fan_out_scan

    # r12: spread the tokenize+span pass when the scan is single-split
    # (guide §2.5; no-op at production scan widths)
    d = fan_out_scan(Catalog(spark, sf_dir).table("documents"), "doc_id")
    sp = d.select(
        "doc_id", F.explode(T.span_list(T.tokens("text"), SPAN_N)).alias("span"))
    return (
        sp.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_docs") >= 2)
    )


@register(
    "q_dedup_substring_spans_hashed",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    sp AS (
        SELECT doc_id,
               unnest([array_to_string(ws[i:i+{SPAN_N - 1}], ' ')
                       FOR i IN range(1, len(ws) - {SPAN_N - 2})]) AS span
        FROM tok WHERE len(ws) >= {SPAN_N})
    SELECT span,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM sp
    GROUP BY span
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=f"Repeated-span mining with 8-byte shuffle keys — the 100 TB "
        "formulation of q_dedup_substring_spans (its oracle-exact spec "
        "twin, same oracle): candidate generation groups by "
        "xxhash64(span) so the wide shuffle carries (hash, doc_id) "
        "pairs instead of ~60-byte span strings; only SURVIVING hashes "
        "(shared by >= 2 docs) are then re-grouped by the exact string, "
        "so the full-string shuffle is bounded by the repeated fraction. "
        "A hash collision can only ADD a candidate (all copies of one "
        "string share its hash), and the exact-string re-verification "
        "filters any such false survivor — output is bit-identical to "
        "the exact query. Same discipline as the df-capped Jaccard "
        "index (operators/dedup.py ngram_jaccard_pairs).",
)
def q_dedup_substring_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import fan_out_scan

    # r12: spread the tokenize+span pass when the scan is single-split
    d = fan_out_scan(Catalog(spark, sf_dir).table("documents"), "doc_id")
    sp = d.select(
        "doc_id", F.explode(T.span_list(T.tokens("text"), SPAN_N)).alias("span"))
    # the hashed span stream feeds the survivor index AND the re-verify
    # aggregate: lazy localCheckpoint tokenizes the corpus once
    h = sp.withColumn("h", F.xxhash64("span")).localCheckpoint(eager=False)
    survivors = (h.groupBy("h")
                 .agg(F.count_distinct("doc_id").alias("nd"))
                 .where(F.col("nd") >= 2)
                 .select("h"))
    return (
        h.join(survivors, "h", "left_semi")
        .groupBy("span")
        .agg(F.count_distinct("doc_id").alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_docs") >= 2)
    )


@register(
    "q_dedup_substring_removal",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    sp AS (
        SELECT doc_id, t.i AS pos,
               array_to_string(ws[t.i:t.i+{SPAN_N - 1}], ' ') AS span
        FROM tok, unnest(range(1, len(ws) - {SPAN_N - 2})) AS t(i)
        WHERE len(ws) >= {SPAN_N}),
    rep AS (SELECT span FROM sp GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
        SELECT DISTINCT s.doc_id, u.p
        FROM sp s JOIN rep USING (span),
             unnest(range(s.pos, s.pos + {SPAN_N})) AS u(p)),
    covc AS (SELECT doc_id, COUNT(*) AS n_covered FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_covered, 0) AS BIGINT) AS n_covered,
           CAST(len(t.ws) - COALESCE(c.n_covered, 0) AS BIGINT) AS n_surviving
    FROM tok t LEFT JOIN covc c USING (doc_id)
    """,
    doc=f"Substring-removal pass — the second half of exact substring "
        "dedup (Lee et al. 2022): every token position covered by a "
        f"{SPAN_N}-word span that repeats across >= 2 documents is "
        "masked; output is per-document original/covered/surviving "
        "token counts (all integers -> hash-exact oracle). Plan: "
        "positions ride the same hashed candidate index as "
        "q_dedup_substring_spans_hashed (8-byte shuffle keys, exact "
        "re-verification of survivors), covered positions materialize "
        "as (doc_id, int) pairs via sequence+explode — never the "
        "rewritten text itself, which at 100 TB is a map-side "
        "slice-and-concat over this position set.",
)
def q_dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import fan_out_scan

    # r12: spread the tokenize+span pass when the scan is single-split
    d = fan_out_scan(Catalog(spark, sf_dir).table("documents"), "doc_id")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    sp = tok.select(
        "doc_id",
        F.posexplode(T.span_list(F.col("ws"), SPAN_N)).alias("pos", "span"))
    h = sp.withColumn("h", F.xxhash64("span"))
    surv_h = (h.groupBy("h")
              .agg(F.count_distinct("doc_id").alias("nd"))
              .where(F.col("nd") >= 2).select("h"))
    cand = h.join(surv_h, "h", "left_semi")
    rep = (cand.groupBy("span")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2).select("span"))
    covered = (
        cand.join(rep, "span", "left_semi")
        .select("doc_id",
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + SPAN_N - 1)).alias("p"))
        .distinct()
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("nc")))
    base = tok.select("doc_id", F.size("ws").cast("long").alias("n_tokens"))
    return (
        base.join(covered, "doc_id", "left")
        .select("doc_id", "n_tokens",
                F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("n_covered"),
                (F.col("n_tokens")
                 - F.coalesce(F.col("nc"), F.lit(0))).cast("long")
                .alias("n_surviving"))
    )


WINNOW_K = 5  # span length (tokens) hashed for winnowing
WINNOW_W = 4  # window width (spans) per fingerprint selection


@register(
    "q_dedup_winnow_pairs",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    spans AS (
        SELECT doc_id, t.i AS pos,
               array_to_string(ws[t.i:t.i+{WINNOW_K - 1}], ' ') AS span
        FROM tok, unnest(range(1, len(ws) - {WINNOW_K - 2})) AS t(i)
        WHERE len(ws) >= {WINNOW_K}),
    hashed AS (
        SELECT doc_id, pos,
               list_reduce(list_prepend(0::BIGINT,
                   [unicode(span[i])::BIGINT FOR i IN range(1, length(span) + 1)]),
                 (acc, x) -> (acc * 31 + x) % 2147483647) AS h,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_spans
        FROM spans),
    winnowed AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id, pos, n_spans,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {WINNOW_W - 1} FOLLOWING) AS fp
            FROM hashed)
        WHERE pos <= n_spans - {WINNOW_W - 1})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared
    FROM winnowed a JOIN winnowed b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
    doc=f"Winnowing (MOSS, Schleimer et al. 2003) near-dup candidates: "
        f"hash every {WINNOW_K}-token span (exact integer polynomial "
        f"hash), keep the min of each {WINNOW_W}-wide position window, "
        "pair documents sharing >= 2 selected fingerprints. Detection "
        f"guarantee: any shared run of >= {WINNOW_K + WINNOW_W - 1} "
        f"tokens always shares a fingerprint, at ~2/(w+1) of the hash "
        "volume — the storage/recall dial between exact substring dedup "
        "and shingle sets. Spark plan: fingerprints are array ops in "
        "codegen (no explode until the index), then the same "
        "inverted-index self-join shape as n-gram Jaccard: shuffle "
        "carries (id, 8-byte hash) only, cost Σ df², never n².",
)
def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.dedup import winnow_fingerprint_rows

    d = Catalog(spark, sf_dir).table("documents")
    # fingerprints feed both sides of the pair join: materialize the
    # winnowing pipeline once (lazy localCheckpoint, the inverted-index
    # discipline of operators/dedup.py)
    fps = winnow_fingerprint_rows(d, k=WINNOW_K, w=WINNOW_W) \
        .localCheckpoint(eager=False)
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@register(
    "q_text_bigram_lm",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS w FROM tok),
    c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM uni GROUP BY w),
    v AS (SELECT COUNT(DISTINCT w) AS vocab FROM uni),
    bg AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS bg
        FROM tok WHERE len(ws) >= 2),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(LN((c2.c2 + 1)::DOUBLE / (c1.c1 + v.vocab)::DOUBLE)), 4)
               AS avg_logprob
    FROM bg
    JOIN c2 USING (bg)
    JOIN c1 ON string_split(bg.bg, ' ')[1] = c1.w1
    CROSS JOIN v
    GROUP BY bg.doc_id
    """,
    doc="Corpus-trained bigram language model scoring (the CCNet/"
        "KenLM-shaped perplexity quality filter): P(w2|w1) with add-one "
        "smoothing over corpus counts, per-document mean log probability. "
        "Train = two groupBys (unigram + bigram counts, map-side "
        "partials); score = re-join the exploded bigrams to both count "
        "tables. The LM tables are vocab-sized — the broadcast side at "
        "100 TB (AQE picks broadcast here); the corpus side is exploded "
        "once and shuffled once per count table.",
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    uni = tok.select(F.explode("ws").alias("w"))
    c1 = uni.groupBy(F.col("w").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    # vocab size as a 1-row aggregate crossJoin'd in (broadcast): the
    # whole query is ONE DAG — no driver-side action mid-construction
    # (pinned by tests/test_plans.py). Derived from c1 (row count ==
    # distinct unigrams), NOT from a second count_distinct corpus pass.
    # No localCheckpoint here: under AQE even eager=False materializes
    # shuffle stages at construction, and this query is pinned fully
    # declarative.
    v = c1.agg(F.count(F.lit(1)).alias("vocab"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    bg = (tok.where(n >= 2)
          .select("doc_id", F.explode(bg_arr).alias("bg")))
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bg.join(c2, "bg")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .withColumn("lp", F.log((F.col("c2") + 1).cast("double")
                                / (F.col("c1") + F.col("vocab")).cast("double")))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"))


@register(
    "q_text_bpe_merge_counts",
    oracle=f"""
    WITH wc AS (
        SELECT u.w AS word, COUNT(*) AS wn
        FROM (SELECT {_SQL_TOKS} AS toks FROM documents) t,
             unnest(t.toks) AS u(w)
        GROUP BY u.w),
    pairs AS (
        SELECT word[i] || word[i+1] AS pair, wn
        FROM wc, unnest(range(1, length(word))) AS r(i)
        WHERE length(word) >= 2),
    counts AS (
        SELECT pair, CAST(SUM(wn) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair),
    ranked AS (
        SELECT pair, n_occurrences,
               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rk
        FROM counts)
    SELECT pair, n_occurrences, rk FROM ranked WHERE rk <= 20
    """,
    doc="First BPE merge round, for real (the iterated core of tokenizer "
        "training): adjacent symbol-pair frequencies over the initial "
        "character sequences, weighted by corpus word counts — the "
        "arg-max pair IS the first merge a BPE trainer performs. "
        "Aggregating the corpus to the word-count table first (vocab-"
        "sized) makes each merge round's pair count a job over the "
        "VOCABULARY, not the corpus — the reason BPE training is "
        "feasible at 100 TB. Deterministic top-20 via the integer+string "
        "order (count desc, pair asc).",
)
def q_text_bpe_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).table("documents")
    wc = (d.select(F.explode(T.tokens("text")).alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))
    chars = F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0)
    n = F.size(chars)
    pair_arr = F.zip_with(
        F.slice(chars, 1, n - 1), F.slice(chars, 2, n - 1),
        lambda a, b: F.concat(a, b))
    pairs = (wc.where(F.length("word") >= 2)
             .select(F.explode(pair_arr).alias("pair"), "wn"))
    counts = pairs.groupBy("pair").agg(F.sum("wn").cast("long").alias("n_occurrences"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-20 + merge) — no single-partition global window; row_number
    # then ranks only the surviving 20 rows.
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(20)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.withColumn("rk", F.row_number().over(w))


BPE_ROUNDS = 5


def _bpe_rounds_sql(n_rounds: int) -> str:
    """Shared CTE chain for the unrolled BPE merge rounds, carrying the
    original ``word`` through every round so downstream CTEs can join
    the final symbolization back to the corpus (used by both the train
    and the encode oracle)."""
    parts = [f"""
    WITH wc AS (
        SELECT u.w AS word, COUNT(*) AS wn
        FROM (SELECT {_SQL_TOKS} AS toks FROM documents) t,
             unnest(t.toks) AS u(w)
        GROUP BY u.w),
    s0 AS (
        SELECT word,
               array_to_string([word[i] FOR i IN range(1, length(word) + 1)],
                               ' ') AS syms, wn
        FROM wc)"""]
    for r in range(1, n_rounds + 1):
        parts.append(f""",
    p{r} AS (
        SELECT a[i] AS p1, a[i+1] AS p2, wn
        FROM (SELECT string_split(syms, ' ') AS a, wn FROM s{r-1}) t,
             unnest(range(1, len(a))) AS u(i)),
    b{r} AS (
        SELECT p1, p2, CAST(SUM(wn) AS BIGINT) AS n
        FROM p{r} GROUP BY p1, p2
        ORDER BY n DESC, p1 ASC, p2 ASC LIMIT 1),
    s{r} AS (
        SELECT s.word,
               list_reduce(string_split(s.syms, ' '),
                 (acc, x) -> CASE WHEN x = b.p2 AND (acc = b.p1
                                  OR ends_with(acc, ' ' || b.p1))
                             THEN acc || x ELSE acc || ' ' || x END) AS syms,
               s.wn
        FROM s{r-1} s CROSS JOIN b{r} b)""")
    return "".join(parts)


def _bpe_train_oracle(n_rounds: int) -> str:
    """Unrolled N-round BPE merge oracle. Each round: adjacent-pair
    counts over the vocab-sized symbol table, deterministic arg-max
    (count desc, pair asc), then the greedy left-to-right merge applied
    as a string fold — `acc || x` when x = p2 and the fold tail is a
    whole-symbol p1 (appending x to '... p1' yields '... p1p2', exactly
    the merged symbol), else `acc || ' ' || x`. The fold is replicated
    verbatim on the Spark side so both engines produce bit-identical
    merge sequences, overlaps included ('a a a a' + (a,a) -> 'aa aa')."""
    selects = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, p1, p2, p1 || p2 AS merged, "
        f"n AS n_occurrences FROM b{r}"
        for r in range(1, n_rounds + 1))
    return _bpe_rounds_sql(n_rounds) + f"\n    {selects}"


def _bpe_encode_oracle(n_rounds: int) -> str:
    """Encode oracle: the same unrolled merge rounds, then every word's
    final symbol count joins back to the exploded corpus."""
    return _bpe_rounds_sql(n_rounds) + f""",
    enc AS (
        SELECT word, len(string_split(syms, ' ')) AS el FROM s{n_rounds}),
    inst AS (
        SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(el) AS BIGINT) AS n_bpe_tokens
    FROM inst JOIN enc ON inst.w = enc.word
    GROUP BY doc_id"""


def _bpe_merge_step(a: str, b: str):
    """The greedy left-to-right merge of adjacent (a, b) as a string-fold
    step over space-joined symbols: appending x to an acc whose tail is
    the whole symbol ``a`` yields ``...ab`` — exactly the merged symbol;
    overlaps come out exact ('a a a a' + (a,a) -> 'aa aa')."""
    def _step(acc, x):
        hit = (x == F.lit(b)) & ((acc == F.lit(a)) | acc.endswith(" " + a))
        return (F.when(hit, F.concat(acc, x))
                .otherwise(F.concat(acc, F.lit(" "), x)))
    return _step


def _apply_merge(df: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one merge round to a DataFrame with a ``syms`` column,
    keeping every other column. Pure lazy expression — no action."""
    arr = F.split("syms", " ")
    n = F.size(arr)
    others = [c for c in df.columns if c != "syms"]
    return df.select(
        F.aggregate(F.slice(arr, 2, n - 1),
                    F.element_at(arr, 1).cast("string"),
                    _bpe_merge_step(a, b)).alias("syms"), *others)


def _learn_bpe_merges(spark: SparkSession, sf_dir: str,
                      n_rounds: int) -> list[tuple]:
    """Train-once wrapper: the learned merge table is persisted to
    scratch by ``scratch.build_once``, keyed by the source file's (size,
    mtime) and ``n_rounds`` — the same build-once lifecycle as the IVF
    index (`similarity._ivf_index_for`). A tokenizer is trained once and
    applied many times; re-deriving the merges on every encode pass would
    bill the training loop to every consumer (q_text_bpe_train AND
    q_text_bpe_encode both need them).
    """
    import json

    from datalake_project_spark.scratch import build_once

    def train(tmp: str) -> None:
        with open(tmp, "w") as fh:
            json.dump(_train_bpe_merges(spark, sf_dir, n_rounds), fh)

    path = build_once("bpe", sf_dir, [f"{sf_dir.rstrip('/')}/documents.parquet"],
                      train, suffix=f"_{n_rounds}.json")
    with open(path) as fh:
        return [tuple(m) for m in json.load(fh)]


def _train_bpe_merges(spark: SparkSession, sf_dir: str,
                      n_rounds: int) -> list[tuple]:
    """The BPE training loop: returns [(round, p1, p2, merged, count)].
    One driver action per round over the VOCAB-sized symbol table."""
    d = Catalog(spark, sf_dir).table("documents")
    wc = (d.select(F.explode(T.tokens("text")).alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))
    chars = F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0)
    state = wc.select(F.concat_ws(" ", chars).alias("syms"), "wn")
    # the vocab-sized state iterates; each round's state is cached and
    # the cache is released only after the LAST action (so round r never
    # recomputes rounds 1..r-1's folds from the corpus scan)
    merges: list[tuple] = []
    cached = []
    for rnd in range(1, n_rounds + 1):
        state = state.cache()
        cached.append(state)
        arr = F.split("syms", " ")
        n = F.size(arr)
        pairs = (state.where(n >= 2)
                 .select(F.explode(F.zip_with(
                     F.slice(arr, 1, n - 1), F.slice(arr, 2, n - 1),
                     lambda x, y: F.struct(x.alias("p1"), y.alias("p2"))))
                     .alias("pr"), "wn")
                 .select("pr.p1", "pr.p2", "wn"))
        best = (pairs.groupBy("p1", "p2")
                .agg(F.sum("wn").cast("long").alias("n"))
                .orderBy(F.desc("n"), F.asc("p1"), F.asc("p2"))
                .limit(1).collect())
        if not best:
            break
        a, b, cnt = best[0]["p1"], best[0]["p2"], best[0]["n"]
        merges.append((rnd, a, b, a + b, cnt))
        state = _apply_merge(state, a, b)
    for c in cached:
        c.unpersist()
    return merges


@register(
    "q_text_bpe_train",
    oracle=_bpe_train_oracle(BPE_ROUNDS),
    doc=f"BPE tokenizer training, {BPE_ROUNDS} merge rounds for real "
        "(extends q_text_bpe_merge_counts' single pair count to the "
        "iterated loop): each round counts adjacent symbol pairs over "
        "the VOCAB-sized word-symbol table (never the corpus — the "
        "corpus aggregates to word counts once), picks the "
        "deterministic arg-max (count desc, pair asc), and applies the "
        "greedy left-to-right merge as a JVM-side string fold "
        "(F.aggregate; overlaps handled exactly: 'a a a a' + (a,a) -> "
        "'aa aa'). Output is the merge sequence (round, pair, merged "
        "symbol, occurrence count) — the artifact a tokenizer trainer "
        "persists. Iterative-on-aggregated-state like connected "
        "components: one driver action per round over a table that "
        "fits in memory at ANY corpus scale (vocab-sized), which is "
        "what makes BPE training feasible at 100 TB.",
)
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _learn_bpe_merges(spark, sf_dir, BPE_ROUNDS)
    return local_df(spark, 
        merges,
        "merge_round int, p1 string, p2 string, merged string, "
        "n_occurrences long")


@register(
    "q_text_bpe_encode",
    oracle=_bpe_encode_oracle(BPE_ROUNDS),
    doc=f"BPE tokenizer APPLICATION — encode the corpus with the "
        f"{BPE_ROUNDS}-round learned merges (the other half of "
        "q_text_bpe_train; together they are the full train-then-"
        "tokenize lifecycle): per document, the word count and the "
        "post-merge token count. The merge sequence is learned once "
        "(driver loop over the vocab-sized table), then applied as "
        f"{BPE_ROUNDS} chained lazy string folds to the DISTINCT-word "
        "table only; the corpus is touched once, by a broadcast join "
        "of word -> encoded-length (vocab-sized build side). That "
        "factoring — encode the vocabulary, join the corpus — is what "
        "makes tokenization a map-only pass at 100 TB.",
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _learn_bpe_merges(spark, sf_dir, BPE_ROUNDS)
    d = Catalog(spark, sf_dir).table("documents")
    words = (d.select(F.explode(T.tokens("text")).alias("word"))
             .distinct())
    chars = F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0)
    enc = words.select(F.concat_ws(" ", chars).alias("syms"), "word")
    for _rnd, a, b, _m, _n in merges:
        enc = _apply_merge(enc, a, b)
    enc = enc.select("word", F.size(F.split("syms", " ")).alias("el"))
    inst = d.select("doc_id", F.explode(T.tokens("text")).alias("word"))
    return (inst.join(F.broadcast(enc), "word")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("el").cast("long").alias("n_bpe_tokens")))


@register(
    "q_text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id, unnest([lower(text)[i] FOR i IN range(1, length(text) + 1)]) AS c
        FROM documents WHERE length(text) > 0),
    hist AS (SELECT doc_id, c, COUNT(*) AS n FROM chars GROUP BY doc_id, c)
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_chars_total,
           ROUND(LN(SUM(n)::DOUBLE) - SUM(n * LN(n::DOUBLE)) / SUM(n)::DOUBLE, 4)
               + 0.0 AS entropy
    FROM hist GROUP BY doc_id
    """,
    doc="Character-entropy quality signal (gibberish / mojibake / "
        "base64-blob detection — the cheap pre-filter before LM "
        "scoring): Shannon entropy of the per-document character "
        "histogram, computed as ln N - (Σ n_c ln n_c)/N so a single "
        "explode + one two-level groupBy does the whole job with "
        "map-side partials. Natural-language text sits ~2.8-3.2 nats; "
        "uniform random base64 approaches ln 64 ≈ 4.16.",
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    chars = (d.where(F.length("text") > 0)
             .select("doc_id",
                     F.explode(F.filter(F.split(F.lower("text"), ""),
                                        lambda c: F.length(c) > 0)).alias("c")))
    hist = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    n_sum = F.sum("n")
    return hist.groupBy("doc_id").agg(
        n_sum.cast("long").alias("n_chars_total"),
        (F.round(F.log(n_sum.cast("double"))
                 - F.sum(F.col("n") * F.log(F.col("n").cast("double")))
                 / n_sum.cast("double"), 4) + F.lit(0.0)).alias("entropy"))


@register(
    "q_text_dsir_weights",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_TOKS} AS ws FROM documents),
    inst AS (SELECT doc_id, lang, unnest(ws) AS w FROM tok),
    raw AS (SELECT w, COUNT(*) AS cr FROM inst GROUP BY w),
    tgt AS (SELECT w, COUNT(*) AS ct FROM inst WHERE lang = 'en' GROUP BY w),
    tot AS (SELECT COUNT(*) AS nr,
                   COUNT(*) FILTER (WHERE lang = 'en') AS nt,
                   COUNT(DISTINCT w) AS vocab
            FROM inst)
    SELECT inst.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(LN((COALESCE(tgt.ct, 0) + 1)::DOUBLE / (tot.nt + tot.vocab)::DOUBLE)
                     - LN((raw.cr + 1)::DOUBLE / (tot.nr + tot.vocab)::DOUBLE)), 4)
               + 0.0 AS log_importance
    FROM inst
    JOIN raw USING (w)
    LEFT JOIN tgt USING (w)
    CROSS JOIN tot
    GROUP BY inst.doc_id
    """,
    doc="DSIR-style importance weights (Xie et al. 2023 shape): per-"
        "document mean log importance ln(p_target(w)/p_raw(w)) under "
        "add-one-smoothed unigram models, target = the lang='en' slice, "
        "raw = the whole corpus. The importance-resampling step of "
        "targeted corpus selection: weights feed the deterministic "
        "hash-bucket sampler (q_corpus_mix) to tilt a 100 TB crawl "
        "toward a target distribution. Same plan shape as the bigram "
        "LM: two vocab-sized count tables (broadcast side) re-joined to "
        "the exploded corpus (one shuffle each).",
)
def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    inst = d.select("doc_id", "lang", F.explode(T.tokens("text")).alias("w"))
    raw = inst.groupBy("w").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (inst.where(F.col("lang") == "en")
           .groupBy("w").agg(F.count(F.lit(1)).alias("ct")))
    # corpus totals as a broadcast 1-row aggregate, not a driver action:
    # one DAG, the totals pass shares the scan with the count tables.
    totals = inst.agg(
        F.count(F.lit(1)).alias("nr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("nt"),
        F.count_distinct("w").alias("vocab"))
    scored = (
        inst.join(raw, "w")
        .join(tgt, "w", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("lp", F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                                / (F.col("nt") + F.col("vocab")).cast("double"))
                    - F.log((F.col("cr") + 1).cast("double")
                            / (F.col("nr") + F.col("vocab")).cast("double")))
    )
    # `+ 0.0` washes out IEEE negative zero so ROUND(-0.00004, 4) hashes
    # identically across engines (the oracle applies the same normalizer).
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.round(F.avg("lp"), 4) + F.lit(0.0)).alias("log_importance"))


@register(
    "q_text_source_divergence",
    oracle=f"""
    WITH inst AS (
        SELECT source, unnest({_SQL_TOKS}) AS w FROM documents),
    src_tot AS (SELECT source, COUNT(*) AS n FROM inst GROUP BY source),
    corp_tot AS (SELECT COUNT(*) AS n FROM inst),
    p AS (SELECT source, w, COUNT(*) AS c FROM inst GROUP BY source, w),
    q AS (SELECT w, COUNT(*) AS c FROM inst GROUP BY w),
    terms AS (
        SELECT p.source,
               p.c::DOUBLE / st.n::DOUBLE AS pw,
               q.c::DOUBLE / ct.n::DOUBLE AS qw
        FROM p
        JOIN q USING (w)
        JOIN src_tot st ON p.source = st.source
        CROSS JOIN corp_tot ct),
    contrib AS (
        SELECT source,
               0.5 * pw * LN(pw / (0.5 * pw + 0.5 * qw)) AS kl_p,
               0.5 * qw * LN(qw / (0.5 * pw + 0.5 * qw)) AS kl_q_present,
               qw AS qw_present
        FROM terms),
    qmiss AS (
        -- corpus-q mass on terms ABSENT from the source contributes
        -- 0.5 * qw * ln(2) each; total = 0.5 * ln(2) * (1 - sum(qw_present))
        SELECT source,
               SUM(kl_p) AS klp,
               SUM(kl_q_present) AS klq_present,
               0.5 * LN(2.0) * (1.0 - SUM(qw_present)) AS klq_missing
        FROM contrib GROUP BY source)
    SELECT source,
           ROUND(klp + klq_present + klq_missing, 4) + 0.0 AS js_divergence
    FROM qmiss
    """,
    doc="Distribution-shift monitor: Jensen-Shannon divergence between "
        "each source's unigram distribution and the whole corpus — the "
        "number a pipeline watches to catch a source drifting (spam "
        "injection, scraper breakage, topic shift). Terms absent from a "
        "source contribute 0.5*q*ln2 in closed form, so the computation "
        "needs only the PRESENT (source, term) pairs: two count tables "
        "and one join, vocab-sized shuffle, never |sources| x |vocab| "
        "materialization.",
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    inst = d.select("source", F.explode(T.tokens("text")).alias("w"))
    src_tot = inst.groupBy("source").agg(F.count(F.lit(1)).alias("sn"))
    corp_tot = inst.agg(F.count(F.lit(1)).alias("cn"))
    p = inst.groupBy("source", "w").agg(F.count(F.lit(1)).alias("pc"))
    q = inst.groupBy("w").agg(F.count(F.lit(1)).alias("qc"))
    terms = (p.join(q, "w").join(src_tot, "source")
             .crossJoin(F.broadcast(corp_tot))
             .withColumn("pw", F.col("pc").cast("double") / F.col("sn"))
             .withColumn("qw", F.col("qc").cast("double")
                         / F.col("cn").cast("double")))
    m = 0.5 * F.col("pw") + 0.5 * F.col("qw")
    contrib = terms.select(
        "source",
        (0.5 * F.col("pw") * F.log(F.col("pw") / m)).alias("kl_p"),
        (0.5 * F.col("qw") * F.log(F.col("qw") / m)).alias("kl_q_present"),
        F.col("qw").alias("qw_present"))
    import math
    return (contrib.groupBy("source")
            .agg((F.round(F.sum("kl_p") + F.sum("kl_q_present")
                          + 0.5 * math.log(2.0) * (1.0 - F.sum("qw_present")), 4)
                  + F.lit(0.0)).alias("js_divergence")))


@register(
    "q_text_length_ks_drift",
    oracle="""
    WITH docs AS (
        SELECT source, CAST(FLOOR(LOG2(n_chars)) AS INT) AS b
        FROM documents WHERE n_chars > 0),
    src AS (SELECT source, b, COUNT(*) AS pc FROM docs GROUP BY source, b),
    corp AS (SELECT b, COUNT(*) AS qc FROM docs GROUP BY b),
    sn AS (SELECT source, COUNT(*) AS s_n FROM docs GROUP BY source),
    cn AS (SELECT COUNT(*) AS c_n FROM docs),
    spine AS (SELECT sn.source, sn.s_n, corp.b, corp.qc
              FROM sn CROSS JOIN corp),
    cum AS (
        SELECT source, s_n, b,
               SUM(COALESCE(src.pc, 0)) OVER (PARTITION BY source ORDER BY spine.b) AS cp,
               SUM(qc) OVER (PARTITION BY source ORDER BY spine.b) AS cq
        FROM spine LEFT JOIN src USING (source, b))
    SELECT source,
           ROUND(MAX(ABS(cp::DOUBLE / s_n::DOUBLE
                         - cq::DOUBLE / (SELECT c_n FROM cn)::DOUBLE)), 4)
               + 0.0 AS ks_stat
    FROM cum
    GROUP BY source
    """,
    doc="Two-sample Kolmogorov-Smirnov drift over document length: per "
        "source, sup |CDF_source - CDF_corpus| across log2 length "
        "buckets — the scale-invariant companion of the JS unigram "
        "divergence (q_text_source_divergence): JS catches WHAT is "
        "written changing, KS catches the SHAPE of documents changing "
        "(truncation bugs, pagination changes, spam padding). "
        "Everything after the one corpus-sized groupBy runs on the "
        "histogram (sources x ~32 buckets, metadata-scale at any "
        "corpus size): the dense spine is a crossJoin of two tiny "
        "aggregates, cumulative sums are windows over it, and the "
        "arithmetic is exact-integer counts divided once at the end.",
)
def q_text_length_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).table("documents").where(F.col("n_chars") > 0)
    b = F.floor(F.log2("n_chars")).cast("int")
    docs = d.select("source", b.alias("b"))
    src = docs.groupBy("source", "b").agg(F.count(F.lit(1)).alias("pc"))
    corp = docs.groupBy("b").agg(F.count(F.lit(1)).alias("qc"))
    sn = docs.groupBy("source").agg(F.count(F.lit(1)).alias("s_n"))
    cn = docs.agg(F.count(F.lit(1)).alias("c_n"))
    spine = sn.crossJoin(F.broadcast(corp))
    w = Window.partitionBy("source").orderBy("b")
    cum = (spine.join(src, ["source", "b"], "left")
           .select("source", "s_n", "b", "qc",
                   F.sum(F.coalesce(F.col("pc"), F.lit(0))).over(w).alias("cp"),
                   F.sum("qc").over(w).alias("cq")))
    return (cum.crossJoin(F.broadcast(cn))
            .groupBy("source")
            .agg((F.round(F.max(F.abs(
                F.col("cp").cast("double") / F.col("s_n").cast("double")
                - F.col("cq").cast("double") / F.col("c_n").cast("double"))), 4)
                + F.lit(0.0)).alias("ks_stat")))


PARA_TOKENS = 32  # non-overlapping paragraph unit for block dedup


@register(
    "q_dedup_paragraphs",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    blocks AS (
        SELECT doc_id,
               array_to_string(
                   ws[t.i * {PARA_TOKENS} + 1 : (t.i + 1) * {PARA_TOKENS}],
                   ' ') AS block
        FROM tok,
             unnest(range(0, CAST(CEIL(len(ws) / {PARA_TOKENS}.0) AS BIGINT)))
                 AS t(i)
        WHERE len(ws) >= {PARA_TOKENS} AND (t.i + 1) * {PARA_TOKENS} <= len(ws)),
    rep AS (
        SELECT md5(block) AS block_md5, COUNT(*) AS n_copies,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM blocks GROUP BY md5(block)
        HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT block_md5, n_copies, n_docs
    FROM rep ORDER BY n_copies DESC, block_md5 LIMIT 20
    """,
    doc=f"Paragraph-level (block) dedup: documents cut into "
        f"non-overlapping {PARA_TOKENS}-token blocks, content-addressed "
        "by md5, blocks repeated across >= 2 documents surfaced — the "
        "C4-style boilerplate unit between document-level exact dedup "
        "and the 8-word span mining: headers, footers, license blocks. "
        "Only the 16-byte digest shuffles; top-20 via "
        "TakeOrderedAndProject. (The REMOVAL discipline is "
        "q_dedup_substring_removal's mask; this is its "
        "coarser-granularity, cheaper sibling.)",
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    ws = T.tokens("text")
    n_blocks = F.floor(F.size(ws) / PARA_TOKENS).cast("int")
    blocks = (d.select("doc_id", ws.alias("ws"), n_blocks.alias("nb"))
              .where(F.col("nb") >= 1)
              .select("doc_id", F.explode(
                  F.transform(
                      F.sequence(F.lit(0), F.col("nb") - 1),
                      lambda i: F.concat_ws(
                          " ", F.slice(F.col("ws"),
                                       i * PARA_TOKENS + 1, PARA_TOKENS))))
                  .alias("block")))
    rep = (blocks.groupBy(F.md5("block").alias("block_md5"))
           .agg(F.count(F.lit(1)).alias("n_copies"),
                F.countDistinct("doc_id").alias("n_docs"))
           .where(F.col("n_docs") >= 2))
    return rep.orderBy(F.desc("n_copies"), "block_md5").limit(20)


JM_LAMBDA = 0.7  # Jelinek-Mercer interpolation weight on the bigram ML


@register(
    "q_text_interpolated_lm",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    uni AS (SELECT unnest(ws) AS w FROM tok),
    c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM uni GROUP BY w),
    nt AS (SELECT COUNT(*)::DOUBLE AS n FROM uni),
    bg AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS bg
        FROM tok WHERE len(ws) >= 2),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg)
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(LN({JM_LAMBDA} * c2.c2::DOUBLE / ca.c1::DOUBLE
                        + {1 - JM_LAMBDA} * cb.c1::DOUBLE / nt.n)), 4)
               AS avg_logprob
    FROM bg
    JOIN c2 USING (bg)
    JOIN c1 ca ON string_split(bg.bg, ' ')[1] = ca.w1
    JOIN c1 cb ON string_split(bg.bg, ' ')[2] = cb.w1
    CROSS JOIN nt
    GROUP BY bg.doc_id
    """,
    doc=f"Jelinek-Mercer interpolated LM scoring (lambda={JM_LAMBDA}): "
        "P(w2|w1) = l*P_ML(w2|w1) + (1-l)*P_unigram(w2) — the "
        "backoff-family smoothing KenLM-style filters actually use, "
        "beside q_text_bigram_lm's add-one baseline (add-one "
        "over-penalizes frequent contexts; interpolation backs off "
        "smoothly). Same plan shape: two vocab-sized count tables "
        "(broadcast at scale), the exploded-bigram corpus side "
        "shuffled once per count, the token total a broadcast 1-row "
        "aggregate — one DAG, no mid-plan actions.",
)
def q_text_interpolated_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    uni = tok.select(F.explode("ws").alias("w"))
    # vocab-sized count table consumed three ways (both join sides +
    # the token total): lazy localCheckpoint, corpus aggregated once
    c1 = uni.groupBy(F.col("w").alias("w1")) \
        .agg(F.count(F.lit(1)).alias("c1")).localCheckpoint(eager=False)
    # token total = sum of unigram counts — derived from c1, not a
    # second corpus pass
    nt = c1.agg(F.sum("c1").cast("double").alias("n"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    bg = (tok.where(n >= 2)
          .select("doc_id", F.explode(bg_arr).alias("bg"))
          .localCheckpoint(eager=False))
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    ca = c1.select(F.col("w1").alias("wa"), F.col("c1").alias("ca"))
    cb = c1.select(F.col("w1").alias("wb"), F.col("c1").alias("cb"))
    scored = (
        bg.join(c2, "bg")
        .withColumn("wa", F.split("bg", " ")[0])
        .withColumn("wb", F.split("bg", " ")[1])
        .join(ca, "wa").join(cb, "wb")
        .crossJoin(F.broadcast(nt))
        .withColumn("lp", F.log(
            JM_LAMBDA * F.col("c2").cast("double") / F.col("ca").cast("double")
            + (1 - JM_LAMBDA) * F.col("cb").cast("double") / F.col("n"))))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"))


@register(
    "q_corpus_ngram_novelty",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                     FOR i IN range(1, len(ws) - 1)])) AS s
        FROM tok WHERE len(ws) >= 3),
    first_seen AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COUNT(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                AS BIGINT) AS n_novel,
           ROUND(COUNT(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)::DOUBLE
                 / COUNT(*), 4) + 0.0 AS novelty
    FROM sh JOIN first_seen f USING (s)
    GROUP BY sh.doc_id
    """,
    doc="N-gram novelty scoring: per document, the fraction of its "
        "distinct word-3-grams whose FIRST corpus occurrence (minimum "
        "doc_id as the ingestion-order proxy) is this document — the "
        "position-sensitive novelty curve between exact dedup (novelty "
        "0 for later copies) and fully fresh text (novelty 1), the "
        "signal dataset-curriculum and memorization studies plot over "
        "ingestion order. One shingle index (the same inverted-index "
        "shape as the dedup family), a min-aggregate per shingle, one "
        "join back — first_seen is shingle-keyed and shuffles the "
        "8-byte-hashable key, never documents.",
)
def q_corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    sh = (d.select("doc_id",
                   F.explode(T.shingles(T.tokens("text"), n=3)).alias("s")))
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1)
    return (sh.join(first, "s")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.count(novel).cast("long").alias("n_novel"),
                 (F.round(F.count(novel).cast("double")
                          / F.count(F.lit(1)), 4) + F.lit(0.0))
                 .alias("novelty")))


@register(
    "q_dedup_winnow_resolved",
    oracle=f"""
    WITH RECURSIVE tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    spans AS (
        SELECT doc_id, t.i AS pos,
               array_to_string(ws[t.i:t.i+{WINNOW_K - 1}], ' ') AS span
        FROM tok, unnest(range(1, len(ws) - {WINNOW_K - 2})) AS t(i)
        WHERE len(ws) >= {WINNOW_K}),
    hashed AS (
        SELECT doc_id, pos,
               list_reduce(list_prepend(0::BIGINT,
                   [unicode(span[i])::BIGINT FOR i IN range(1, length(span) + 1)]),
                 (acc, x) -> (acc * 31 + x) % 2147483647) AS h,
               COUNT(*) OVER (PARTITION BY doc_id) AS n_spans
        FROM spans),
    winnowed AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id, pos, n_spans,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {WINNOW_W - 1} FOLLOWING) AS fp
            FROM hashed)
        WHERE pos <= n_spans - {WINNOW_W - 1}),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM winnowed a JOIN winnowed b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2),
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
    doc="Winnowing end-to-end: fingerprint candidate pairs (>= 2 shared "
        "window-min span hashes) -> connected components -> keep only "
        "cluster representatives + untouched documents — the "
        "position-sensitive counterpart of q_dedup_resolved's "
        "shingle-set resolution, detecting documents that share RUNS "
        "of text (plagiarism/mirror shape) rather than similar "
        "bags-of-shingles. Same min-label component propagation and "
        "anti-join; the pair layer carries only (id, int64) "
        "fingerprints.",
)
def q_dedup_winnow_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.dedup import (
        connected_components, winnow_fingerprint_rows,
    )

    d = Catalog(spark, sf_dir).table("documents")
    # fingerprints feed both sides of the pair join: materialize the
    # winnowing pipeline once (lazy localCheckpoint, the inverted-index
    # discipline of operators/dedup.py)
    fps = winnow_fingerprint_rows(d, k=WINNOW_K, w=WINNOW_W) \
        .localCheckpoint(eager=False)
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("a_id"),
                      F.col("b.doc_id").alias("b_id"))
             .agg(F.count(F.lit(1)).alias("n_shared"))
             .where(F.col("n_shared") >= 2)
             .select("a_id", "b_id"))
    comp = connected_components(pairs)
    non_reps = comp.where(F.col("id") != F.col("rep")).select("id")
    return d.join(non_reps, d.doc_id == non_reps.id, "left_anti") \
        .select("doc_id")


CHUNK_BG = 32  # bigrams per scoring window


@register(
    "q_text_worst_window_lm",
    oracle=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    bg AS (SELECT doc_id, i AS pos, ws[i] || ' ' || ws[i+1] AS bg
           FROM words, unnest(range(1, len(ws))) AS u(i)
           WHERE len(ws) >= 2),
    uni AS (SELECT unnest(ws) AS w FROM words),
    c1 AS (SELECT w AS w1, COUNT(*) AS c1 FROM uni GROUP BY w),
    c2 AS (SELECT bg.bg, COUNT(*) AS c2 FROM bg GROUP BY bg.bg),
    v AS (SELECT COUNT(DISTINCT w) AS vocab FROM uni),
    lp AS (
        SELECT b.doc_id, (b.pos - 1) // {CHUNK_BG} AS chunk,
               ln((c2.c2 + 1.0) / (c1.c1 + v.vocab)) AS lp
        FROM bg b
        JOIN c2 ON c2.bg = b.bg
        JOIN c1 ON c1.w1 = string_split(b.bg, ' ')[1]
        CROSS JOIN v),
    per_chunk AS (
        SELECT doc_id, chunk, ROUND(AVG(lp), 6) AS chunk_lp
        FROM lp GROUP BY doc_id, chunk)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           MIN(chunk_lp) + 0.0 AS worst_chunk_lp
    FROM per_chunk GROUP BY doc_id
    """,
    doc=f"Worst-window LM scoring: each non-overlapping {CHUNK_BG}-"
        "bigram window of a document is scored under the corpus-trained "
        "add-one bigram LM, and the document reports its WORST window — "
        "span-level quality filtering (a document with one garbage "
        "section passes a whole-doc mean but fails here; the window-"
        "perplexity discipline of Gopher-style cleaning) on top of "
        "q_text_bigram_lm's whole-doc score and q_corpus_chunk's "
        "windowing. Same one-DAG shape as the LM family: count tables "
        "and vocab are broadcast 1-row/vocab-sized aggregates, the "
        "corpus pass is one posexploded bigram stream keyed by "
        "(doc, chunk), chunk means rounded at 6 dp before the MIN so "
        "both engines pick the identical worst window.",
)
def q_text_worst_window_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    uni = tok.select(F.explode("ws").alias("w"))
    c1 = uni.groupBy(F.col("w").alias("w1")) \
        .agg(F.count(F.lit(1)).alias("c1")).localCheckpoint(eager=False)
    v = c1.agg(F.count(F.lit(1)).alias("vocab"))  # rows of c1 == vocab
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    bg = (tok.where(n >= 2)
          .select("doc_id", F.posexplode(bg_arr).alias("pos", "bg"))
          .localCheckpoint(eager=False))
    c2 = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    lp = (bg
          .join(F.broadcast(c2), "bg")
          .withColumn("w1", F.split("bg", " ")[0])
          .join(F.broadcast(c1), "w1")
          .crossJoin(F.broadcast(v))
          .select("doc_id",
                  (F.col("pos") / CHUNK_BG).cast("long").alias("chunk"),
                  F.log((F.col("c2") + F.lit(1.0))
                        / (F.col("c1") + F.col("vocab"))).alias("lp")))
    per_chunk = (lp.groupBy("doc_id", "chunk")
                 .agg(F.round(F.avg("lp"), 6).alias("chunk_lp")))
    return (per_chunk.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 (F.min("chunk_lp") + F.lit(0.0)).alias("worst_chunk_lp")))


DECODE_STEPS = 8  # greedy continuation length


def _decode_oracle(n_steps: int) -> str:
    """Unrolled greedy decode: seed = most frequent unigram, then
    argmax bigram continuation per step (tie -> lexicographic)."""
    parts = [f"""
    WITH words AS (
        SELECT list_filter({_SQL_TOKS}, w -> w <> '') AS ws
        FROM documents),
    uni AS (SELECT unnest(ws) AS w FROM words),
    c1 AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    bg AS (SELECT unnest([{{'a': ws[i], 'b': ws[i+1]}}
                          FOR i IN range(1, len(ws))]) AS p
           FROM words WHERE len(ws) >= 2),
    c2 AS (SELECT p.a AS w1, p.b AS w2, COUNT(*) AS c
           FROM bg GROUP BY w1, w2),
    s0 AS (SELECT w FROM c1 ORDER BY c DESC, w LIMIT 1)"""]
    for i in range(1, n_steps + 1):
        parts.append(f""",
    s{i} AS (SELECT w2 AS w FROM c2 JOIN s{i - 1} ON c2.w1 = s{i - 1}.w
             ORDER BY c DESC, w2 LIMIT 1)""")
    finals = "\n    UNION ALL ".join(
        f"SELECT {i} AS step, w AS token FROM s{i}"
        for i in range(0, n_steps + 1))
    return "".join(parts) + "\n    " + finals


@register(
    "q_text_lm_greedy_decode",
    oracle=_decode_oracle(DECODE_STEPS),
    doc=f"Greedy decoding from the corpus bigram LM: seed = most "
        f"frequent unigram, then {DECODE_STEPS} steps of argmax "
        "next-token (tie -> lexicographic) — the engine DECODES from "
        "the model it trained (the generation-side capstone of the LM "
        "family: train q_text_bigram_lm, smooth "
        "q_text_interpolated_lm, filter q_text_worst_window_lm, "
        "generate here). Each step is a 1-row TakeOrderedAndProject "
        "over the vocab^2-bounded bigram count table — the chain is "
        "ONE lazy DAG of bounded joins, the corpus is read once to "
        "build the counts; the oracle unrolls the identical steps. "
        "Greedy decode loops forever on a bigram cycle by design "
        "(deterministic), which the fixed step count bounds.",
)
def q_text_lm_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select(T.tokens("text").alias("ws"))
    uni = tok.select(F.explode("ws").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    # bigram count table: the decode chain probes it once per step
    c2 = (tok.where(n >= 2)
          .select(F.explode(bg_arr).alias("p"))
          .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint(eager=False))

    cur = c1.orderBy(F.desc("c"), "w").limit(1).select("w")
    out = cur.select(F.lit(0).alias("step"), F.col("w").alias("token"))
    for i in range(1, DECODE_STEPS + 1):
        cur = (c2.join(cur.withColumnRenamed("w", "w1"), "w1")
               .orderBy(F.desc("c"), "w2").limit(1)
               .select(F.col("w2").alias("w")))
        out = out.unionByName(
            cur.select(F.lit(i).alias("step"), F.col("w").alias("token")))
    return out


@register(
    "q_text_unigram_viterbi",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
    words AS (
        SELECT w, COUNT(*) AS f FROM toks
        WHERE len(w) BETWEEN 1 AND 12 GROUP BY w),
    occ AS (
        SELECT w.w, w.f, j.j, k.k, substr(w.w, j.j + 1, k.k) AS piece
        FROM words w,
             (SELECT unnest(range(0, 12)) AS j) j,
             (SELECT unnest([1, 2, 3]) AS k) k
        WHERE j.j + k.k <= len(w.w)),
    vocab AS (
        SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM occ GROUP BY piece),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    edges AS (
        SELECT o.w, o.j, o.j + o.k AS i,
               LN(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp
        FROM occ o JOIN vocab v ON v.piece = o.piece, tot),
    paths AS (
        SELECT w, 0 AS i, CAST(0.0 AS DOUBLE) AS s FROM words
        UNION ALL
        SELECT e.w, e.i, p.s + e.lp
        FROM paths p JOIN edges e ON e.w = p.w AND e.j = p.i),
    best AS (
        SELECT p.w, MAX(p.s) AS b
        FROM paths p JOIN words ww ON ww.w = p.w AND len(ww.w) = p.i
        GROUP BY p.w)
    SELECT b.w AS word, ww.f AS freq, ROUND(b.b, 4) + 0.0 AS best_logp
    FROM best b JOIN words ww ON ww.w = b.w
    ORDER BY ww.f DESC, b.w LIMIT 20
    """,
    doc="Unigram-LM (SentencePiece-style) Viterbi segmentation: each "
        "word is tokenized into the maximum-likelihood sequence of "
        "character pieces (len 1-3) under a unigram piece model whose "
        "probabilities come from occurrence-frequency counts — the "
        "OTHER dominant tokenizer family beside the BPE train/encode "
        "pair, where tokenization is best-path search over the "
        "segmentation lattice rather than greedy merge application. "
        "The engine runs the LINEAR DP vectorized: one mapInPandas "
        "pass over the DISTINCT-word table (vocabulary-scale, "
        "sublinear in corpus; the corpus is touched exactly once to "
        "count words) computes every word's 13-cell max recurrence as "
        "dense numpy against the broadcast piece table — which is "
        "HARD-bounded at 36+36²+36³ = 47,988 entries (pieces are "
        "len-1..3 strings over [a-z0-9]), so the broadcast is "
        "dimension-sized at any corpus scale. r12 replaced the "
        "driver-stepped checkpointed join DP (42 jobs) with this "
        "2-job shape (guide §4.2). "
        "The oracle states the spec by brute force: a recursive CTE "
        "enumerates EVERY segmentation path (tribonacci(12) ~ 1.4k "
        "per word, fine at fixture scale) and takes the max. Path "
        "sums accumulate left-to-right identically on both engines -> "
        "bit-identical doubles under 4-dp rounding; piece counts and "
        "totals are integer-exact. An EM trainer is this E-step "
        "iterated with count re-estimation (same DAG shape per "
        "round); words over 12 chars are excluded identically on "
        "both sides (the documented cap).",
)
def q_text_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, occ = _unigram_words_occ(spark, sf_dir)
    probs = occ.groupBy("piece").agg(F.sum("f").alias("c"))
    lp_b = spark.sparkContext.broadcast(_unigram_lp_map(probs))
    # Max-DP over the same lattice the logsumexp queries run: one
    # vectorized mapInPandas pass over the distinct-word table against
    # the broadcast piece table (kernel docstring above) — r12 replaced
    # the 13-step driver-stepped join DP (~25 jobs) with this.
    scored = words.mapInPandas(_lattice_kernel(lp_b, "best"),
                               _LATTICE_SCHEMA)
    return (scored.select(F.col("w").alias("word"),
                          F.col("f").alias("freq"),
                          (F.round("s", 4) + F.lit(0.0)).alias("best_logp"))
            .orderBy(F.desc("freq"), "word").limit(20))



# --- unigram-LM lattice machinery (shared by viterbi / forward / EM) -----

_MAXL = 12  # word-length cap, shared with _unigram_words_occ


def _unigram_words_occ(spark: SparkSession, sf_dir: str):
    """(words, occ): distinct-word frequencies (len 1-12 cap) and every
    (word, start, len, piece) candidate edge position for pieces of
    length 1-3 — the lattice every unigram-LM query builds on.

    ``words`` is lazily checkpointed: every lattice query touches the
    corpus exactly once (the token-count pass); the piece-count
    aggregate and the DP pass both reuse the one materialization."""
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select(F.explode(T.tokens(F.col("text"))).alias("w"))
    words = (toks.where(F.length("w").between(1, _MAXL))
             .groupBy("w").agg(F.count(F.lit(1)).alias("f"))
             .localCheckpoint(eager=False))
    occ = (words
           .select("w", "f",
                   F.explode(F.sequence(F.lit(0), F.length("w") - 1))
                   .alias("j"))
           .select("w", "f", "j",
                   F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                   .alias("k"))
           .where(F.col("j") + F.col("k") <= F.length("w"))
           .withColumn("piece", F.substring(F.col("w"), F.col("j") + 1,
                                            F.col("k"))))
    return words, occ


def _unigram_lp_map(probs: DataFrame) -> dict[str, float]:
    """piece -> ln(c / Σc) as a plain dict for broadcast.

    The collect is BOUNDED at any corpus scale, not data-dependent:
    pieces are substrings of length 1-3 over the [a-z0-9] token
    alphabet, so the table can never exceed 36 + 36² + 36³ = 47,988
    rows — dimension-table size, the same class as a broadcast-join
    build side (guide §3.1)."""
    import math

    rows = probs.collect()
    tot = float(sum(r[1] for r in rows))
    return {r[0]: math.log(float(r[1]) / tot) for r in rows}


def _lattice_kernel(lp_b, mode: str):
    """Vectorized per-word segmentation-lattice DP as a ``mapInPandas``
    kernel (guide §4.2: distribution stays in Spark, per-task work runs
    as whole-batch numpy) — replaces the r5-r11 driver-stepped
    checkpointed DP, which ran ~25-40 join+aggregate JOBS per query to
    compute what is a per-word O(L·3) recurrence against a hard-bounded
    (≤48k-entry) broadcast piece table.

    The lattice is embarrassingly per-word once piece log-probs are
    fixed: alpha/beta cells live in a dense (batch, 13) array, every
    position step is one vectorized shifted-logsumexp (identical
    per-cell max-shift to the old ``_lse_step``, so values agree to
    well under the queries' 4-dp rounding), and EM edge posteriors
    aggregate into a per-task partial dict — map-side combine for the
    piece-count shuffle (guide §2.3).

    Modes: ``best`` (Viterbi max) and ``logz`` (forward) emit
    (w, f, s); ``em`` emits per-piece expected-count partials plus a
    reserved ``piece=''`` row carrying the Σ f·logZ likelihood partial
    (the empty string can never be a real piece); ``lik`` emits only
    that likelihood row."""
    import numpy as np
    import pandas as pd

    def run(batches):
        lp = lp_b.value
        acc: dict[str, float] = {}
        lik = 0.0
        seen = False
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            seen = True
            ws = pdf["w"]
            fs = pdf["f"].to_numpy(dtype=np.float64)
            L = ws.str.len().to_numpy(dtype=np.int64)
            # edge table: elp[r, j, k-1] = lp(ws[r][j:j+k]), -inf invalid
            elp = np.full((n, _MAXL, 3), -np.inf)
            piece_np = {}
            for j in range(_MAXL):
                if not (L > j).any():
                    break
                for k in (1, 2, 3):
                    valid = L >= j + k
                    if not valid.any():
                        continue
                    pieces = ws.str.slice(j, j + k)
                    piece_np[(j, k)] = pieces.to_numpy()
                    # a piece absent from the model is an INVALID edge
                    # (-inf), never NaN: .map() yields NaN on misses,
                    # and NaN would corrupt every alpha/beta cell it
                    # touches instead of zeroing the path (matters the
                    # moment an EM round prunes vocabulary)
                    vals = (pieces.map(lp).fillna(-np.inf)
                            .to_numpy(dtype=np.float64))
                    elp[valid, j, k - 1] = vals[valid]

            with np.errstate(invalid="ignore", over="ignore"):
                alpha = np.full((n, _MAXL + 1), -np.inf)
                alpha[:, 0] = 0.0
                for i in range(1, _MAXL + 1):
                    cs = np.stack([alpha[:, i - k] + elp[:, i - k, k - 1]
                                   for k in (1, 2, 3) if i - k >= 0])
                    m = cs.max(axis=0)
                    if mode == "best":
                        cell = m
                    else:
                        cell = m + np.log(np.exp(cs - m).sum(axis=0))
                        cell = np.where(np.isneginf(m), -np.inf, cell)
                    alpha[:, i] = np.where(i <= L, cell, -np.inf)
                logz = alpha[np.arange(n), L]

                if mode == "best":
                    yield pd.DataFrame(
                        {"w": ws, "f": pdf["f"], "s": logz})
                    continue
                if mode == "logz":
                    yield pd.DataFrame(
                        {"w": ws, "f": pdf["f"], "s": logz})
                    continue

                lik += float((fs * logz).sum())
                if mode == "lik":
                    continue

                # mode == "em": backward pass + per-edge posteriors
                beta = np.full((n, _MAXL + 1), -np.inf)
                beta[np.arange(n), L] = 0.0
                for j in range(_MAXL - 1, -1, -1):
                    cs = np.stack([elp[:, j, k - 1] + beta[:, j + k]
                                   for k in (1, 2, 3) if j + k <= _MAXL])
                    m = cs.max(axis=0)
                    cell = m + np.log(np.exp(cs - m).sum(axis=0))
                    cell = np.where(np.isneginf(m), -np.inf, cell)
                    upd = j < L
                    beta[upd, j] = cell[upd]

                for (j, k), pieces in piece_np.items():
                    valid = L >= j + k
                    wt = np.exp(alpha[:, j] + elp[:, j, k - 1]
                                + beta[:, j + k] - logz) * fs
                    grp = (pd.Series(wt[valid])
                           .groupby(pieces[valid]).sum())
                    for p, v in grp.items():
                        acc[p] = acc.get(p, 0.0) + v
        if mode in ("em", "lik") and seen:
            out = pd.DataFrame({"piece": list(acc.keys()) + [""],
                                "wt": list(acc.values()) + [lik]})
            yield out

    return run


_LATTICE_SCHEMA = "w string, f long, s double"
_EM_SCHEMA = "piece string, wt double"



@register(
    "q_text_unigram_forward",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
    words AS (
        SELECT w, COUNT(*) AS f FROM toks
        WHERE len(w) BETWEEN 1 AND 12 GROUP BY w),
    occ AS (
        SELECT w.w, w.f, j.j, k.k, substr(w.w, j.j + 1, k.k) AS piece
        FROM words w,
             (SELECT unnest(range(0, 12)) AS j) j,
             (SELECT unnest([1, 2, 3]) AS k) k
        WHERE j.j + k.k <= len(w.w)),
    vocab AS (
        SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM occ GROUP BY piece),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    edges AS (
        SELECT o.w, o.j, o.j + o.k AS i,
               LN(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp
        FROM occ o JOIN vocab v ON v.piece = o.piece, tot),
    paths AS (
        SELECT w, 0 AS i, CAST(0.0 AS DOUBLE) AS s FROM words
        UNION ALL
        SELECT e.w, e.i, p.s + e.lp
        FROM paths p JOIN edges e ON e.w = p.w AND e.j = p.i),
    complete AS (
        SELECT p.w, p.s
        FROM paths p JOIN words ww ON ww.w = p.w AND len(ww.w) = p.i),
    mx AS (SELECT w, MAX(s) AS m FROM complete GROUP BY w)
    SELECT c.w AS word, ww.f AS freq,
           ROUND(mx.m + LN(SUM(EXP(c.s - mx.m))), 4) + 0.0 AS log_z
    FROM complete c
    JOIN mx ON mx.w = c.w
    JOIN words ww ON ww.w = c.w
    GROUP BY c.w, ww.f, mx.m
    ORDER BY ww.f DESC, c.w LIMIT 20
    """,
    doc="Unigram-LM FORWARD algorithm: the total likelihood of a word "
        "under ALL segmentations (log Z, computed by the same lattice "
        "DP as q_text_unigram_viterbi with logsumexp replacing max) — "
        "the E-step normalizer that makes SentencePiece-style EM "
        "training feasible: expected piece counts are "
        "forward*edge*backward / Z over exactly this recurrence, so "
        "a trainer is this query plus its mirror-image backward pass "
        "iterated. Same vectorized mapInPandas lattice kernel as the "
        "Viterbi query with shifted logsumexp replacing max per cell "
        "(the standard overflow guard, since 12-piece path sums reach "
        "e^-100) — one pass over the word table against the "
        "hard-bounded (≤48k-entry) broadcast piece model; r12 "
        "replaced the 91-job driver-stepped DP. The oracle brute-forces Z by "
        "path enumeration with the same max-shift; exp-sum "
        "association differs between the stepwise DP and the flat "
        "enumeration only at ulp level, absorbed by 4-dp rounding.",
)
def q_text_unigram_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, occ = _unigram_words_occ(spark, sf_dir)
    probs = occ.groupBy("piece").agg(F.sum("f").alias("c"))
    lp_b = spark.sparkContext.broadcast(_unigram_lp_map(probs))
    scored = words.mapInPandas(_lattice_kernel(lp_b, "logz"),
                               _LATTICE_SCHEMA)
    return (scored.select(F.col("w").alias("word"), F.col("f").alias("freq"),
                          (F.round("s", 4) + F.lit(0.0)).alias("log_z"))
            .orderBy(F.desc("freq"), "word").limit(20))


@register(
    "q_text_unigram_em_counts",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
    words AS (
        SELECT w, COUNT(*) AS f FROM toks
        WHERE len(w) BETWEEN 1 AND 12 GROUP BY w),
    occ AS (
        SELECT w.w, w.f, j.j, k.k, substr(w.w, j.j + 1, k.k) AS piece
        FROM words w,
             (SELECT unnest(range(0, 12)) AS j) j,
             (SELECT unnest([1, 2, 3]) AS k) k
        WHERE j.j + k.k <= len(w.w)),
    vocab AS (
        SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM occ GROUP BY piece),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    edges AS (
        SELECT o.w, o.j, o.j + o.k AS i, o.piece,
               LN(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp
        FROM occ o JOIN vocab v ON v.piece = o.piece, tot),
    paths AS (
        SELECT w, 0 AS i, CAST(0.0 AS DOUBLE) AS s,
               CAST([] AS VARCHAR[]) AS ps
        FROM words
        UNION ALL
        SELECT e.w, e.i, p.s + e.lp, list_append(p.ps, e.piece)
        FROM paths p JOIN edges e ON e.w = p.w AND e.j = p.i),
    complete AS (
        SELECT p.w, p.s, p.ps
        FROM paths p JOIN words ww ON ww.w = p.w AND len(ww.w) = p.i),
    mx2 AS (SELECT w, MAX(s) AS m FROM complete GROUP BY w),
    z AS (
        SELECT c.w, mx2.m + LN(SUM(EXP(c.s - mx2.m))) AS logz
        FROM complete c JOIN mx2 ON mx2.w = c.w
        GROUP BY c.w, mx2.m),
    weighted AS (
        SELECT c.w, EXP(c.s - z.logz) * ww.f AS wt, c.ps
        FROM complete c JOIN z ON z.w = c.w JOIN words ww ON ww.w = c.w),
    expanded AS (
        SELECT unnest(ps) AS piece, wt FROM weighted)
    SELECT piece, ROUND(SUM(wt), 4) + 0.0 AS expected_count
    FROM expanded GROUP BY piece
    ORDER BY SUM(wt) DESC, piece LIMIT 20
    """,
    doc="Unigram-LM EM E-step: EXPECTED piece counts over all "
        "segmentations — forward(alpha) x edge x backward(beta) / Z "
        "per lattice edge, summed per piece and weighted by word "
        "frequency. This is the complete inner loop of SentencePiece "
        "training: renormalizing these counts IS the M-step, so the "
        "trainer is this query iterated. Both DPs run inside ONE "
        "vectorized mapInPandas pass (alpha left-to-right, beta "
        "right-to-left, logsumexp cells with max-shift, all dense "
        "numpy against the hard-bounded ≤48k-entry broadcast piece "
        "table); per-edge posteriors aggregate into per-task partial "
        "piece counts — map-side combine for the one piece-keyed "
        "shuffle (r12 replaced the 181-job driver-stepped DP). The "
        "oracle brute-forces the expectation by enumerating every "
        "path WITH its piece list (recursive CTE carrying a VARCHAR[] "
        "accumulator), weighting each by exp(s - logZ), and unnesting "
        "— associativity differences against the DP factorization are "
        "ulp-level, absorbed by 4-dp rounding.",
)
def q_text_unigram_em_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, occ = _unigram_words_occ(spark, sf_dir)
    probs = occ.groupBy("piece").agg(F.sum("f").alias("c"))
    lp_b = spark.sparkContext.broadcast(_unigram_lp_map(probs))
    ec = (words.mapInPandas(_lattice_kernel(lp_b, "em"), _EM_SCHEMA)
          .where(F.col("piece") != "")
          .groupBy("piece").agg(F.sum("wt").alias("c")))
    return (ec.orderBy(F.desc("c"), "piece").limit(20)
            .select("piece",
                    (F.round("c", 4) + F.lit(0.0)).alias("expected_count")))


@register(
    "q_text_unigram_em_round",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents),
    words AS (
        SELECT w, COUNT(*) AS f FROM toks
        WHERE len(w) BETWEEN 1 AND 12 GROUP BY w),
    occ AS (
        SELECT w.w, w.f, j.j, k.k, substr(w.w, j.j + 1, k.k) AS piece
        FROM words w,
             (SELECT unnest(range(0, 12)) AS j) j,
             (SELECT unnest([1, 2, 3]) AS k) k
        WHERE j.j + k.k <= len(w.w)),
    vocab AS (
        SELECT piece, CAST(SUM(f) AS BIGINT) AS c FROM occ GROUP BY piece),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    edges AS (
        SELECT o.w, o.j, o.j + o.k AS i, o.piece,
               LN(CAST(v.c AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS lp
        FROM occ o JOIN vocab v ON v.piece = o.piece, tot),
    paths AS (
        SELECT w, 0 AS i, CAST(0.0 AS DOUBLE) AS s,
               CAST([] AS VARCHAR[]) AS ps
        FROM words
        UNION ALL
        SELECT e.w, e.i, p.s + e.lp, list_append(p.ps, e.piece)
        FROM paths p JOIN edges e ON e.w = p.w AND e.j = p.i),
    complete AS (
        SELECT p.w, p.s, p.ps
        FROM paths p JOIN words ww ON ww.w = p.w AND len(ww.w) = p.i),
    mx2 AS (SELECT w, MAX(s) AS m FROM complete GROUP BY w),
    z AS (
        SELECT c.w, mx2.m + LN(SUM(EXP(c.s - mx2.m))) AS logz
        FROM complete c JOIN mx2 ON mx2.w = c.w
        GROUP BY c.w, mx2.m),
    lik0 AS (
        SELECT SUM(ww.f * z.logz) AS l
        FROM z JOIN words ww ON ww.w = z.w),
    weighted AS (
        SELECT c.w, EXP(c.s - z.logz) * ww.f AS wt, c.ps
        FROM complete c JOIN z ON z.w = c.w JOIN words ww ON ww.w = c.w),
    ec AS (
        SELECT piece, SUM(wt) AS c
        FROM (SELECT unnest(ps) AS piece, wt FROM weighted)
        GROUP BY piece),
    ectot AS (SELECT SUM(c) AS t FROM ec),
    exploded AS (
        SELECT w, ps, unnest(ps) AS piece FROM complete),
    s1 AS (
        SELECT e.w, e.ps, SUM(LN(ec.c / ectot.t)) AS s_new
        FROM exploded e JOIN ec ON ec.piece = e.piece, ectot
        GROUP BY e.w, e.ps),
    mxn AS (SELECT w, MAX(s_new) AS m FROM s1 GROUP BY w),
    z1 AS (
        SELECT s1.w, mxn.m + LN(SUM(EXP(s1.s_new - mxn.m))) AS logz
        FROM s1 JOIN mxn ON mxn.w = s1.w
        GROUP BY s1.w, mxn.m),
    lik1 AS (
        SELECT SUM(ww.f * z1.logz) AS l
        FROM z1 JOIN words ww ON ww.w = z1.w)
    SELECT ROUND((SELECT l FROM lik0), 3) + 0.0 AS loglik_before,
           ROUND((SELECT l FROM lik1), 3) + 0.0 AS loglik_after,
           (SELECT l FROM lik1) >= (SELECT l FROM lik0) AS improved
    """,
    doc="One COMPLETE unigram-LM EM iteration with its monotonicity "
        "receipt: E-step expected piece counts (forward-backward "
        "posteriors), M-step renormalization into new piece "
        "probabilities, then the forward pass re-run under the new "
        "model — corpus log-likelihood before and after, plus the "
        "EM-guaranteed 'improved' flag computed from the actual "
        "numbers. This is the full training loop of a SentencePiece-"
        "style tokenizer demonstrated end-to-end on the engine (the "
        "trainer is this query iterated; vocabulary pruning between "
        "rounds is a filter on the count table). Two vectorized "
        "mapInPandas lattice passes over the word table (E-step "
        "forward-backward + re-scoring forward pass) with the M-step "
        "renormalization on the bounded piece table between them; the "
        "corpus is touched once (r12 replaced the 254-job "
        "driver-stepped form, 15.3 s -> 1.9 s at sf0.1). The oracle "
        "brute-forces both "
        "likelihoods by path enumeration — the second pass re-scores "
        "each enumerated path under the renormalized counts via a "
        "correlated piece-probability lookup.",
)
def q_text_unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    words, occ = _unigram_words_occ(spark, sf_dir)
    probs0 = occ.groupBy("piece").agg(F.sum("f").alias("c"))
    lp0 = spark.sparkContext.broadcast(_unigram_lp_map(probs0))
    # E-step pass: per-piece expected counts + the piece='' likelihood
    # partials, aggregated to a ≤48k-row table and pinned (eager
    # checkpoint) because the M-step collect AND the final result both
    # read it — without the pin the mapInPandas pass would run twice.
    passa = (words.mapInPandas(_lattice_kernel(lp0, "em"), _EM_SCHEMA)
             .groupBy("piece").agg(F.sum("wt").alias("c"))
             .localCheckpoint(eager=True))
    # M-step: renormalize expected counts into the new piece model
    # (bounded collect — same ≤48k-entry argument as _unigram_lp_map).
    ec_rows = [r for r in passa.collect() if r["piece"] != ""]
    tot = float(sum(r["c"] for r in ec_rows))
    lp1 = spark.sparkContext.broadcast(
        {r["piece"]: math.log(float(r["c"]) / tot) for r in ec_rows})
    # Forward pass under the new model -> corpus log-likelihood after.
    lik1 = (words.mapInPandas(_lattice_kernel(lp1, "lik"), _EM_SCHEMA)
            .agg(F.sum("wt").alias("l1")))
    lik0 = passa.where(F.col("piece") == "").select(F.col("c").alias("l0"))

    return (lik0.crossJoin(F.broadcast(lik1))
            .select((F.round("l0", 3) + F.lit(0.0)).alias("loglik_before"),
                    (F.round("l1", 3) + F.lit(0.0)).alias("loglik_after"),
                    (F.col("l1") >= F.col("l0")).alias("improved")))


@register(
    "q_text_kneser_ney",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    bg AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                   AS bg
        FROM tok WHERE len(ws) >= 2),
    sp AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[2] AS w2
           FROM bg),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM sp GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
                  COUNT(*) AS n1fw
           FROM c2 GROUP BY w1),
    bw AS (SELECT w2, COUNT(*) AS n1bw FROM c2 GROUP BY w2),
    tot AS (SELECT COUNT(*) AS n1all FROM c2)
    SELECT sp.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(LN(
               GREATEST(c2.c2 - 0.75, 0.0) / c1.c1::DOUBLE
               + 0.75 * c1.n1fw / c1.c1::DOUBLE
                 * bw.n1bw / tot.n1all::DOUBLE)), 4) AS avg_logprob
    FROM sp
    JOIN c2 USING (w1, w2)
    JOIN c1 USING (w1)
    JOIN bw USING (w2)
    CROSS JOIN tot
    GROUP BY sp.doc_id
    """,
    doc="Interpolated Kneser-Ney bigram LM scoring — the smoothing that "
        "actually ships in KenLM/CCNet-grade perplexity filters, beside "
        "the add-one twin (q_text_bigram_lm): P(w2|w1) = "
        "max(c(w1,w2)-D,0)/c(w1) + D*N1+(w1,.)/c(w1) * Pcont(w2), with "
        "absolute discount D=0.75 and the continuation probability "
        "Pcont(w2) = N1+(.,w2)/N1+(.,.) built from distinct-CONTEXT "
        "counts, not raw frequency (the 'san francisco' correction: "
        "frequent-but-predictable words stop inflating unseen-history "
        "scores). Train = the same two count aggregations the add-one "
        "LM needs plus two distinct-type aggregates DERIVED from the "
        "bigram count table (no extra corpus pass); score = three "
        "vocab-sized joins, broadcast under AQE at any corpus scale. "
        "The formula is evaluated with an identical operation tree in "
        "both engines (exact integer counts -> identical IEEE "
        "doubles), so the per-document mean log probability is fully "
        "value-checked.",
)
def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select("doc_id", T.tokens("text").alias("ws"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    sp = (tok.where(n >= 2)
          .select("doc_id", F.explode(bg_arr).alias("bg"))
          .select("doc_id", F.split("bg", " ")[0].alias("w1"),
                  F.split("bg", " ")[1].alias("w2")))
    c2 = sp.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"),
                              F.count(F.lit(1)).alias("n1fw"))
    bw = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bw"))
    tot = c2.agg(F.count(F.lit(1)).alias("n1all"))
    p = (F.greatest(F.col("c2") - 0.75, F.lit(0.0))
         / F.col("c1").cast("double")
         + F.lit(0.75) * F.col("n1fw") / F.col("c1").cast("double")
         * F.col("n1bw") / F.col("n1all").cast("double"))
    scored = (sp.join(c2, ["w1", "w2"])
              .join(c1, "w1")
              .join(bw, "w2")
              .crossJoin(F.broadcast(tot))
              .withColumn("lp", F.log(p)))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"))


@register(
    "q_text_ppl_buckets",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    bg AS (
        SELECT doc_id,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                   AS bg
        FROM tok WHERE len(ws) >= 2),
    sp AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1,
                  string_split(bg, ' ')[2] AS w2
           FROM bg),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM sp GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
                  COUNT(*) AS n1fw
           FROM c2 GROUP BY w1),
    bw AS (SELECT w2, COUNT(*) AS n1bw FROM c2 GROUP BY w2),
    tot AS (SELECT COUNT(*) AS n1all FROM c2),
    scored AS (
        SELECT sp.doc_id,
               ROUND(AVG(LN(
                   GREATEST(c2.c2 - 0.75, 0.0) / c1.c1::DOUBLE
                   + 0.75 * c1.n1fw / c1.c1::DOUBLE
                     * bw.n1bw / tot.n1all::DOUBLE)), 4) AS lp
        FROM sp
        JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN bw USING (w2)
        CROSS JOIN tot
        GROUP BY sp.doc_id),
    b AS (
        SELECT d.source, scored.lp,
               NTILE(3) OVER (PARTITION BY d.source
                              ORDER BY scored.lp DESC, scored.doc_id)
                   AS bucket
        FROM scored JOIN documents d USING (doc_id))
    SELECT source, bucket, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(ROUND(lp * 10000) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 10000.0), 4) AS avg_logprob
    FROM b GROUP BY source, bucket
    """,
    doc="CCNet-style perplexity-tertile bucketing — the curriculum/"
        "quality partition step after LM scoring: per source, documents "
        "split into head/middle/tail thirds by Kneser-Ney mean log "
        "probability (best = bucket 1), the partition CCNet keeps/"
        "inspects/drops and curriculum schedules sample from. Buckets "
        "come from NTILE over a TOTAL order (logprob desc, doc_id) so "
        "the assignment is deterministic in both engines; scores reuse "
        "the exact q_text_kneser_ney formulation (rounded once before "
        "ranking so both engines rank identical values). The per-source "
        "window is the demo formulation — at 100 TB the ranking runs "
        "per (source, shard) with broadcast cross-shard offsets, the "
        "sharded-window discipline q_abc_classification implements, or "
        "bucket boundaries come from a quantile sketch with the exact "
        "NTILE reserved for the oracle.",
)
def q_text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).table("documents")
    scored = (q_text_kneser_ney(spark, sf_dir)
              .select("doc_id", F.col("avg_logprob").alias("lp")))
    w = Window.partitionBy("source").orderBy(F.desc("lp"), "doc_id")
    b = (scored.join(d.select("doc_id", "source"), "doc_id")
         .withColumn("bucket", F.ntile(3).over(w)))
    # The bucket mean re-aggregates ALREADY-4dp-rounded scores: summing
    # them as exact integer ten-thousandths makes the mean summation-
    # order-independent (a plain AVG straddled a half-ulp rounding
    # boundary between engines at sf0.001).
    return (b.groupBy("source", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(
                     F.sum(F.round(F.col("lp") * 10000, 0).cast("long"))
                     .cast("double")
                     / (F.count(F.lit(1)) * F.lit(10000.0)), 4)
                 .alias("avg_logprob")))
