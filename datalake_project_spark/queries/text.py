"""Text-analysis queries over `documents`: token stats, quality scoring,
language-ID heuristic, rolling-hash fingerprinting.

Every formula is closed-form and integer/rational where it matters, so
the DuckDB oracle reproduces it exactly (same tokenizer regex, same
arithmetic) — these are full value-hash-checked queries, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.functions import text as T
from datalake_project_spark.queries import local_df, register

# Shared DuckDB fragments (same semantics as functions/text.py).
_SQL_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (f"CASE WHEN len(toks) > 0 THEN "
            f"len(list_filter(toks, t -> t IN ({words})))::DOUBLE / len(toks)::DOUBLE "
            f"ELSE 0.0 END")


@register(
    "q_text_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           CASE WHEN len(toks) > 0
                THEN ROUND(list_sum(list_transform(toks, t -> len(t)))::DOUBLE
                           / len(toks)::DOUBLE, 4)
                ELSE 0.0 END AS avg_token_len
    FROM tok
    """,
    doc="Token counting (whitespace/alnum regex tokenizer): counts, "
        "distinct counts, mean token length — all array ops in codegen.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.round(T.avg_token_len(toks), 4).alias("avg_token_len"),
    )


@register(
    "q_text_bpe_tokens",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(lower(text),
               '''(?:s|d|m|t|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+'))
               AS n_pieces,
           CAST(COALESCE(list_sum(list_transform(
               toks, t -> CAST(CEIL(len(t) / 4.0) AS BIGINT))), 0)
                AS BIGINT) AS n_subwords
    FROM tok
    """,
    doc="BPE-ish token counting for corpus budgeting: pre-tokenizer piece "
        "count (GPT-2-style regex, RE2-compatible so the oracle runs the "
        "IDENTICAL pattern) + ceil(len/4) subword estimate per token.",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    return d.select(
        "doc_id",
        T.bpe_pieces("text").alias("n_pieces"),
        T.subword_count(toks).alias("n_subwords"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    feat AS (
        SELECT doc_id,
               len(toks)::DOUBLE AS n_tok,
               LEAST(1.0, ln(1.0 + len(toks)::DOUBLE) / ln(101.0)) AS len_score,
               LEAST(1.0, ({_stop_sql('en')}) * 5.0) AS stop_score,
               LEAST(1.0, (CASE WHEN length(text) > 0 THEN
                   length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                   / length(text)::DOUBLE ELSE 0.0 END) * 4.0) AS punct_pen,
               CASE WHEN len(toks) > 0 THEN
                   list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks)::DOUBLE
                   ELSE 0.0 END AS wordlen
        FROM tok)
    SELECT doc_id,
           ROUND(GREATEST(0.0, LEAST(1.0,
               0.5 * len_score + 0.3 * stop_score - 0.3 * punct_pen
               - (CASE WHEN wordlen < 2.0 OR wordlen > 12.0 THEN 0.5 ELSE 0.0 END) * 0.2
           )), 4) AS quality
    FROM feat
    """,
    doc="Heuristic quality score: log-length + stopword density - "
        "punctuation density - degenerate-token-length penalty, clipped "
        "to [0,1].",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    return d.select(
        "doc_id",
        F.round(T.quality_score(F.col("text"), toks), 4).alias("quality"),
    )


@register(
    "q_text_langid",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id, lang,
               {_stop_sql('en')} AS s_en,
               {_stop_sql('es')} AS s_es,
               {_stop_sql('fr')} AS s_fr,
               {_stop_sql('de')} AS s_de
        FROM tok)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) <= 0 THEN 'unknown'
                WHEN s_en >= GREATEST(s_es, s_fr, s_de) THEN 'en'
                WHEN s_es >= GREATEST(s_fr, s_de) THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS predicted_lang,
           ROUND(GREATEST(s_en, s_es, s_fr, s_de), 4) AS score
    FROM scored
    """,
    doc="Language-ID n-gram/stopword heuristic with deterministic argmax "
        "tie-break (STOPWORDS key order: en, es, fr, de).",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    scores = {lang: T.stopword_ratio(toks, lang) for lang in T.STOPWORDS}
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.lang_guess(toks).alias("predicted_lang"),
        F.round(F.greatest(*scores.values()), 4).alias("score"),
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    norm AS (SELECT doc_id, array_to_string(toks, ' ') AS s FROM tok)
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                   list_transform([s[i] FOR i IN range(1, length(s) + 1)],
                                  c -> unicode(c)::BIGINT)),
               (acc, x) -> (acc * 31 + x) % 2147483647
           ) AS fp
    FROM norm
    WHERE length(s) > 0
    """,
    doc="Order-sensitive rolling-hash document fingerprint "
        "((acc*31+codepoint) mod 2^31-1 over normalized text) — exact "
        "integer arithmetic, bit-identical across engines.",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    return (
        d.select("doc_id", T.fingerprint(toks).alias("fp"),
                 F.length(F.concat_ws(" ", toks)).alias("_len"))
        .where(F.col("_len") > 0)
        .drop("_len")
    )


@register(
    "q_text_boilerplate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS ws FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS shingles
        FROM tok WHERE len(ws) >= 3),
    n AS (SELECT COUNT(*) AS n_docs FROM sh),
    df AS (
        SELECT u.s AS shingle, COUNT(*) AS doc_freq
        FROM sh, unnest(sh.shingles) AS u(s)
        GROUP BY u.s)
    SELECT shingle, doc_freq,
           ROUND(doc_freq::DOUBLE / n.n_docs, 4) AS doc_ratio
    FROM df, n
    WHERE doc_freq >= 5
    """,
    doc="Boilerplate detection (corpus-cleaning heavy hitters): 3-gram "
        "shingles present in >= 5 documents by DOCUMENT frequency "
        "(distinct per doc). One explode + one count per shingle with "
        "map-side partial aggregation; the flagged set is then a "
        "broadcast filter for a cleaning pass.",
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import shingles

    d = Catalog(spark, sf_dir).table("documents")
    sh = (d.select("doc_id", shingles(T.tokens("text"), 3).alias("_sh"))
          .where(F.size("_sh") >= 1))
    nd = sh.agg(F.count(F.lit(1)).alias("n_docs"))
    df_counts = (sh.select(F.explode("_sh").alias("shingle"))
                 .groupBy("shingle")
                 .agg(F.count(F.lit(1)).alias("doc_freq")))
    ratio = F.col("doc_freq").cast("double") / F.col("n_docs").cast("double")
    return (df_counts
            .crossJoin(F.broadcast(nd))
            .withColumn("doc_ratio", F.round(ratio, 4))
            .where(F.col("doc_freq") >= 5)
            .drop("n_docs"))


@register(
    "q_text_vocab",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents)
    SELECT term, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
    FROM toks
    GROUP BY term
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
    doc="Vocabulary building (tokenizer-training precursor): corpus-wide "
        "term table with occurrence and document frequency, df-filtered. "
        "One explode + one groupBy with map-side partial aggregation — "
        "at 100 TB this is the canonical first pass of BPE/unigram vocab "
        "induction.",
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"),
             F.count_distinct("doc_id").alias("doc_freq"))
        .where(F.col("doc_freq") >= 5)
    )


@register(
    "q_text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               ROUND(tf.tf * LN(n.n_docs::DOUBLE / df.df::DOUBLE), 4) AS tfidf,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, tfidf, rk
    FROM ranked WHERE rk <= 5 AND doc_id < 100
    """,
    doc="TF-IDF top-5 terms per document: exploded term counts joined to "
        "corpus document frequencies and scored tf*ln(N/df). Ranking is "
        "over the INTEGER triple (tf desc, df asc, term asc) so the "
        "window order is engine-exact; the double-valued tfidf is "
        "reported, not sorted on. The df table is the small side (vocab "
        "<< corpus) and broadcasts at scale.",
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(nd))
        .withColumn("tfidf", F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4))
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= 5) & (F.col("doc_id") < 100))
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    )


def _probe_shingles(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sh, probe): each document's token 3-shingle array ``_sh`` (empty
    ones dropped) and the distinct shingles ``_s`` of the probe set,
    documents 0-2."""
    from datalake_project_spark.functions.text import shingles

    sh = d.select("doc_id", shingles(T.tokens("text"), n=3).alias("_sh")) \
        .where(F.size("_sh") >= 1)
    probe = (sh.where(F.col("doc_id") < 3)
             .select(F.explode("_sh").alias("_s")).distinct())
    return sh, probe


@register(
    "q_text_contamination",
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
    probes AS (
        SELECT list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              FOR i IN range(1, len(ws) - 1)]) AS pshingles
        FROM words WHERE doc_id < 3 AND len(ws) >= 3),
    probe_sh AS (SELECT DISTINCT unnest(pshingles) AS s FROM probes)
    SELECT DISTINCT sh.doc_id
    FROM sh JOIN probe_sh ON list_contains(sh.shingles, probe_sh.s)
    WHERE sh.doc_id >= 3
    """,
    doc="Benchmark-contamination check: which corpus documents share any "
        "word-3-gram with a (small) probe set — the held-out/eval-leak "
        "scan every training pipeline needs. Spark plan: explode corpus "
        "shingles ONCE, broadcast the probe shingle set, semi-join — at "
        "100 TB the probe side is tiny and the corpus side is the same "
        "inverted index the dedup family already builds.",
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    sh, probe = _probe_shingles(d)
    corpus = (sh.where(F.col("doc_id") >= 3)
              .select("doc_id", F.explode("_sh").alias("_s")))
    return (corpus.join(F.broadcast(probe), "_s", "left_semi")
            .select("doc_id").distinct())


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEC-ONLY — deliberately UNREGISTERED (round 5).

    The semantic specification of sequence packing: an exclusive running
    token count over ONE deterministic total order, binned every 2048
    tokens. Its physical plan is the engine's canonical scale-killer —
    ``Exchange SinglePartition`` under a partition-less Window — which is
    exactly why it is not in the registry: the shipped, driver-verified
    formulation is ``q_pack_sequences_sharded`` (queries/corpus.py),
    whose per-shard windows compute the SAME semantics independently per
    shard. tests/test_plans.py pins both directions: (a) this spec's
    plan IS flagged by the structural global-sort detector (the detector
    regression test), and (b) the sharded variant's per-shard bins equal
    this spec applied to each shard's rows (the derivation proof).
    """
    from pyspark.sql.window import Window

    d = Catalog(spark, sf_dir).table("documents")
    tc = d.select("doc_id", T.token_count("text").alias("n_tokens"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = tc.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(2048.0)))
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"))


@register(
    "q_text_unicode_tokens",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS n_unicode,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_ascii
        FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_unicode) AS BIGINT) AS unicode_tokens,
           CAST(SUM(n_ascii) AS BIGINT) AS ascii_tokens
    FROM tok GROUP BY lang
    """,
    doc="Unicode-aware tokenization ([\\p{L}\\p{N}]+ — letter/number "
        "classes Java regex and RE2 share): per-language token totals "
        "against the ASCII tokenizer. Non-Latin scripts (the zh slice) "
        "are invisible to [a-z0-9]+ but fully counted here — the "
        "multilingual-corpus prerequisite for every token-budget and "
        "quality operator in the engine.",
)
def q_text_unicode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    uni = F.size(F.regexp_extract_all(
        F.lower("text"), F.lit(r"[\p{L}\p{N}]+"), 0))
    asc = F.size(T.tokens("text"))
    return (d.select("lang", uni.alias("_u"), asc.alias("_a"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_u").cast("long").alias("unicode_tokens"),
                 F.sum("_a").cast("long").alias("ascii_tokens")))


@register(
    "q_text_heavy_hitters",
    oracle=f"""
    WITH inst AS (SELECT unnest({_SQL_TOKS}) AS w FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM inst)
    SELECT w, COUNT(*) AS n_occurrences
    FROM inst
    GROUP BY w
    HAVING COUNT(*) * 500 >= (SELECT n FROM tot)
    """,
    doc="Heavy hitters (terms at >= 1/500 of all token instances) via "
        "distributed Misra-Gries + exact recount "
        "(operators/sketches.py): each partition keeps a bounded "
        "counter sketch (mapInPandas, O(k) memory), the candidate "
        "union is a PROVEN superset of the true heavy hitters "
        "(pigeonhole: a globally-heavy term is locally heavy "
        "somewhere), and an exact semi-join recount makes the output "
        "integer-exact — the oracle recomputes it naively. The "
        "frequency-cap / stopword-list builder that never shuffles the "
        "raw vocabulary at 100 TB; the final filter is pure integer "
        "arithmetic (n*500 >= N), bit-identical across engines.",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.sketches import heavy_hitters

    d = Catalog(spark, sf_dir).table("documents")
    inst = d.select(F.explode(T.tokens("text")).alias("w"))
    return heavy_hitters(inst, "w", phi_inv=500)


@register(
    "q_text_langid_confusion",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id, lang,
               {_stop_sql('en')} AS s_en,
               {_stop_sql('es')} AS s_es,
               {_stop_sql('fr')} AS s_fr,
               {_stop_sql('de')} AS s_de
        FROM tok),
    pred AS (
        SELECT lang AS labeled_lang,
               CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) <= 0 THEN 'unknown'
                    WHEN s_en >= GREATEST(s_es, s_fr, s_de) THEN 'en'
                    WHEN s_es >= GREATEST(s_fr, s_de) THEN 'es'
                    WHEN s_fr >= s_de THEN 'fr'
                    ELSE 'de' END AS predicted_lang
        FROM scored)
    SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
    FROM pred GROUP BY labeled_lang, predicted_lang
    """,
    doc="Language-ID confusion matrix (labeled vs predicted language, "
        "document counts): the eval table that turns q_text_langid's "
        "per-doc predictions into the per-language precision/recall a "
        "corpus team reads before trusting language slices — e.g. the "
        "zh rows land in 'unknown' under the Latin stopword heuristic, "
        "visible here as a full row of misses. Same scoring "
        "expressions as the base query, one extra tiny aggregate.",
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = T.tokens("text")
    scores = {lang: T.stopword_ratio(toks, lang) for lang in T.STOPWORDS}
    best = F.greatest(*scores.values())
    pred = (F.when(best <= 0, "unknown")
            .when(scores["en"] >= F.greatest(scores["es"], scores["fr"],
                                             scores["de"]), "en")
            .when(scores["es"] >= F.greatest(scores["fr"], scores["de"]), "es")
            .when(scores["fr"] >= scores["de"], "fr")
            .otherwise("de"))
    return (d.select(F.col("lang").alias("labeled_lang"),
                     pred.alias("predicted_lang"))
            .groupBy("labeled_lang", "predicted_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@register(
    "q_text_zipf_fit",
    oracle=f"""
    WITH vocab AS (
        SELECT t AS term, COUNT(*) AS freq FROM (
            SELECT unnest({_SQL_TOKS}) AS t FROM documents)
        GROUP BY t),
    ranked AS (
        SELECT a.term, a.freq, 1 + COUNT(b.term) AS rank
        FROM vocab a LEFT JOIN vocab b
          ON b.freq > a.freq OR (b.freq = a.freq AND b.term < a.term)
        GROUP BY a.term, a.freq)
    SELECT COUNT(*) AS n_terms,
           ROUND(regr_slope(LN(freq::DOUBLE), LN(rank::DOUBLE)), 4)
               + 0.0 AS zipf_slope,
           ROUND(regr_r2(LN(freq::DOUBLE), LN(rank::DOUBLE)), 4)
               + 0.0 AS r2
    FROM ranked
    """,
    doc="Zipf-law fit over the corpus vocabulary: OLS slope of "
        "log-frequency on log-rank (natural text sits near -1; "
        "synthetic or template-generated corpora — like this fixture — "
        "flatten toward 0, making the slope a generated-text detector "
        "at corpus granularity). Ranks come from a bounded self-join "
        "over the VOCAB table (vocabulary-sized, never corpus-sized — "
        "no global-order window), the fit from the closed-form regr_* "
        "aggregates.",
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    # vocab is self-joined for ranks: materialize the corpus explode
    # once (vocab-sized payload, lazy localCheckpoint)
    vocab = (d.select(F.explode(T.tokens("text")).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
             .localCheckpoint(eager=False))
    a, b = vocab.alias("a"), vocab.alias("b")
    better = (F.col("b.freq") > F.col("a.freq")) | \
        ((F.col("b.freq") == F.col("a.freq"))
         & (F.col("b.term") < F.col("a.term")))
    ranked = (a.join(b, better, "left")
              .groupBy(F.col("a.term"), F.col("a.freq").alias("freq"))
              .agg((F.count(F.col("b.term")) + 1).alias("rank")))
    lf, lr = F.log(F.col("freq").cast("double")), F.log(
        F.col("rank").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.round(F.regr_slope(lf, lr), 4) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_r2(lf, lr), 4) + F.lit(0.0)).alias("r2"))


HASH_DIM = 16  # feature-hashing target dimensionality


@register(
    "q_text_hash_features",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok),
    h AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform([t[i] FOR i IN range(1, length(t) + 1)],
                                      c -> unicode(c)::BIGINT)),
                   (acc, x) -> (acc * 31 + x) % 2147483647) AS hv
        FROM ex),
    f AS (SELECT doc_id, (hv % {HASH_DIM})::INT AS dim,
                 CASE WHEN hv % {2 * HASH_DIM} < {HASH_DIM}
                      THEN 1 ELSE -1 END AS sgn
          FROM h),
    v AS (SELECT doc_id, dim, SUM(sgn)::DOUBLE AS val
          FROM f GROUP BY doc_id, dim),
    nr AS (SELECT doc_id, SQRT(SUM(val * val)) AS nrm FROM v GROUP BY doc_id)
    SELECT v.doc_id, v.dim, ROUND(v.val / nr.nrm, 6) + 0.0 AS value
    FROM v JOIN nr USING (doc_id) WHERE nr.nrm > 0
    """,
    doc=f"Feature-hashing document vectors (the hashing trick, "
        f"Weinberger et al. 2009): each token folds to the engine's "
        "exact rolling hash, lands in one of "
        f"{HASH_DIM} signed buckets (sign from the next hash bit "
        "debiases collisions), per-doc counts L2-normalize into a "
        "fixed-dim vector — model-free embeddings that feed the "
        "cosine/ANN/clustering operators when no encoder is on the "
        "cluster. All integer hash arithmetic => engine-exact oracle; "
        "one exploded-token pass, two keyed aggregates, output in "
        "long (doc, dim, value) form — the corpus never carries wide "
        "arrays through a shuffle.",
)
def q_text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    ex = d.select("doc_id", F.explode(T.tokens("text")).alias("t"))
    chars = F.filter(F.split(F.col("t"), ""), lambda c: F.length(c) > 0)
    hv = F.aggregate(chars, F.lit(0).cast("long"),
                     lambda acc, c: (acc * 31 + F.ascii(c)) % T.FP_MOD)
    f = ex.select(
        "doc_id", (hv % HASH_DIM).cast("int").alias("dim"),
        F.when(hv % (2 * HASH_DIM) < HASH_DIM, 1).otherwise(-1).alias("sgn"))
    v = f.groupBy("doc_id", "dim").agg(F.sum("sgn").cast("double").alias("val"))
    nr = v.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm"))
    return (v.join(nr, "doc_id").where(F.col("nrm") > 0)
            .select("doc_id", "dim",
                    (F.round(F.col("val") / F.col("nrm"), 6)
                     + F.lit(0.0)).alias("value")))


@register(
    "q_text_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
        SELECT lang,
               len({_SQL_TOKS}) AS n_words,
               len(regexp_extract_all(lower(text),
                   \'\'\'(?:s|d|m|t|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s\'\']+\'))
                   AS n_pieces
        FROM documents)
    SELECT lang,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
           ROUND(CASE WHEN SUM(n_words) > 0
                      THEN SUM(n_pieces)::DOUBLE / SUM(n_words)
                      ELSE 0.0 END, 4) + 0.0 AS fertility
    FROM t GROUP BY lang
    """,
    doc="Tokenizer fertility per language (pre-tokenizer pieces per "
        "word): the multilingual-equity metric - languages the "
        "tokenizer fragments hardest pay more sequence length per "
        "sentence, so fertility drives both cost attribution and "
        "vocab-allocation decisions (the zh slice\'s n_words is near 0 "
        "under the ASCII word regex while pieces are not: exactly the "
        "disparity this table surfaces). Map-only regex counts, one "
        "tiny aggregate; the piece regex is the shared GPT-2-style "
        "pattern both engines run verbatim.",
)
def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    return (d.select("lang",
                     F.size(T.tokens("text")).alias("n_words"),
                     T.bpe_pieces("text").alias("n_pieces"))
            .groupBy("lang")
            .agg(F.sum("n_words").cast("long").alias("total_words"),
                 F.sum("n_pieces").cast("long").alias("total_pieces"),
                 (F.round(F.when(F.sum("n_words") > 0,
                                 F.sum("n_pieces").cast("double")
                                 / F.sum("n_words")).otherwise(0.0), 4)
                  + F.lit(0.0)).alias("fertility")))


@register(
    "q_text_decontaminate",
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
    probe_sh AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 3),
    ov AS (
        SELECT sh.doc_id, COUNT(DISTINCT s) AS n_overlap
        FROM sh, unnest(sh.shingles) AS u(s)
        WHERE sh.doc_id >= 3 AND s IN (SELECT s FROM probe_sh)
        GROUP BY sh.doc_id),
    corpus AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS nt
        FROM documents WHERE doc_id >= 3),
    flag AS (
        SELECT c.source, c.nt,
               COALESCE(ov.n_overlap, 0) >= 2 AS dropped
        FROM corpus c LEFT JOIN ov USING (doc_id))
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN dropped THEN 1 END) AS n_dropped,
           CAST(SUM(CASE WHEN NOT dropped THEN nt ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM flag GROUP BY source
    """,
    doc="Decontamination REMOVAL pass (the action q_text_contamination's "
        "scan informs): corpus documents sharing >= 2 distinct word-"
        "3-grams with the eval probe set (doc_id < 3) are dropped; the "
        "output is the per-source audit panel (docs, dropped, surviving "
        "tokens) a release manifest records. Integer threshold, no "
        "float ratio — hash-exact. Spark plan: corpus shingles explode "
        "ONCE, the probe shingle set broadcasts into a semi-join-shaped "
        "filter, overlap is a per-doc countDistinct, and the audit is "
        "one grouped aggregate — at 100 TB this is the contamination "
        "scan plus one keyed aggregate, no extra corpus pass.",
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    sh, probe = _probe_shingles(d)
    ov = (sh.where(F.col("doc_id") >= 3)
          .select("doc_id", F.explode("_sh").alias("_s"))
          .join(F.broadcast(probe), "_s", "left_semi")
          .groupBy("doc_id")
          .agg(F.countDistinct("_s").alias("n_overlap")))
    corpus = (d.where(F.col("doc_id") >= 3)
              .select("doc_id", "source", T.token_count("text").alias("nt")))
    flag = (corpus.join(ov, "doc_id", "left")
            .withColumn("dropped",
                        F.coalesce(F.col("n_overlap"), F.lit(0)) >= 2))
    return (flag.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count(F.when(F.col("dropped"), 1)).alias("n_dropped"),
                 F.sum(F.when(~F.col("dropped"), F.col("nt")).otherwise(0))
                 .cast("long").alias("kept_tokens")))


@register(
    "q_text_collocations",
    oracle="""
    WITH words AS (
        SELECT list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    bg AS (SELECT unnest([ws[i] || ' ' || ws[i+1]
                          FOR i IN range(1, len(ws))]) AS b
           FROM words WHERE len(ws) >= 2),
    pc AS (SELECT b, COUNT(*) AS n12 FROM bg GROUP BY b),
    m1 AS (SELECT split_part(b, ' ', 1) AS w1,
                  CAST(SUM(n12) AS BIGINT) AS n1 FROM pc GROUP BY 1),
    m2 AS (SELECT split_part(b, ' ', 2) AS w2,
                  CAST(SUM(n12) AS BIGINT) AS n2 FROM pc GROUP BY 1),
    tot AS (SELECT CAST(SUM(n12) AS BIGINT) AS nb FROM pc)
    SELECT b AS bigram, n12 AS n,
           ROUND(ln(n12::DOUBLE * tot.nb / (m1.n1 * m2.n2)), 6) + 0.0 AS pmi
    FROM pc
    JOIN m1 ON m1.w1 = split_part(b, ' ', 1)
    JOIN m2 ON m2.w2 = split_part(b, ' ', 2)
    CROSS JOIN tot
    WHERE n12 >= 5
    ORDER BY pmi DESC, bigram LIMIT 20
    """,
    doc="Collocation mining: top-20 adjacent word pairs by pointwise "
        "mutual information (PMI over the bigram table's own marginals, "
        "min count 5) — the word-association measure behind phrase "
        "detection in word2vec-era pipelines, and the text-adjacency "
        "counterpart of q_events_pmi's co-occurrence association. "
        "One corpus explode builds the pair-count table; marginals and "
        "the bigram total re-aggregate from that VOCAB-SIZED table "
        "(never a second corpus pass) and broadcast back onto it; "
        "top-20 via TakeOrderedAndProject. The PMI argument is "
        "computed with the identical operation order on both engines "
        "(double numerator, exact integer denominator) and rounded at "
        "6 dp before ranking.",
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tok = d.select(T.tokens("text").alias("ws"))
    n = F.size("ws")
    bg_arr = F.zip_with(
        F.slice("ws", 1, n - 1), F.slice(F.col("ws"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    # the pair-count table feeds FOUR branches (marginals, total, main);
    # a lazy localCheckpoint materializes the corpus explode ONCE and
    # the vocab-sized table is what every branch re-reads (the LSH
    # discipline — without it Catalyst re-runs the corpus pass per
    # branch)
    pc = (tok.where(n >= 2)
          .select(F.explode(bg_arr).alias("b"))
          .groupBy("b").agg(F.count(F.lit(1)).alias("n12"))
          .localCheckpoint(eager=False))
    m1 = (pc.groupBy(F.split("b", " ")[0].alias("w1"))
          .agg(F.sum("n12").cast("long").alias("n1")))
    m2 = (pc.groupBy(F.split("b", " ")[1].alias("w2"))
          .agg(F.sum("n12").cast("long").alias("n2")))
    tot = pc.agg(F.sum("n12").cast("long").alias("nb"))
    return (pc.where(F.col("n12") >= 5)
            .withColumn("w1", F.split("b", " ")[0])
            .withColumn("w2", F.split("b", " ")[1])
            .join(F.broadcast(m1), "w1")
            .join(F.broadcast(m2), "w2")
            .crossJoin(F.broadcast(tot))
            .select(F.col("b").alias("bigram"), F.col("n12").alias("n"),
                    (F.round(F.log(F.col("n12").cast("double") * F.col("nb")
                                   / (F.col("n1") * F.col("n2"))), 6)
                     + F.lit(0.0)).alias("pmi"))
            .orderBy(F.desc("pmi"), "bigram").limit(20))


@register(
    "q_text_vocab_coverage",
    oracle=f"""
    WITH vocab AS (
        SELECT t AS term, COUNT(*) AS freq
        FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents)
        GROUP BY t),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n FROM vocab),
    ranked AS (
        SELECT a.term, a.freq,
               1 + COUNT(b.term) AS rk
        FROM vocab a LEFT JOIN vocab b
          ON (b.freq > a.freq) OR (b.freq = a.freq AND b.term < a.term)
        GROUP BY a.term, a.freq),
    cum AS (
        SELECT a.rk,
               CAST(SUM(b.freq) AS BIGINT) AS cum_freq
        FROM ranked a JOIN ranked b ON b.rk <= a.rk
        GROUP BY a.rk),
    cuts AS (SELECT unnest([0.90, 0.95, 0.99]) AS coverage)
    SELECT coverage::DOUBLE AS coverage,
           CAST(MIN(cum.rk) AS BIGINT) AS min_vocab_size,
           CAST(MIN(CASE WHEN cum.rk = m.r THEN cum.cum_freq END)
                AS BIGINT) AS tokens_covered
    FROM cuts
    JOIN tot ON TRUE
    JOIN cum ON cum.cum_freq >= CAST(CEIL(coverage * tot.n) AS BIGINT)
    JOIN (SELECT c2.coverage AS cov, MIN(cum2.rk) AS r
          FROM (SELECT unnest([0.90, 0.95, 0.99]) AS coverage) c2
          CROSS JOIN tot t2
          JOIN cum cum2
            ON cum2.cum_freq >= CAST(CEIL(c2.coverage * t2.n) AS BIGINT)
          GROUP BY cov) m ON m.cov = coverage
    GROUP BY coverage
    """,
    doc="Vocabulary coverage curve: the smallest frequency-ranked "
        "vocab size covering 90/95/99% of all token instances — the "
        "table that sizes a tokenizer's vocabulary (diminishing-"
        "returns knee) before BPE training commits to one. Ranks and "
        "prefix sums run over the VOCAB-sized table via bounded "
        "self-joins (the q_text_zipf_fit shape — never a corpus-sized "
        "or single-partition window; at true web-scale vocabularies "
        "q_text_vocab_coverage_sharded is the V log V drop-in). "
        "Integer counts; the coverage thresholds compare "
        "against ceil(c*N) so both engines pick the identical rank.",
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    vocab = (d.select(F.explode(T.tokens("text")).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
             .localCheckpoint(eager=False))
    tot = vocab.agg(F.sum("freq").cast("long").alias("n"))
    a, b = vocab.alias("a"), vocab.alias("b")
    better = (F.col("b.freq") > F.col("a.freq")) | \
        ((F.col("b.freq") == F.col("a.freq"))
         & (F.col("b.term") < F.col("a.term")))
    ranked = (a.join(b, better, "left")
              .groupBy(F.col("a.term"), F.col("a.freq"))
              .agg((F.count(F.col("b.term")) + 1).alias("rk"))
              .localCheckpoint(eager=False))
    ra = ranked.alias("ra")
    rb = ranked.select(F.col("rk").alias("rk_b"), F.col("freq").alias("f_b"))
    # vocab-sized non-equi self-join: broadcast one side so the plan is
    # a BroadcastNestedLoopJoin over the bounded table, never a
    # CartesianProduct (plan_sweep-pinned)
    cum = (ra.join(F.broadcast(rb), F.col("rk_b") <= F.col("ra.rk"))
           .groupBy(F.col("ra.rk").alias("rk"))
           .agg(F.sum("f_b").cast("long").alias("cum_freq")))
    cuts = (d.sparkSession.range(1)
            .select(F.explode(F.array(F.lit(0.90), F.lit(0.95),
                                      F.lit(0.99))).alias("coverage")))
    need = F.ceil(F.col("coverage") * F.col("n")).cast("long")
    hits = (cum.join(F.broadcast(cuts.crossJoin(tot)),
                     cum["cum_freq"] >= need)
            .groupBy("coverage")
            .agg(F.min(F.struct(F.col("rk").alias("rk"),
                                F.col("cum_freq").alias("cf"))).alias("p")))
    return hits.select(
        "coverage",
        F.col("p.rk").cast("long").alias("min_vocab_size"),
        F.col("p.cf").cast("long").alias("tokens_covered"))


OOV_VOCAB_K = 500  # fixed vocabulary size for the OOV audit


@register(
    "q_text_oov_rate",
    oracle=f"""
    WITH inst AS (
        SELECT lang, unnest({_SQL_TOKS}) AS t FROM documents),
    vocab AS (SELECT t AS term, COUNT(*) AS freq FROM inst GROUP BY t),
    ranked AS (
        SELECT a.term, 1 + COUNT(b.term) AS rk
        FROM vocab a LEFT JOIN vocab b
          ON (b.freq > a.freq) OR (b.freq = a.freq AND b.term < a.term)
        GROUP BY a.term, a.freq),
    kept AS (SELECT term FROM ranked WHERE rk <= {OOV_VOCAB_K})
    SELECT lang,
           COUNT(*) AS n_tokens,
           COUNT(CASE WHEN t NOT IN (SELECT term FROM kept) THEN 1 END)
               AS n_oov,
           ROUND(COUNT(CASE WHEN t NOT IN (SELECT term FROM kept)
                            THEN 1 END)::DOUBLE / COUNT(*), 6) + 0.0
               AS oov_rate
    FROM inst GROUP BY lang
    """,
    doc=f"Out-of-vocabulary rate per language under a FIXED top-"
        f"{OOV_VOCAB_K} frequency vocabulary — the multilingual-equity "
        "audit beside tokenizer fertility: a corpus-majority language "
        "dominates the shared vocab, so minority languages pay the OOV "
        "(or subword-explosion) tax; this table quantifies who pays "
        "before a vocab size ships (q_text_vocab_coverage says how "
        "big; this says for whom). Vocab ranking via the bounded "
        "vocab-sized self-join; membership is a broadcast anti-"
        "semi-join against the K kept terms on the single corpus "
        "instance pass. Ratio of ints at 6 dp — hash-exact.",
)
def q_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    inst = (d.select("lang", F.explode(T.tokens("text")).alias("t"))
            .localCheckpoint(eager=False))  # feeds vocab AND the audit
    vocab = inst.groupBy(F.col("t").alias("term")) \
        .agg(F.count(F.lit(1)).alias("freq"))
    a, b = vocab.alias("a"), vocab.alias("b")
    better = (F.col("b.freq") > F.col("a.freq")) | \
        ((F.col("b.freq") == F.col("a.freq"))
         & (F.col("b.term") < F.col("a.term")))
    kept = (a.join(F.broadcast(b), better, "left")
            .groupBy(F.col("a.term"))
            .agg((F.count(F.col("b.term")) + 1).alias("rk"))
            .where(F.col("rk") <= OOV_VOCAB_K)
            .select(F.col("term").alias("t"))
            .withColumn("_in", F.lit(1)))
    return (inst.join(F.broadcast(kept), "t", "left")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.count(F.when(F.col("_in").isNull(), 1)).alias("n_oov"),
                 (F.round(F.count(F.when(F.col("_in").isNull(), 1))
                          .cast("double") / F.count(F.lit(1)), 6)
                  + F.lit(0.0)).alias("oov_rate")))


# --------------------------------------------------------------------------
# Chao1 vocabulary-richness estimate — how many words we HAVEN'T seen
# --------------------------------------------------------------------------

def _trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, c): corpus frequency of every token trigram."""
    d = Catalog(spark, sf_dir).table("documents")
    tri = (d.select(T.tokens("text").alias("ws"))
           .where(F.size("ws") >= 3)
           .select(F.explode(F.expr(
               "transform(sequence(0, size(ws) - 3), "
               "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
               .alias("term")))
    return tri.groupBy("term").agg(F.count(F.lit(1)).alias("c"))


@register(
    "q_text_chao1_vocab",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    toks AS (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
        FROM words, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3),
    tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    s AS (
        SELECT COUNT(*) AS v,
               SUM(c) AS n_tokens,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
               SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
        FROM tf)
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS vocab_observed,
           CAST(f1 AS BIGINT) AS hapax_f1,
           CAST(f2 AS BIGINT) AS dis_f2,
           ROUND(v + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1)), 2)
               AS chao1_estimate,
           ROUND(CAST(v AS DOUBLE)
                 / (v + CAST(f1 AS DOUBLE) * (f1 - 1) / (2 * (f2 + 1))), 6)
               AS coverage_of_estimate
    FROM s
    """,
    doc="Chao1 species-richness estimate applied to vocabulary — the "
        "nonparametric lower bound on TOTAL vocabulary size (seen + "
        "unseen) from just the hapax/dis-legomena counts: "
        "chao1 = V + f1(f1-1)/(2(f2+1)) (bias-corrected form, defined "
        "even when f2 = 0). This is the corpus-growth planning number: "
        "coverage_of_estimate tells you what fraction of the reachable "
        "vocabulary the current crawl has captured, i.e. whether more "
        "of the same source will keep yielding new types (cf. the "
        "Zipf-fit and vocab-coverage companions). Species = word "
        "TRIGRAMS: the fixture's unigram vocabulary is tiny and "
        "saturated (f1 = f2 = 0 — Chao1 degenerates), while the "
        "trigram space has the long rare tail the estimator exists "
        "for; at corpus scale the same holds for any n-gram LM's "
        "context inventory. Everything is integer counts until the "
        "single closed-form division — hash-exact across engines. "
        "Scale shape: one explode + one term group-by + one "
        "4-counter fold; the count-of-counts profile is O(vocab), "
        "not O(corpus).",
)
def q_text_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _trigram_counts(spark, sf_dir)
    s = tf.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("f2"))
    chao1 = (F.col("v") + F.col("f1").cast("double") * (F.col("f1") - 1)
             / (2 * (F.col("f2") + 1)))
    return s.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("v").cast("long").alias("vocab_observed"),
        F.col("f1").cast("long").alias("hapax_f1"),
        F.col("f2").cast("long").alias("dis_f2"),
        F.round(chao1, 2).alias("chao1_estimate"),
        F.round(F.col("v").cast("double") / chao1, 6)
         .alias("coverage_of_estimate"))


# --------------------------------------------------------------------------
# Good-Turing frequency smoothing — the count-of-counts re-estimator
# --------------------------------------------------------------------------

@register(
    "q_text_good_turing",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    toks AS (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
        FROM words, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3),
    tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    coc AS (SELECT c AS r, COUNT(*) AS nr FROM tf GROUP BY c),
    n_ AS (SELECT SUM(c) AS n FROM tf)
    SELECT CAST(a.r AS BIGINT) AS r,
           CAST(a.nr AS BIGINT) AS n_r,
           CAST(COALESCE(b.nr, 0) AS BIGINT) AS n_r_plus_1,
           CASE WHEN b.nr IS NULL THEN NULL
                ELSE ROUND((a.r + 1) * CAST(b.nr AS DOUBLE) / a.nr, 6)
           END AS r_star,
           ROUND((SELECT CAST(nr AS DOUBLE) FROM coc WHERE r = 1)
                 / (SELECT n FROM n_), 8) AS p_unseen_mass
    FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
    WHERE a.r <= 10
    ORDER BY a.r
    """,
    doc="Good-Turing re-estimation from the count-of-counts profile — "
        "the classical answer to 'how much probability mass belongs to "
        "words we never saw': p0 = N1/N, and every observed count r is "
        "discounted to r* = (r+1) N_{r+1} / N_r. Complements the "
        "engine's add-one, interpolated, and Kneser-Ney LMs with the "
        "estimator they all descend from, and pairs with q_text_chao1_"
        "vocab (Chao1 bounds unseen TYPES, Good-Turing prices unseen "
        "MASS). Events = word TRIGRAMS — the fixture's unigram vocab "
        "has no r <= 10 counts at all (count-of-counts is empty "
        "there), while trigrams carry the hapax-heavy tail GT was "
        "built for, exactly like n-gram LM contexts at corpus scale. "
        "The count-of-counts table is O(distinct counts) — tiny — so "
        "the shifted self-join (N_{r+1} lookup) is a broadcast over "
        "an already double-aggregated relation; integer counts "
        "end-to-end with one rounded division per row.",
)
def q_text_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _trigram_counts(spark, sf_dir)
    coc = (tf.groupBy(F.col("c").alias("r"))
           .agg(F.count(F.lit(1)).alias("nr"))
           .localCheckpoint(eager=False))
    n_ = tf.agg(F.sum("c").alias("n"))
    p0 = (coc.where(F.col("r") == 1)
          .crossJoin(F.broadcast(n_))
          .select(F.round(F.col("nr").cast("double") / F.col("n"), 8)
                  .alias("p_unseen_mass")))
    nxt = coc.select((F.col("r") - 1).alias("r"),
                     F.col("nr").alias("nr1"))
    return (coc.where(F.col("r") <= 10)
            .join(F.broadcast(nxt), "r", "left")
            .crossJoin(F.broadcast(p0))
            .select(F.col("r").cast("long").alias("r"),
                    F.col("nr").cast("long").alias("n_r"),
                    F.coalesce("nr1", F.lit(0)).cast("long")
                     .alias("n_r_plus_1"),
                    F.when(F.col("nr1").isNull(),
                           F.lit(None).cast("double"))
                     .otherwise(F.round((F.col("r") + 1)
                                        * F.col("nr1").cast("double")
                                        / F.col("nr"), 6))
                     .alias("r_star"),
                    "p_unseen_mass")
            .orderBy("r"))


# --------------------------------------------------------------------------
# Conditional entropy of the bigram channel — how predictable is the text?
# --------------------------------------------------------------------------

@register(
    "q_text_conditional_entropy",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    bi AS (
        SELECT ws[i] AS x, ws[i+1] AS y
        FROM words, unnest(range(1, len(ws))) AS u(i)
        WHERE len(ws) >= 2),
    cxy AS (SELECT x, y, COUNT(*) AS c FROM bi GROUP BY x, y),
    cx AS (SELECT x, SUM(c) AS cx FROM cxy GROUP BY x),
    cy AS (SELECT y, SUM(c) AS cy FROM cxy GROUP BY y),
    n_ AS (SELECT SUM(c) AS n FROM cxy),
    hcond AS (
        SELECT SUM((c::DOUBLE / n) * LN(cx::DOUBLE / c) / LN(2.0)) AS h
        FROM cxy JOIN cx USING (x) CROSS JOIN n_),
    hy AS (
        SELECT SUM((cy::DOUBLE / n) * LN(n::DOUBLE / cy) / LN(2.0)) AS h
        FROM cy CROSS JOIN n_)
    SELECT CAST(n AS BIGINT) AS n_bigrams,
           (SELECT COUNT(*) FROM cxy)::BIGINT AS distinct_bigrams,
           ROUND(hy.h, 4) AS h_next,
           ROUND(hcond.h, 4) AS h_next_given_prev,
           ROUND(hy.h - hcond.h, 4) AS information_gain_bits
    FROM hcond, hy, n_
    """,
    doc="Conditional entropy H(next | prev) of the word-bigram channel "
        "versus the unconditioned next-token entropy H(next) — the "
        "information-theoretic redundancy measure (Shannon's printed-"
        "English experiment, in SQL). information_gain_bits = mutual "
        "information between adjacent tokens: how many bits the "
        "previous word buys a language model, the quantity that "
        "decides whether context length is worth its compute on a "
        "corpus. Identities used: H(Y|X) = sum p(x,y) log2(c_x/c_xy) "
        "and H(Y) from the bigram y-marginal, so everything derives "
        "from ONE bigram count table (integer cells) + two marginals; "
        "the log terms are rounded at 4 dp, absorbing summation-order "
        "ulp noise per the registry float discipline. Scale: explode "
        "-> one (x,y) group-by (map-side combinable) -> O(vocab^2)-"
        "bounded aggregate state, independent of corpus rows.",
)
def q_text_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    bi = (d.select(T.tokens("text").alias("ws"))
          .where(F.size("ws") >= 2)
          .select(F.explode(F.expr(
              "transform(sequence(0, size(ws) - 2), "
              "i -> struct(ws[i] AS x, ws[i+1] AS y))")).alias("b"))
          .select("b.x", "b.y"))
    cxy = (bi.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint(eager=False))
    cx = cxy.groupBy("x").agg(F.sum("c").alias("cx"))
    cy = cxy.groupBy("y").agg(F.sum("c").alias("cy"))
    n_ = cxy.agg(F.sum("c").alias("n"),
                 F.count(F.lit(1)).alias("nbi"))
    hcond = (cxy.join(cx, "x").crossJoin(F.broadcast(n_))
             .agg(F.sum((F.col("c").cast("double") / F.col("n"))
                        * F.log(F.col("cx").cast("double") / F.col("c"))
                        / F.log(F.lit(2.0))).alias("hc")))
    hy = (cy.crossJoin(F.broadcast(n_))
          .agg(F.sum((F.col("cy").cast("double") / F.col("n"))
                     * F.log(F.col("n").cast("double") / F.col("cy"))
                     / F.log(F.lit(2.0))).alias("hy")))
    return (n_.crossJoin(F.broadcast(hcond)).crossJoin(F.broadcast(hy))
            .select(F.col("n").cast("long").alias("n_bigrams"),
                    F.col("nbi").cast("long").alias("distinct_bigrams"),
                    F.round("hy", 4).alias("h_next"),
                    F.round("hc", 4).alias("h_next_given_prev"),
                    F.round(F.col("hy") - F.col("hc"), 4)
                     .alias("information_gain_bits")))


# --------------------------------------------------------------------------
# Distinct-n diversity — the repetition health metric for corpora
# --------------------------------------------------------------------------

@register(
    "q_text_distinct_n",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    u AS (SELECT unnest(ws) AS g FROM words),
    b AS (SELECT ws[i] || ' ' || ws[i+1] AS g
          FROM words, unnest(range(1, len(ws))) AS v(i)
          WHERE len(ws) >= 2),
    t AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          FROM words, unnest(range(1, len(ws) - 1)) AS v(i)
          WHERE len(ws) >= 3),
    m AS (
        SELECT 1 AS n, COUNT(*) AS total, COUNT(DISTINCT g) AS uniq FROM u
        UNION ALL
        SELECT 2, COUNT(*), COUNT(DISTINCT g) FROM b
        UNION ALL
        SELECT 3, COUNT(*), COUNT(DISTINCT g) FROM t)
    SELECT CAST(n AS INT) AS n,
           CAST(total AS BIGINT) AS n_ngrams,
           CAST(uniq AS BIGINT) AS n_distinct,
           ROUND(uniq::DOUBLE / total, 6) AS distinct_ratio
    FROM m ORDER BY n
    """,
    doc="Distinct-1/2/3 — the corpus diversity ratios (Li et al. '16) "
        "that flag degenerate repetition in generated or crawled text "
        "before it poisons a training mix: distinct n-grams / total "
        "n-grams for n = 1..3. Complements per-doc q_text_repetition "
        "(local loops) and q_text_ttr_hapax (type-token richness) with "
        "the corpus-level sequence-diversity view; a fall in "
        "distinct-3 with stable distinct-1 is the signature of "
        "template spam. Pure integer counts -> one rounded ratio; "
        "each n-gram order is one explode + count-distinct (map-side "
        "partial aggregation; at 100 TB use the HLL twin "
        "q_hll_mergeable_distinct for the distinct counts).",
)
def q_text_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    ws = d.select(T.tokens("text").alias("ws"))

    def grams(n: int):
        if n == 1:
            g = ws.select(F.explode("ws").alias("g"))
        else:
            expr = " , ' ', ".join(f"ws[i+{k}]" for k in range(n))
            g = (ws.where(F.size("ws") >= n)
                 .select(F.explode(F.expr(
                     f"transform(sequence(0, size(ws) - {n}), "
                     f"i -> concat({expr}))")).alias("g")))
        return g.agg(F.lit(n).alias("n"),
                     F.count(F.lit(1)).alias("total"),
                     F.countDistinct("g").alias("uniq"))

    m = grams(1).unionByName(grams(2)).unionByName(grams(3))
    return (m.select(F.col("n").cast("int").alias("n"),
                     F.col("total").cast("long").alias("n_ngrams"),
                     F.col("uniq").cast("long").alias("n_distinct"),
                     F.round(F.col("uniq").cast("double") / F.col("total"),
                             6).alias("distinct_ratio"))
            .orderBy("n"))


# --------------------------------------------------------------------------
# Heaps' law fit — vocabulary growth exponent from first occurrences
# --------------------------------------------------------------------------

@register(
    "q_text_heaps_law",
    oracle="""
    WITH toks AS (
        SELECT doc_id % 10 AS bucket,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
    firstb AS (SELECT term, MIN(bucket) AS fb FROM toks GROUP BY term),
    tokb AS (SELECT bucket, COUNT(*) AS toks_in FROM toks GROUP BY bucket),
    newb AS (SELECT fb AS bucket, COUNT(*) AS new_terms
             FROM firstb GROUP BY fb),
    cum AS (
        SELECT b.bucket,
               (SELECT SUM(t2.toks_in) FROM tokb t2
                WHERE t2.bucket <= b.bucket) AS n_k,
               (SELECT COALESCE(SUM(n2.new_terms), 0) FROM newb n2
                WHERE n2.bucket <= b.bucket) AS v_k
        FROM tokb b),
    pts AS (SELECT bucket, n_k, v_k,
                   LN(n_k::DOUBLE) AS x, LN(v_k::DOUBLE) AS y
            FROM cum),
    fit AS (
        SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts)
    SELECT CAST(p.bucket AS INT) AS bucket,
           CAST(p.n_k AS BIGINT) AS cum_tokens,
           CAST(p.v_k AS BIGINT) AS cum_vocab,
           ROUND((f.m * f.sxy - f.sx * f.sy)
                 / (f.m * f.sxx - f.sx * f.sx), 6) AS heaps_beta,
           ROUND(EXP((f.sy - (f.m * f.sxy - f.sx * f.sy)
                      / (f.m * f.sxx - f.sx * f.sx) * f.sx) / f.m), 4)
               AS heaps_k
    FROM pts p CROSS JOIN fit f
    ORDER BY p.bucket
    """,
    doc="Heaps' law fit V(N) = K * N^beta — the vocabulary-growth "
        "exponent that says how fast new types keep arriving as the "
        "corpus scales (the planning constant behind tokenizer vocab "
        "sizing and the Chao1 companion: beta near 1 = vocabulary "
        "still exploding, near 0 = saturated; this fixture's tiny "
        "unigram vocab fits beta ~ 0). The growth curve needs NO "
        "global ordering pass: bucket docs by doc_id % 10, then "
        "V(k) = # terms whose FIRST-occurrence bucket <= k — one "
        "min-aggregate over terms plus a 10-row cumulative (broadcast "
        "subquery, no window); cumulative token counts come from the "
        "same bucket histogram. Log-log OLS over the 10 (ln N_k, "
        "ln V_k) points is closed-form from five sums. Everything up "
        "to the final regression is exact integers.",
)
def q_text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    toks = d.select((F.col("doc_id") % 10).alias("bucket"),
                    F.explode(T.tokens("text")).alias("term"))
    firstb = toks.groupBy("term").agg(F.min("bucket").alias("fb"))
    tokb = (toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("toks_in"))
            .localCheckpoint(eager=False))
    newb = firstb.groupBy(F.col("fb").alias("bucket")) \
                 .agg(F.count(F.lit(1)).alias("new_terms"))
    t2 = tokb.select(F.col("bucket").alias("b2"),
                     F.col("toks_in").alias("t2"))
    n2 = newb.select(F.col("bucket").alias("b3"),
                     F.col("new_terms").alias("v2"))
    cum = (tokb.join(F.broadcast(t2), F.col("b2") <= F.col("bucket"))
           .groupBy("bucket").agg(F.sum("t2").alias("n_k"))
           .join(tokb.join(F.broadcast(n2),
                           F.col("b3") <= F.col("bucket"), "left")
                 .groupBy("bucket")
                 .agg(F.coalesce(F.sum("v2"), F.lit(0)).alias("v_k")),
                 "bucket"))
    pts = cum.select("bucket", "n_k", "v_k",
                     F.log(F.col("n_k").cast("double")).alias("x"),
                     F.log(F.col("v_k").cast("double")).alias("y"))
    fit = pts.agg(F.count(F.lit(1)).alias("m"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"))
    beta = ((F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return (pts.crossJoin(F.broadcast(fit))
            .select(F.col("bucket").cast("int").alias("bucket"),
                    F.col("n_k").cast("long").alias("cum_tokens"),
                    F.col("v_k").cast("long").alias("cum_vocab"),
                    F.round(beta, 6).alias("heaps_beta"),
                    F.round(F.exp((F.col("sy") - beta * F.col("sx"))
                                  / F.col("m")), 4).alias("heaps_k"))
            .orderBy("bucket"))


# --------------------------------------------------------------------------
# Simpson diversity / effective vocabulary — the collision view of diversity
# --------------------------------------------------------------------------

@register(
    "q_text_simpson_diversity",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    u AS (SELECT unnest(ws) AS g FROM words),
    t AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
          FROM words, unnest(range(1, len(ws) - 1)) AS v(i)
          WHERE len(ws) >= 3),
    m AS (
        SELECT 1 AS n, SUM(c) AS nn, COUNT(*) AS v, SUM(c * c) AS s2
        FROM (SELECT g, COUNT(*) AS c FROM u GROUP BY g)
        UNION ALL
        SELECT 3, SUM(c), COUNT(*), SUM(c * c)
        FROM (SELECT g, COUNT(*) AS c FROM t GROUP BY g))
    SELECT CAST(n AS INT) AS n,
           CAST(nn AS BIGINT) AS n_ngrams,
           CAST(v AS BIGINT) AS n_types,
           ROUND(CAST(s2 AS DOUBLE) / (CAST(nn AS DOUBLE) * nn), 6)
               AS simpson_lambda,
           ROUND(1 - CAST(s2 AS DOUBLE) / (CAST(nn AS DOUBLE) * nn), 6)
               AS gini_simpson,
           ROUND((CAST(nn AS DOUBLE) * nn) / s2, 2) AS effective_types
    FROM m ORDER BY n
    """,
    doc="Simpson diversity of the unigram and trigram distributions: "
        "lambda = sum p_i^2 is the COLLISION probability (two random "
        "tokens agree), 1 - lambda the Gini-Simpson index, and "
        "N^2 / sum c_i^2 the EFFECTIVE number of types — the "
        "order-2 Hill number that, unlike raw type counts (distinct-n) "
        "or Shannon entropy, is dominated by the head of the "
        "distribution and so measures what a model actually sees at "
        "training time. All three derive from two BIGINT sums (N, "
        "sum c^2) per order — integer-exact until one final division, "
        "mergeable across shards by plain addition (the same "
        "power-sum shape as the moments/overdispersion queries).",
)
def q_text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    ws = d.select(T.tokens("text").alias("ws"))

    def order(n: int):
        if n == 1:
            g = ws.select(F.explode("ws").alias("g"))
        else:
            expr = " , ' ', ".join(f"ws[i+{k}]" for k in range(n))
            g = (ws.where(F.size("ws") >= n)
                 .select(F.explode(F.expr(
                     f"transform(sequence(0, size(ws) - {n}), "
                     f"i -> concat({expr}))")).alias("g")))
        return (g.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
                .agg(F.lit(n).alias("n"),
                     F.sum("c").alias("nn"),
                     F.count(F.lit(1)).alias("v"),
                     F.sum(F.col("c") * F.col("c")).alias("s2")))

    m = order(1).unionByName(order(3))
    nn = F.col("nn").cast("double")
    lam = F.col("s2").cast("double") / (nn * nn)
    return (m.select(F.col("n").cast("int").alias("n"),
                     F.col("nn").cast("long").alias("n_ngrams"),
                     F.col("v").cast("long").alias("n_types"),
                     F.round(lam, 6).alias("simpson_lambda"),
                     F.round(1 - lam, 6).alias("gini_simpson"),
                     F.round((nn * nn) / F.col("s2"), 2)
                      .alias("effective_types"))
            .orderBy("n"))


# --------------------------------------------------------------------------
# Head coverage — what share of tokens do the top-k types carry?
# --------------------------------------------------------------------------

@register(
    "q_text_head_coverage",
    oracle="""
    WITH words AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    tri AS (
        SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS term
        FROM words, unnest(range(1, len(ws) - 1)) AS u(i)
        WHERE len(ws) >= 3),
    tf AS (SELECT term, COUNT(*) AS c FROM tri GROUP BY term),
    n_ AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM tf),
    ks AS (SELECT UNNEST([10, 100, 1000]) AS k),
    cov AS (
        SELECT ks.k,
               (SELECT SUM(c) FROM
                   (SELECT c FROM tf ORDER BY c DESC, term LIMIT 10)
               ) AS c10,
               (SELECT SUM(c) FROM
                   (SELECT c FROM tf ORDER BY c DESC, term LIMIT 100)
               ) AS c100,
               (SELECT SUM(c) FROM
                   (SELECT c FROM tf ORDER BY c DESC, term LIMIT 1000)
               ) AS c1000
        FROM ks)
    SELECT CAST(k AS INT) AS k,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(v AS BIGINT) AS n_types,
           CAST(CASE k WHEN 10 THEN c10 WHEN 100 THEN c100
                       ELSE c1000 END AS BIGINT) AS head_tokens,
           ROUND(CAST(CASE k WHEN 10 THEN c10 WHEN 100 THEN c100
                             ELSE c1000 END AS DOUBLE) / n, 4)
               AS coverage
    FROM cov CROSS JOIN n_ ORDER BY k
    """,
    doc="Head-coverage curve of the trigram distribution: the share of "
        "all corpus tokens carried by the top-10/100/1000 most "
        "frequent types — the operational face of the Zipf fit "
        "(q_text_zipf_fit gives the exponent; this gives the number a "
        "cache, a tokenizer vocab, or a df-cap planner actually "
        "budgets against: how much of the stream the head absorbs). "
        "Each top-k is a TakeOrderedAndProject with a (count DESC, "
        "term) total order — never a global rank over the vocabulary "
        "— followed by one sum; counts are exact integers with one "
        "rounded share per row.",
)
def q_text_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    tri = (d.select(T.tokens("text").alias("ws"))
           .where(F.size("ws") >= 3)
           .select(F.explode(F.expr(
               "transform(sequence(0, size(ws) - 3), "
               "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
               .alias("term")))
    tf = (tri.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint(eager=False))
    n_ = tf.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))

    def headsum(k: int):
        return F.broadcast(
            tf.orderBy(F.desc("c"), "term").limit(k)
            .agg(F.sum("c").alias(f"c{k}")))

    ks = local_df(spark, [(10,), (100,), (1000,)], "k int")
    cov = (ks.crossJoin(headsum(10)).crossJoin(headsum(100))
           .crossJoin(headsum(1000)).crossJoin(F.broadcast(n_)))
    head = (F.when(F.col("k") == 10, F.col("c10"))
            .when(F.col("k") == 100, F.col("c100"))
            .otherwise(F.col("c1000")))
    return (cov.select("k",
                       F.col("n").cast("long").alias("n_tokens"),
                       F.col("v").cast("long").alias("n_types"),
                       head.cast("long").alias("head_tokens"),
                       F.round(head.cast("double") / F.col("n"), 4)
                        .alias("coverage"))
            .orderBy("k"))


@register(
    "q_text_word_shape_profile",
    oracle="""
    WITH src AS (
        SELECT text FROM documents
        UNION ALL SELECT c_name FROM customer
        UNION ALL SELECT o_orderstatus FROM orders
        UNION ALL SELECT o_orderpriority FROM orders),
    toks AS (
        SELECT unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS w
        FROM src),
    shaped AS (
        SELECT w,
               CASE
                 WHEN regexp_full_match(w, '[0-9]+') THEN 'digits'
                 WHEN regexp_full_match(w, '[a-z]+') THEN 'lower'
                 WHEN regexp_full_match(w, '[A-Z]+') THEN 'upper'
                 WHEN regexp_full_match(w, '[A-Z][a-z]+') THEN 'title'
                 ELSE 'mixed'
               END AS shape
        FROM toks),
    tot AS (SELECT COUNT(*)::DOUBLE AS t FROM shaped)
    SELECT shape, COUNT(*) AS n_tokens,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct,
           ROUND(COUNT(*)::DOUBLE / tot.t, 6) AS frac
    FROM shaped, tot
    GROUP BY shape, tot.t
    ORDER BY shape
    """,
    doc="Word-SHAPE profile of the raw (case-preserving) token "
        "stream over every text-bearing column (documents, customer "
        "names, order statuses and priorities): every [A-Za-z0-9]+ token classified as digits / "
        "lower / UPPER / Title / mixed, with token mass, distinct "
        "vocabulary, and corpus fraction per class — the "
        "tokenizer-design receipt the case-insensitive queries "
        "cannot give (casing decides vocabulary size: a cased BPE "
        "pays for Title and UPPER variants; shape skew flags "
        "OCR/shouting/code-heavy sources before training). First-"
        "match CASE ordering pins ambiguous classes identically on "
        "both engines. One explode + one groupBy over five cells "
        "(map-side combinable to constant width); the corpus total "
        "rides as a broadcast scalar.",
)
def q_text_word_shape_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    d = cat.table("documents").select(F.col("text"))
    c = cat.table("customer").select(F.col("c_name").alias("text"))
    o = cat.table("orders")
    src = (d.unionByName(c)
           .unionByName(o.select(F.col("o_orderstatus").alias("text")))
           .unionByName(o.select(F.col("o_orderpriority").alias("text"))))
    toks = src.select(
        F.explode(F.expr(r"regexp_extract_all(text, '[A-Za-z0-9]+', 0)"))
        .alias("w"))
    shape = (F.when(F.col("w").rlike("^[0-9]+$"), "digits")
             .when(F.col("w").rlike("^[a-z]+$"), "lower")
             .when(F.col("w").rlike("^[A-Z]+$"), "upper")
             .when(F.col("w").rlike("^[A-Z][a-z]+$"), "title")
             .otherwise("mixed"))
    shaped = toks.select("w", shape.alias("shape"))
    tot = shaped.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return (shaped.groupBy("shape")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.countDistinct("w").cast("long").alias("n_distinct"))
            .crossJoin(F.broadcast(tot))
            .select("shape", "n_tokens", "n_distinct",
                    F.round(F.col("n_tokens").cast("double") / F.col("t"),
                            6).alias("frac"))
            .orderBy("shape"))


@register(
    "q_text_self_bleu",
    oracle="""
    WITH docs20 AS (
        SELECT doc_id,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents WHERE doc_id < 20),
    uni AS (
        SELECT doc_id, t, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(ws) AS t FROM docs20)
        GROUP BY 1, 2),
    big AS (
        SELECT doc_id, g, COUNT(*) AS tf
        FROM (SELECT doc_id,
                     unnest([ws[i] || ' ' || ws[i+1]
                             FOR i IN range(1, len(ws))]) AS g
              FROM docs20 WHERE len(ws) >= 2)
        GROUP BY 1, 2),
    lens AS (SELECT doc_id, len(ws) AS n FROM docs20),
    p1 AS (
        SELECT h.doc_id AS h_id, r.doc_id AS r_id,
               SUM(LEAST(h.tf, r.tf)) AS clip1
        FROM uni h JOIN uni r ON h.t = r.t AND h.doc_id <> r.doc_id
        GROUP BY 1, 2),
    p2 AS (
        SELECT h.doc_id AS h_id, r.doc_id AS r_id,
               SUM(LEAST(h.tf, r.tf)) AS clip2
        FROM big h JOIN big r ON h.g = r.g AND h.doc_id <> r.doc_id
        GROUP BY 1, 2),
    pairs AS (
        SELECT a.doc_id AS h_id, b.doc_id AS r_id,
               la.n AS lh, lb.n AS ln_r,
               COALESCE(p1.clip1, 0) AS c1, COALESCE(p2.clip2, 0) AS c2
        FROM docs20 a JOIN docs20 b ON a.doc_id <> b.doc_id
        JOIN lens la ON la.doc_id = a.doc_id
        JOIN lens lb ON lb.doc_id = b.doc_id
        LEFT JOIN p1 ON p1.h_id = a.doc_id AND p1.r_id = b.doc_id
        LEFT JOIN p2 ON p2.h_id = a.doc_id AND p2.r_id = b.doc_id),
    bleu AS (
        SELECT h_id,
               AVG(CASE WHEN c1 = 0 OR c2 = 0 OR lh < 2 THEN 0.0
                   ELSE LEAST(1.0, exp(1.0 - ln_r::DOUBLE / lh))
                        * exp(0.5 * (ln(c1::DOUBLE / lh)
                                     + ln(c2::DOUBLE / (lh - 1))))
                   END) AS sb
        FROM pairs GROUP BY h_id)
    SELECT h_id AS doc_id, ROUND(sb, 6) AS self_bleu2
    FROM bleu ORDER BY doc_id
    """,
    doc="SELF-BLEU (BLEU-2, uniform weights, standard brevity "
        "penalty) of each sampled document against every other — the "
        "corpus DIVERSITY metric from the text-generation literature "
        "(Zhu et al. 2018): high self-BLEU means documents are "
        "near-paraphrases of each other, the mode-collapse smell a "
        "synthetic-data pipeline must watch that token-distribution "
        "divergence (the JSD matrix) cannot see because it ignores "
        "ORDER. Clipped n-gram precisions are the bag-intersection "
        "sums the dedup family already uses (sum min(tf_h, tf_r)), "
        "computed by two inverted-index self-joins over the 20-doc "
        "receipt sample (380 ordered pairs — the metric is "
        "inherently O(sample^2), so the sample is the knob, exactly "
        "how Self-BLEU is reported in practice). Precisions are "
        "ratios of integers; the geometric mean and brevity penalty "
        "are identical IEEE exp/ln on both engines, rounded 6 dp.",
)
def q_text_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import span_list, tokens

    d = (Catalog(spark, sf_dir).table("documents")
         .where(F.col("doc_id") < 20)
         .select("doc_id", tokens("text").alias("ws"))
         .localCheckpoint(eager=False))  # feeds uni/big/lens
    uni = (d.select("doc_id", F.explode("ws").alias("t"))
           .groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf")))
    big = (d.select("doc_id", F.explode(span_list(F.col("ws"), 2))
                    .alias("g"))
           .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("tf")))
    lens = d.select("doc_id", F.size("ws").alias("n"))

    def clipped(tf: DataFrame, key: str, out: str) -> DataFrame:
        h = tf.select(F.col("doc_id").alias("h_id"), key,
                      F.col("tf").alias("htf"))
        r = tf.select(F.col("doc_id").alias("r_id"), key,
                      F.col("tf").alias("rtf"))
        return (h.join(r, key)
                .where(F.col("h_id") != F.col("r_id"))
                .groupBy("h_id", "r_id")
                .agg(F.sum(F.least("htf", "rtf")).alias(out)))

    p1 = clipped(uni, "t", "c1")
    p2 = clipped(big, "g", "c2")
    a = lens.select(F.col("doc_id").alias("h_id"), F.col("n").alias("lh"))
    b = lens.select(F.col("doc_id").alias("r_id"),
                    F.col("n").alias("ln_r"))
    pairs = (a.crossJoin(b).where(F.col("h_id") != F.col("r_id"))
             .join(p1, ["h_id", "r_id"], "left")
             .join(p2, ["h_id", "r_id"], "left")
             .select("h_id", "lh", "ln_r",
                     F.coalesce("c1", F.lit(0)).alias("c1"),
                     F.coalesce("c2", F.lit(0)).alias("c2")))
    bp = F.least(F.lit(1.0),
                 F.exp(1.0 - F.col("ln_r").cast("double") / F.col("lh")))
    geo = F.exp(0.5 * (F.log(F.col("c1").cast("double") / F.col("lh"))
                       + F.log(F.col("c2").cast("double")
                               / (F.col("lh") - 1))))
    score = F.when((F.col("c1") == 0) | (F.col("c2") == 0)
                   | (F.col("lh") < 2), 0.0).otherwise(bp * geo)
    return (pairs.groupBy(F.col("h_id").alias("doc_id"))
            .agg(F.round(F.avg(score), 6).alias("self_bleu2"))
            .orderBy("doc_id"))


@register(
    "q_text_cross_entropy_matrix",
    oracle="""
    WITH words AS (
        SELECT source,
               list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                           w -> w <> '') AS ws
        FROM documents),
    v AS (SELECT COUNT(DISTINCT t) AS v
          FROM (SELECT unnest(ws) AS t FROM words)),
    bg AS (
        SELECT source, u, g, COUNT(*) AS tf
        FROM (SELECT source, ws[i] AS u, ws[i] || ' ' || ws[i+1] AS g
              FROM words, LATERAL (SELECT unnest(range(1, len(ws)))
                                   AS i)
              WHERE len(ws) >= 2)
        GROUP BY 1, 2, 3),
    fromc AS (SELECT source, u, SUM(tf) AS cu FROM bg GROUP BY 1, 2),
    models AS (SELECT DISTINCT source AS m FROM bg),
    scored AS (
        SELECT e.source AS eval_source, mo.m AS model_source,
               SUM(e.tf) AS n_bigrams,
               -SUM(e.tf * ln((COALESCE(mb.tf, 0) + 1.0)
                              / (COALESCE(mf.cu, 0) + v.v)))
                   / SUM(e.tf) AS h
        FROM bg e
        CROSS JOIN models mo
        LEFT JOIN bg mb ON mb.source = mo.m AND mb.g = e.g
        LEFT JOIN fromc mf ON mf.source = mo.m AND mf.u = e.u,
        v
        GROUP BY 1, 2, v.v)
    SELECT model_source, eval_source,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(h, 4) AS cross_entropy,
           ROUND(exp(h), 2) AS perplexity
    FROM scored ORDER BY model_source, eval_source
    """,
    doc="Bigram cross-entropy TRANSFER MATRIX between sources: an "
        "add-one-smoothed bigram LM per source (shared corpus "
        "vocabulary V in the smoothing denominator so cells are "
        "comparable) evaluated on every source's bigram stream — "
        "H(eval | model) per (model, eval) cell, with perplexity. "
        "The diagonal is each source's in-domain entropy; "
        "off-diagonal asymmetries say which sources are "
        "linguistically CLOSE in sequence structure — the "
        "domain-transfer view the token-distribution JSD matrix "
        "cannot give because it ignores order, and the measurement "
        "behind 'train on A, deploy on B' data-mixing calls. Plan: "
        "one bigram count per source, a x5 broadcast model fanout "
        "over the distinct-bigram table (never the corpus), two "
        "left joins against model counts. Probabilities are ratios "
        "of integers; ln sums rounded at 4 dp.",
)
def q_text_cross_entropy_matrix(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions.text import span_list, tokens

    d = (Catalog(spark, sf_dir).table("documents")
         .select("source", tokens("text").alias("ws")))
    v = (d.select(F.explode("ws").alias("t"))
         .agg(F.countDistinct("t").alias("v")))
    bg = (d.select("source", F.explode(span_list(F.col("ws"), 2))
                   .alias("g"))
          .select("source", F.split("g", " ").getItem(0).alias("u"), "g")
          .groupBy("source", "u", "g")
          .agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint(eager=False))  # feeds eval + model + fromc
    fromc = bg.groupBy("source", "u").agg(F.sum("tf").alias("cu"))
    models = bg.select(F.col("source").alias("m")).distinct()
    mb = bg.select(F.col("source").alias("m_b"),
                   F.col("g").alias("mg"), F.col("tf").alias("mtf"))
    mf = fromc.select(F.col("source").alias("m_f"),
                      F.col("u").alias("mu"), F.col("cu").alias("mcu"))
    e = (bg.crossJoin(F.broadcast(models))
         .join(mb, (F.col("m") == F.col("m_b"))
               & (F.col("g") == F.col("mg")), "left")
         .drop("m_b", "mg")
         .join(mf, (F.col("m") == F.col("m_f"))
               & (F.col("u") == F.col("mu")), "left")
         .drop("m_f", "mu")
         .crossJoin(F.broadcast(v)))
    lp = F.log((F.coalesce(F.col("mtf"), F.lit(0)) + 1.0)
               / (F.coalesce(F.col("mcu"), F.lit(0)) + F.col("v")))
    h = -F.sum(F.col("tf") * lp) / F.sum("tf")
    return (e.groupBy(F.col("m").alias("model_source"),
                      F.col("source").alias("eval_source"))
            .agg(F.sum("tf").cast("long").alias("n_bigrams"),
                 F.round(h, 4).alias("cross_entropy"),
                 F.round(F.exp(h), 2).alias("perplexity"))
            .orderBy("model_source", "eval_source"))
