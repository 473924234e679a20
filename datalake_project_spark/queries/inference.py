"""Causal / sequential inference and robust estimation.

The experimentation layer a production analytics platform runs beside
its A/B dashboards: difference-in-differences (the workhorse causal
estimator when randomization is imperfect), the CLOSED-FORM Bayesian
A/B posterior Pr(B beats A) (Evan Miller's exact Beta-Binomial sum —
no Monte Carlo, so it is fully value-checkable against an oracle),
jackknife standard errors for a ratio estimator (the delta-method-free
SE for nonlinear statistics), Theil-Sen robust trend (median-of-slopes
regression that one outlier month cannot move), and Wald's SPRT
(sequential testing with early stopping — the reason modern experiment
platforms peek without p-hacking).

Scale notes (100 TB): every operator here reduces to grouped
aggregates plus a tiny broadcast of per-group statistics back onto the
rows — no global sorts except SPRT's per-arm cumulative scan, which is
windowed BY ARM (bounded cardinality, never a single global partition).
The Bayesian closed form materializes one row per posterior-sum term
(O(successes), thousands at most) with all log-Beta values computed
JVM-side via ``aggregate(sequence(...))`` — zero Python, zero shuffle.

Cross-engine exactness: log-factorials are Sigma ln(k) on the Spark
side and lgamma() on the DuckDB side — identical to ~1e-13 relative,
so every float aggregate is rounded (4-6 dp) on BOTH sides before the
value hash, per the registry-wide discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.queries import local_df, register


# --------------------------------------------------------------------------
# Difference-in-differences
# --------------------------------------------------------------------------

@register(
    "q_events_diff_in_diff",
    oracle="""
    WITH cells AS (
        SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END AS grp,
               CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 'pre' ELSE 'post' END AS period,
               COUNT(*) AS n,
               ROUND(AVG(value), 4) AS mean_value
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2),
    wide AS (
        SELECT
            MAX(CASE WHEN grp='treat' AND period='pre' THEN mean_value END) AS t_pre,
            MAX(CASE WHEN grp='treat' AND period='post' THEN mean_value END) AS t_post,
            MAX(CASE WHEN grp='control' AND period='pre' THEN mean_value END) AS c_pre,
            MAX(CASE WHEN grp='control' AND period='post' THEN mean_value END) AS c_post,
            CAST(SUM(n) AS BIGINT) AS n_obs
        FROM cells)
    SELECT t_pre, t_post, c_pre, c_post, n_obs,
           ROUND((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate
    FROM wide
    """,
    doc="Difference-in-differences: deterministic treatment assignment "
        "(user_id parity), pre/post split at the observation-window "
        "midpoint (Jan 16), cell means of event value, and the DiD "
        "estimate (treat post-pre delta minus control post-pre delta) "
        "— the standard parallel-trends causal readout when a feature "
        "launched to half the users mid-window. ONE conditional-"
        "aggregate scan into a 4-cell pivot; at 100 TB this is a "
        "single map-side-combined groupBy on 4 keys. Cell means are "
        "rounded to 4 dp on both engines before differencing.",
)
def q_events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select(
             F.when(F.col("user_id") % 2 == 1, "treat")
             .otherwise("control").alias("grp"),
             F.when(F.to_date("ts") < F.lit("2024-01-16").cast("date"),
                    "pre").otherwise("post").alias("period"),
             "value"))
    cells = e.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"))

    def cell(g: str, p: str):
        return F.max(F.when((F.col("grp") == g) & (F.col("period") == p),
                            F.col("mean_value")))

    wide = cells.agg(
        cell("treat", "pre").alias("t_pre"),
        cell("treat", "post").alias("t_post"),
        cell("control", "pre").alias("c_pre"),
        cell("control", "post").alias("c_post"),
        F.sum("n").cast("long").alias("n_obs"))
    return wide.select(
        "t_pre", "t_post", "c_pre", "c_post", "n_obs",
        F.round((F.col("t_post") - F.col("t_pre"))
                - (F.col("c_post") - F.col("c_pre")), 4)
        .alias("did_estimate"))


# --------------------------------------------------------------------------
# Closed-form Bayesian A/B (Beta-Binomial, Evan Miller's exact sum)
# --------------------------------------------------------------------------

# Success criterion: a user is a "heavy buyer" if they logged >= 15
# purchase events in the window (the observed per-user purchase count
# is ~13 on the synthetic fixture, so this lands mid-range rather than
# at a degenerate 0%/100% conversion).
_HEAVY = 15

@register(
    "q_events_bayesian_ab",
    oracle=f"""
    WITH conv AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 1 THEN 'B' ELSE 'A' END AS variant,
               CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
                         >= {_HEAVY} THEN 1 ELSE 0 END AS success
        FROM events GROUP BY user_id),
    counts AS (
        SELECT
            CAST(COUNT(*) FILTER (WHERE variant='A') AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN variant='A' THEN success ELSE 0 END)
                 AS BIGINT) AS s_a,
            CAST(COUNT(*) FILTER (WHERE variant='B') AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN variant='B' THEN success ELSE 0 END)
                 AS BIGINT) AS s_b
        FROM conv),
    -- posteriors: A ~ Beta(aa, ba), B ~ Beta(ab, bb) with +1 priors
    post AS (
        SELECT n_a, s_a, n_b, s_b,
               s_a + 1 AS aa, n_a - s_a + 1 AS ba,
               s_b + 1 AS ab, n_b - s_b + 1 AS bb
        FROM counts),
    expanded AS (
        SELECT p.*, unnest(range(0, p.ab)) AS i FROM post p),
    terms AS (
        SELECT p.*,
               EXP(  (lgamma(p.aa + p.i) + lgamma(p.ba + p.bb)
                      - lgamma(p.aa + p.i + p.ba + p.bb))
                   - LN(p.bb + p.i)
                   - (lgamma(1 + p.i) + lgamma(p.bb)
                      - lgamma(1 + p.i + p.bb))
                   - (lgamma(p.aa) + lgamma(p.ba)
                      - lgamma(p.aa + p.ba))) AS term
        FROM expanded p)
    SELECT MAX(n_a) AS n_a, MAX(s_a) AS s_a,
           MAX(n_b) AS n_b, MAX(s_b) AS s_b,
           ROUND(SUM(term), 5) AS p_b_beats_a
    FROM terms
    """,
    doc="Closed-form Bayesian A/B: per-user conversion (heavy-buyer "
        "flag), Beta(1,1)-prior posteriors per variant, and the EXACT "
        "Pr(p_B > p_A) via Evan Miller's finite sum "
        "Sigma_i exp(lnB(aA+i, bA+bB) - ln(bB+i) - lnB(1+i, bB) "
        "- lnB(aA, bA)) — no sampling, so the whole posterior "
        "probability is value-checked. Spark computes each log-Beta "
        "with JVM-side aggregate(sequence(1, n), ln) log-factorials "
        "(exactly Sigma ln k; the oracle uses lgamma — identical to "
        "~1e-13, rounded at 5 dp). Plan: one groupBy(user) scan, a "
        "1-row broadcast of the four counts, then O(s_B) term rows "
        "from an exploded sequence — work is bounded by the SUCCESS "
        "COUNT, not the corpus, so 100 TB of raw events still yields "
        "a few thousand term rows.",
)
def q_events_bayesian_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    conv = (e.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1)
              .otherwise(0)).alias("purchases"))
        .select(
            F.when(F.col("user_id") % 2 == 1, "B").otherwise("A")
            .alias("variant"),
            F.when(F.col("purchases") >= _HEAVY, 1).otherwise(0)
            .alias("success")))
    counts = conv.agg(
        F.count(F.when(F.col("variant") == "A", 1)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("success"))
              .otherwise(0)).cast("long").alias("s_a"),
        F.count(F.when(F.col("variant") == "B", 1)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("success"))
              .otherwise(0)).cast("long").alias("s_b"))
    post = counts.select(
        "n_a", "s_a", "n_b", "s_b",
        (F.col("s_a") + 1).alias("aa"), (F.col("n_a") - F.col("s_a") + 1).alias("ba"),
        (F.col("s_b") + 1).alias("ab"), (F.col("n_b") - F.col("s_b") + 1).alias("bb"))
    # lfact(n) = ln((n-1)!) = Sigma_{k=1}^{n-1} ln k, i.e. lgamma(n),
    # computed JVM-side per expression — no spine table, no shuffle.
    # lgamma(n) = Sigma_{k=2}^{n-1} ln k; sequence() must be guarded for
    # n <= 2 because Spark's sequence(2, m) DESCENDS when m < 2.
    lfact = ("(CASE WHEN ({n}) <= 2 THEN 0.0D ELSE "
             "aggregate(sequence(2, CAST({n} AS INT) - 1), 0.0D, "
             "(acc, x) -> acc + ln(CAST(x AS DOUBLE))) END)")
    lbeta = (f"({lfact.format(n='{x}')} + {lfact.format(n='{y}')}"
             f" - {lfact.format(n='({x}) + ({y})')})")
    terms = post.select(
        "n_a", "s_a", "n_b", "s_b", "aa", "ba", "ab", "bb",
        F.explode(F.expr("sequence(0, CAST(ab - 1 AS INT))")).alias("i"))
    term_expr = ("exp(" + lbeta.format(x="aa + i", y="ba + bb")
                 + " - ln(CAST(bb + i AS DOUBLE)) - "
                 + lbeta.format(x="1 + i", y="bb") + " - "
                 + lbeta.format(x="aa", y="ba") + ")")
    return terms.agg(
        F.max("n_a").alias("n_a"), F.max("s_a").alias("s_a"),
        F.max("n_b").alias("n_b"), F.max("s_b").alias("s_b"),
        F.round(F.sum(F.expr(term_expr)), 5).alias("p_b_beats_a"))


# --------------------------------------------------------------------------
# Jackknife SE for a ratio estimator
# --------------------------------------------------------------------------

@register(
    "q_stats_jackknife_ratio",
    oracle="""
    WITH rows_ AS (
        SELECT l_returnflag AS flag,
               l_extendedprice * (1 - l_discount) AS x, l_quantity AS y
        FROM lineitem),
    tot AS (
        SELECT flag, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy
        FROM rows_ GROUP BY flag),
    loo AS (
        SELECT r.flag, t.n, t.sx, t.sy,
               (t.sx - r.x) / (t.sy - r.y) AS theta_i
        FROM rows_ r JOIN tot t USING (flag)),
    jk AS (
        SELECT flag, MAX(n) AS n,
               ROUND(MAX(sx) / MAX(sy), 6) AS theta_hat,
               AVG(theta_i) AS tbar,
               SUM(theta_i * theta_i) AS ss
        FROM loo GROUP BY flag)
    SELECT flag, CAST(n AS BIGINT) AS n, theta_hat,
           ROUND(SQRT((n - 1.0) / n * (ss - n * tbar * tbar)), 6)
               AS jackknife_se
    FROM jk ORDER BY flag
    """,
    doc="Jackknife standard error for the revenue-per-unit ratio "
        "estimator Sigma(price*(1-disc)) / Sigma(qty) per returnflag — "
        "the resampling SE for a NONLINEAR statistic where the naive "
        "sd/sqrt(n) is wrong. Leave-one-out replicates are CLOSED "
        "FORM from the group totals ((S_x - x_i)/(S_y - y_i)), so the "
        "whole thing is two grouped scans with a tiny per-group stats "
        "broadcast back — no resampling shuffle, no n^2; at 100 TB "
        "each pass is one map-side-combined shuffle on the 3-key "
        "group. Variance uses the one-pass form (ss - n*mean^2), "
        "identical on both engines, rounded at 6 dp.",
)
def q_stats_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (Catalog(spark, sf_dir).table("lineitem")
          .select(F.col("l_returnflag").alias("flag"),
                  (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("x"),
                  F.col("l_quantity").alias("y")))
    tot = li.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"))
    loo = (li.join(F.broadcast(tot), "flag")
           .withColumn("theta_i",
                       (F.col("sx") - F.col("x"))
                       / (F.col("sy") - F.col("y"))))
    jk = loo.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.round(F.max("sx") / F.max("sy"), 6).alias("theta_hat"),
        F.avg("theta_i").alias("tbar"),
        F.sum(F.col("theta_i") * F.col("theta_i")).alias("ss"))
    return (jk.select(
        "flag", F.col("n").cast("long").alias("n"), "theta_hat",
        F.round(F.sqrt((F.col("n") - F.lit(1.0)) / F.col("n")
                       * (F.col("ss")
                          - F.col("n") * F.col("tbar") * F.col("tbar"))), 6)
        .alias("jackknife_se"))
        .orderBy("flag"))


# --------------------------------------------------------------------------
# Theil-Sen robust trend
# --------------------------------------------------------------------------

@register(
    "q_orders_theil_sen_trend",
    oracle="""
    WITH monthly AS (
        SELECT (EXTRACT(YEAR FROM o_orderdate) - 1992) * 12
               + EXTRACT(MONTH FROM o_orderdate) - 1 AS m,
               ROUND(SUM(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1),
    pairs AS (
        SELECT (b.rev - a.rev) / (b.m - a.m) AS slope
        FROM monthly a JOIN monthly b ON b.m > a.m),
    sl AS (SELECT ROUND(quantile_cont(slope, 0.5), 4) AS slope FROM pairs),
    ic AS (
        SELECT ROUND(quantile_cont(rev - sl.slope * m, 0.5), 4) AS intercept
        FROM monthly, sl GROUP BY ALL)
    SELECT CAST((SELECT COUNT(*) FROM monthly) AS BIGINT) AS n_months,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_pairs,
           sl.slope, ic.intercept
    FROM sl, ic
    """,
    doc="Theil-Sen robust trend of monthly order revenue: median of "
        "all pairwise slopes (b.rev-a.rev)/(b.m-a.m) over month pairs, "
        "intercept = median(rev - slope*m) — the trend line a single "
        "anomalous month cannot move, unlike the OLS twin "
        "(q_price_trend_regression). The quadratic pair join runs on "
        "the AGGREGATED monthly series (84 points -> ~3.5k pairs), "
        "never the raw rows, so at 100 TB the pair stage is constant-"
        "size: one groupBy(month) shuffle then a broadcast self-join "
        "of a 84-row table. Monthly revenue is rounded to 2 dp before "
        "pairing so both engines difference identical inputs; slope/"
        "intercept are exact interpolated medians rounded at 4 dp.",
)
def q_orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    monthly = (o.groupBy(
        ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1)
        .alias("m"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev")))
    a = monthly.select(F.col("m").alias("ma"), F.col("rev").alias("ra"))
    b = monthly.select(F.col("m").alias("mb"), F.col("rev").alias("rb"))
    pairs = (a.join(F.broadcast(b), F.col("mb") > F.col("ma"))
             .select(((F.col("rb") - F.col("ra"))
                      / (F.col("mb") - F.col("ma"))).alias("slope")))
    sl = pairs.agg(
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    ic = (monthly.crossJoin(F.broadcast(sl))
          .agg(F.max("n_pairs").alias("n_pairs"),
               F.max("slope").alias("slope"),
               F.count(F.lit(1)).cast("long").alias("n_months"),
               F.round(F.expr("percentile(rev - slope * m, 0.5)"), 4)
               .alias("intercept")))
    return ic.select("n_months", "n_pairs", "slope", "intercept")


# --------------------------------------------------------------------------
# Wald SPRT — sequential testing with early stopping
# --------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.18, 0.22   # null / alternative purchase rates
_SPRT_BOUND = 2.9444389791664403  # ln(19): alpha = beta = 0.05

@register(
    "q_events_sprt",
    oracle=f"""
    WITH trials AS (
        SELECT user_id % 4 AS arm, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
        FROM events),
    walk AS (
        SELECT arm, ts, event_id,
               ROUND(SUM(x * LN({_SPRT_P1} / {_SPRT_P0})
                         + (1 - x) * LN((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})))
                     OVER (PARTITION BY arm ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING), 6) AS llr,
               ROW_NUMBER() OVER (PARTITION BY arm ORDER BY ts, event_id)
                   AS n
        FROM trials),
    crossings AS (
        SELECT arm, n, llr,
               CASE WHEN llr >= {_SPRT_BOUND} THEN 'accept_h1'
                    WHEN llr <= -{_SPRT_BOUND} THEN 'accept_h0' END AS hit
        FROM walk),
    first_hit AS (
        SELECT arm, MIN(n) AS n_decided FROM crossings
        WHERE hit IS NOT NULL GROUP BY arm),
    final AS (
        SELECT arm, MAX(n) AS n_total,
               MAX(CASE WHEN rn = 1 THEN llr END) AS llr_final
        FROM (SELECT arm, n, llr,
                     ROW_NUMBER() OVER (PARTITION BY arm ORDER BY n DESC)
                         AS rn
              FROM crossings) GROUP BY arm)
    SELECT f.arm, CAST(f.n_total AS BIGINT) AS n_total,
           CAST(COALESCE(fh.n_decided, 0) AS BIGINT) AS n_decided,
           COALESCE((SELECT c.hit FROM crossings c
                     WHERE c.arm = f.arm AND c.n = fh.n_decided),
                    'continue') AS decision,
           f.llr_final
    FROM final f LEFT JOIN first_hit fh USING (arm)
    ORDER BY f.arm
    """,
    doc="Wald's SPRT per experiment arm: Bernoulli trials (purchase "
        "vs. not) in event order, cumulative log-likelihood ratio for "
        "H1: p=0.22 vs H0: p=0.18, stop at the first crossing of "
        "+-ln(19) (alpha=beta=0.05) — the sequential test that makes "
        "continuous experiment peeking statistically valid. The "
        "cumulative walk is windowed PER ARM (partition user_id%4, "
        "order ts,event_id) — bounded partitions, never a global "
        "sort; at 100 TB with thousands of arms the scan is one "
        "shuffle on arm. The LLR is rounded to 6 dp on both engines "
        "BEFORE the boundary compare so the crossing decision is the "
        "same IEEE comparison on identical inputs.",
)
def q_events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    import math
    w_hit = math.log(_SPRT_P1 / _SPRT_P0)
    w_miss = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    trials = e.select(
        (F.col("user_id") % 4).alias("arm"), "ts", "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"))
    w = Window.partitionBy("arm").orderBy("ts", "event_id")
    walk = trials.select(
        "arm",
        F.round(F.sum(F.col("x") * F.lit(w_hit)
                      + (1 - F.col("x")) * F.lit(w_miss))
                .over(w.rowsBetween(Window.unboundedPreceding, 0)), 6)
        .alias("llr"),
        F.row_number().over(w).alias("n"))
    crossings = walk.withColumn(
        "hit",
        F.when(F.col("llr") >= _SPRT_BOUND, "accept_h1")
        .when(F.col("llr") <= -_SPRT_BOUND, "accept_h0"))
    first_hit = (crossings.where(F.col("hit").isNotNull())
                 .groupBy("arm").agg(F.min("n").alias("n_decided")))
    decided = (crossings.join(first_hit, "arm")
               .where(F.col("n") == F.col("n_decided"))
               .select("arm", "n_decided", F.col("hit").alias("decision")))
    final = (crossings
             .groupBy("arm")
             .agg(F.max("n").cast("long").alias("n_total"),
                  F.max_by("llr", "n").alias("llr_final")))
    return (final.join(F.broadcast(decided), "arm", "left")
            .select("arm", "n_total",
                    F.coalesce(F.col("n_decided"), F.lit(0)).cast("long")
                    .alias("n_decided"),
                    F.coalesce(F.col("decision"), F.lit("continue"))
                    .alias("decision"),
                    "llr_final")
            .orderBy("arm"))


# --------------------------------------------------------------------------
# RAKE keyphrase extraction
# --------------------------------------------------------------------------

_RAKE_STOP = ("the", "a", "an", "of", "and", "or", "in", "on", "to", "is",
              "are", "was", "were", "for", "with", "as", "by", "at", "it",
              "its", "this", "that", "be", "from", "not", "but", "have",
              "has", "had", "which", "their", "they", "we", "you", "i")

def _stop_sql() -> str:
    return ", ".join(f"'{s}'" for s in _RAKE_STOP)

@register(
    "q_text_keyphrase_rake",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents),
    posx AS (
        SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM tok),
    pos AS (
        SELECT doc_id, pos, ws[pos] AS w,
               CASE WHEN ws[pos] IN ({_stop_sql()}) THEN 1 ELSE 0 END
                   AS is_stop
        FROM posx),
    seg AS (
        SELECT doc_id, pos, w, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS seg_id
        FROM pos),
    phrases AS (
        SELECT doc_id, seg_id,
               array_to_string(list(w ORDER BY pos), ' ') AS phrase,
               COUNT(*) AS plen
        FROM seg WHERE is_stop = 0
        GROUP BY doc_id, seg_id
        HAVING COUNT(*) BETWEEN 2 AND 4),
    members AS (
        SELECT p.doc_id, p.seg_id, p.phrase, p.plen, u.w
        FROM phrases p, unnest(string_split(p.phrase, ' ')) AS u(w)),
    word_scores AS (
        SELECT w, SUM(plen) AS degree, COUNT(*) AS freq,
               SUM(plen)::DOUBLE / COUNT(*) AS score
        FROM members GROUP BY w),
    phrase_scores AS (
        SELECT m.phrase,
               ROUND(SUM(ws.score), 4) AS rake_score,
               CAST(COUNT(*) AS BIGINT) AS n_words
        FROM (SELECT DISTINCT doc_id, seg_id, phrase, w FROM members) m
        JOIN word_scores ws USING (w)
        GROUP BY m.phrase, m.doc_id, m.seg_id),
    agg AS (
        SELECT phrase, MAX(rake_score) AS rake_score,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM phrase_scores GROUP BY phrase)
    SELECT phrase, rake_score, n_occurrences
    FROM agg
    ORDER BY rake_score DESC, phrase
    LIMIT 20
    """,
    doc="RAKE keyphrase extraction: candidate phrases are maximal runs "
        "of non-stopword tokens (2-4 words), word score = degree/freq "
        "over all candidate phrases (degree = Sigma of lengths of "
        "phrases containing the word), phrase score = Sigma member "
        "word scores; top-20 corpus-wide. The co-occurrence "
        "statistics are plain grouped aggregates on exploded tokens — "
        "one shuffle on word, one on phrase; the per-doc segment walk "
        "is windowed BY DOCUMENT (never global). Top-20 via "
        "TakeOrderedAndProject with a full (score, phrase) "
        "deterministic tie-break. At 100 TB: token explosion is the "
        "only superlinear term and it is bounded by corpus token "
        "count, the same cost class as TF-IDF/BM25 already in the "
        "registry.",
)
def q_text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).table("documents")
    pos = (d.select(
        "doc_id",
        F.posexplode(F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .alias("pos", "w"))
        .withColumn("is_stop",
                    F.col("w").isin(*_RAKE_STOP).cast("int")))
    wdoc = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, 0)
    seg = pos.withColumn("seg_id", F.sum("is_stop").over(wdoc))
    phrases = (seg.where(F.col("is_stop") == 0)
               .groupBy("doc_id", "seg_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "w"))),
                       lambda s: s["w"]), " ").alias("phrase"),
                    F.count(F.lit(1)).alias("plen"))
               .where(F.col("plen").between(2, 4)))
    members = phrases.select(
        "doc_id", "seg_id", "phrase", "plen",
        F.explode(F.split("phrase", " ")).alias("w"))
    word_scores = members.groupBy("w").agg(
        (F.sum("plen").cast("double") / F.count(F.lit(1))).alias("score"))
    phrase_scores = (members.dropDuplicates(["doc_id", "seg_id", "phrase", "w"])
                     .join(word_scores, "w")
                     .groupBy("phrase", "doc_id", "seg_id")
                     .agg(F.round(F.sum("score"), 4).alias("rake_score")))
    agg = phrase_scores.groupBy("phrase").agg(
        F.max("rake_score").alias("rake_score"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    return (agg.orderBy(F.desc("rake_score"), "phrase")
            .limit(20))


# --------------------------------------------------------------------------
# Isotonic calibration (exact PAV via the minimax formula)
# --------------------------------------------------------------------------

def _length_labelled_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, prob, y): the vocabulary classifier's probability, rounded
    inside the aggregate as these evals' oracles do (not the logit path
    of ``ml._classifier_scores``), beside the long-text label
    y = length >= 500."""
    from datalake_project_spark.queries.ml import _token_weights

    d = Catalog(spark, sf_dir).table("documents")
    cls = (_token_weights(d)
           .groupBy("doc_id")
           .agg(F.round(1.0 / (1.0 + F.exp(-F.avg("w"))), 4).alias("prob")))
    lab = d.select(
        "doc_id",
        F.when(F.length("text") >= 500, 1).otherwise(0).alias("y"))
    return cls.join(lab, "doc_id")


@register(
    "q_classifier_isotonic",
    oracle="""
    WITH tok AS (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    vocab AS (SELECT DISTINCT t, ((len(t) % 7) - 3) * 0.05::DOUBLE AS w
              FROM ex),
    cls AS (SELECT ex.doc_id,
                   ROUND(1.0 / (1.0 + exp(-AVG(vocab.w))), 4) AS prob
            FROM ex JOIN vocab USING (t) GROUP BY ex.doc_id),
    lab AS (SELECT doc_id, CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END
                       AS y
            FROM documents),
    bins AS (
        SELECT LEAST(19, GREATEST(0,
                   CAST(FLOOR((c.prob - 0.505) * 800) AS INT))) AS bin,
               COUNT(*) AS n, SUM(l.y) AS sy,
               ROUND(AVG(c.prob), 4) AS mean_prob
        FROM cls c JOIN lab l USING (doc_id) GROUP BY 1),
    pref AS (
        SELECT b.bin, b.n, b.sy, b.mean_prob,
               SUM(b2.n) AS cn, SUM(b2.sy) AS cy
        FROM bins b JOIN bins b2 ON b2.bin <= b.bin
        GROUP BY b.bin, b.n, b.sy, b.mean_prob),
    pairs AS (
        SELECT pj.bin AS j, pk.bin AS k,
               (pk.cy - pj.cy + pj.sy)::DOUBLE
               / (pk.cn - pj.cn + pj.n) AS avg_jk
        FROM pref pj JOIN pref pk ON pj.bin <= pk.bin),
    mm AS (
        SELECT p.j, b.bin AS i, MIN(p.avg_jk) AS min_k
        FROM pairs p JOIN bins b ON p.k >= b.bin AND p.j <= b.bin
        GROUP BY p.j, b.bin),
    iso AS (SELECT i AS bin, MAX(min_k) AS iso_raw FROM mm GROUP BY i)
    SELECT b.bin, CAST(b.n AS BIGINT) AS n, b.mean_prob,
           ROUND(b.sy::DOUBLE / b.n, 6) AS frac_pos,
           ROUND(i.iso_raw, 6) AS iso_calibrated
    FROM bins b JOIN iso i USING (bin)
    ORDER BY b.bin
    """,
    doc="Isotonic calibration of classifier scores by EXACT pool-"
        "adjacent-violators, computed via the closed-form minimax "
        "identity iso(i) = max_{j<=i} min_{k>=i} wavg(y, j..k) — no "
        "iteration, so the whole monotone fit is value-checked. Scores "
        "are binned into 20 fixed-width bins over the observed score "
        "range [0.505, 0.53); every range average is ONE division of "
        "two integers (prefix-sum counts), so both engines compare "
        "bit-identical doubles inside the min/max — hash-exact before "
        "the final 6 dp rounding. The bin table is a fixed-size "
        "aggregate (<=20 rows), so the triangle joins are broadcast "
        "trivia at any corpus size; the only data-scale shuffle is "
        "the score groupBy. Completes the calibration arc beside "
        "q_classifier_calibration (reliability bins) and "
        "q_classifier_conformal (coverage).",
)
def q_classifier_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    bins = (_length_labelled_scores(spark, sf_dir)
            .groupBy(F.least(F.lit(19), F.greatest(F.lit(0), F.floor(
                (F.col("prob") - 0.505) * 800).cast("int"))).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
                 F.round(F.avg("prob"), 4).alias("mean_prob")))
    b2 = bins.select(F.col("bin").alias("b2"), F.col("n").alias("n2"),
                     F.col("sy").alias("sy2"))
    pref = (bins.join(F.broadcast(b2), F.col("b2") <= F.col("bin"))
            .groupBy("bin", "n", "sy", "mean_prob")
            .agg(F.sum("n2").alias("cn"), F.sum("sy2").alias("cy")))
    pj = pref.select(F.col("bin").alias("j"), F.col("n").alias("nj"),
                     F.col("sy").alias("syj"), F.col("cn").alias("cnj"),
                     F.col("cy").alias("cyj"))
    pk = pref.select(F.col("bin").alias("k"), F.col("cn").alias("cnk"),
                     F.col("cy").alias("cyk"))
    pairs = (pj.join(F.broadcast(pk), F.col("j") <= F.col("k"))
             .select("j", "k",
                     ((F.col("cyk") - F.col("cyj") + F.col("syj"))
                      .cast("double")
                      / (F.col("cnk") - F.col("cnj") + F.col("nj")))
                     .alias("avg_jk")))
    igrid = bins.select(F.col("bin").alias("i"))
    mm = (pairs.join(F.broadcast(igrid),
                     (F.col("k") >= F.col("i")) & (F.col("j") <= F.col("i")))
          .groupBy("j", "i").agg(F.min("avg_jk").alias("min_k")))
    iso = mm.groupBy("i").agg(F.max("min_k").alias("iso_raw"))
    return (bins.join(F.broadcast(iso), bins["bin"] == iso["i"])
            .select("bin", F.col("n").cast("long").alias("n"), "mean_prob",
                    F.round(F.col("sy").cast("double") / F.col("n"), 6)
                    .alias("frac_pos"),
                    F.round("iso_raw", 6).alias("iso_calibrated"))
            .orderBy("bin"))


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random-projection distortion audit
# --------------------------------------------------------------------------

_JL_OUT = 16   # target dimensionality (64 -> 16)
_JL_SAMPLE = 200  # vectors audited (pairs = n*(n-1)/2)

@register(
    "q_embed_jl_distortion",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id < {_JL_SAMPLE}),
    dims AS (
        SELECT vec_id, embedding,
               unnest(range(0, len(embedding))) AS j
        FROM base),
    dimx AS (
        SELECT vec_id, j, embedding[j + 1]::DOUBLE AS x FROM dims),
    signs AS (
        SELECT d.j, k.k,
               1 - 2 * CAST(bit_count(
                   (1103515245 * (CAST(d.j AS BIGINT) * {_JL_OUT} + k.k)
                    + 12345) % 2147483648) % 2 AS INT) AS s
        FROM (SELECT unnest(range(0, 64)) AS j) d
        CROSS JOIN (SELECT unnest(range(0, {_JL_OUT})) AS k) k),
    proj AS (
        SELECT dx.vec_id, sg.k,
               ROUND(0.25 * SUM(sg.s * dx.x), 6) AS y
        FROM dimx dx JOIN signs sg ON sg.j = dx.j
        GROUP BY dx.vec_id, sg.k),
    parr AS (
        SELECT vec_id, list(y ORDER BY k) AS yv FROM proj GROUP BY vec_id),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_sum(list_transform(range(1, 65),
                   i -> (ea.embedding[i]::DOUBLE - eb.embedding[i]::DOUBLE)
                        * (ea.embedding[i]::DOUBLE - eb.embedding[i]::DOUBLE)))
                   AS d64,
               list_sum(list_transform(range(1, {_JL_OUT} + 1),
                   i -> (a.yv[i] - b.yv[i]) * (a.yv[i] - b.yv[i]))) AS d16
        FROM parr a JOIN parr b ON a.vec_id < b.vec_id
        JOIN base ea ON ea.vec_id = a.vec_id
        JOIN base eb ON eb.vec_id = b.vec_id),
    ratios AS (
        SELECT ROUND(CASE WHEN d64 > 0 THEN d16 / d64
                          ELSE 1.0 END, 6) AS ratio
        FROM pairs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(ratio), 4) AS mean_ratio,
           ROUND(MIN(ratio), 4) AS min_ratio,
           ROUND(MAX(ratio), 4) AS max_ratio,
           ROUND(quantile_cont(ratio, 0.05), 4) AS p05_ratio,
           ROUND(quantile_cont(ratio, 0.95), 4) AS p95_ratio,
           ROUND(COUNT(CASE WHEN ratio BETWEEN 0.5 AND 1.5 THEN 1 END)::DOUBLE
                 / COUNT(*), 4) AS frac_within_50pct
    FROM ratios
    """,
    doc="Johnson-Lindenstrauss distortion audit for 64->16 random "
        "sign projection (the compression every 100 TB ANN pipeline "
        "applies before indexing): project with a DETERMINISTIC "
        "Rademacher matrix (31-bit LCG on (dim, out-dim), bit 16 as "
        "the sign — identical BIGINT arithmetic on both engines), "
        "then measure the squared-distance ratio |Px-Py|^2 / "
        "|x-y|^2 over all sample pairs; JL says it concentrates "
        "near 1. Projected coordinates are rounded at 6 dp so every "
        "downstream distance is bit-identical across engines. Plan: "
        "explode dims -> broadcast-join the 1024-entry sign matrix -> "
        "one groupBy(vec, out-dim) shuffle, then pairwise distances "
        "on the SAMPLE only (the audit is O(sample^2), the projection "
        "itself is linear and is the piece that runs on the full "
        "corpus).",
)
def q_embed_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("embeddings")
         .where(F.col("vec_id") < _JL_SAMPLE)
         .select("vec_id", "embedding"))
    dimx = e.select(
        "vec_id", F.posexplode("embedding").alias("j", "xf")) \
        .select("vec_id", "j", F.col("xf").cast("double").alias("x"))
    signs = (spark.range(64).select(F.col("id").cast("int").alias("j"))
             .select("j", F.explode(F.expr(
                 f"sequence(0, {_JL_OUT - 1})")).alias("k"))
             .select("j", "k", F.expr(
                 f"1 - 2 * CAST(bit_count((1103515245 * (CAST(j AS BIGINT)"
                 f" * {_JL_OUT} + k) + 12345) % 2147483648) % 2 AS INT)")
                 .alias("s")))
    proj = (dimx.join(F.broadcast(signs), "j")
            .groupBy("vec_id", "k")
            .agg(F.round(0.25 * F.sum(F.col("s") * F.col("x")), 6)
                 .alias("y")))
    parr = (proj.groupBy("vec_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("k", "y"))),
                lambda st: st["y"]).alias("yv")))
    withe = parr.join(e, "vec_id")
    a = withe.select(F.col("vec_id").alias("ia"),
                     F.col("yv").alias("ya"), F.col("embedding").alias("ea"))
    b = withe.select(F.col("vec_id").alias("ib"),
                     F.col("yv").alias("yb"), F.col("embedding").alias("eb"))
    sqdist = ("aggregate(zip_with({u}, {v}, (p, q) -> "
              "(CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) * "
              "(CAST(p AS DOUBLE) - CAST(q AS DOUBLE))), 0.0D, "
              "(acc, z) -> acc + z)")
    pairs = (a.join(b, F.col("ia") < F.col("ib"))
             .select(F.expr(sqdist.format(u="ea", v="eb")).alias("d64"),
                     F.expr(sqdist.format(u="ya", v="yb")).alias("d16")))
    ratios = pairs.select(
        F.round(F.when(F.col("d64") > 0,
                       F.col("d16") / F.col("d64"))
                .otherwise(1.0), 6).alias("ratio"))
    return ratios.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
        F.round(F.expr("percentile(ratio, 0.05)"), 4).alias("p05_ratio"),
        F.round(F.expr("percentile(ratio, 0.95)"), 4).alias("p95_ratio"),
        F.round(F.count(F.when(F.col("ratio").between(0.5, 1.5), 1))
                .cast("double") / F.count(F.lit(1)), 4)
        .alias("frac_within_50pct"))


# --------------------------------------------------------------------------
# Shapley-value channel attribution (exact subset enumeration)
# --------------------------------------------------------------------------

_CHANNELS = ("click", "view", "signup", "error")  # bit i = _CHANNELS[i]

@register(
    "q_events_shapley_attribution",
    oracle="""
    WITH firstp AS (
        SELECT user_id, MIN(ts) AS p_ts FROM events
        WHERE event_type = 'purchase' GROUP BY user_id),
    touched AS (
        SELECT f.user_id,
               COALESCE(bit_or(CASE e.event_type
                   WHEN 'click' THEN 1 WHEN 'view' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'error' THEN 8 END), 0) AS mask
        FROM firstp f LEFT JOIN events e
          ON e.user_id = f.user_id AND e.ts < f.p_ts
         AND e.event_type IN ('click', 'view', 'signup', 'error')
        GROUP BY f.user_id),
    nmask AS (SELECT mask, COUNT(*) AS n FROM touched GROUP BY mask),
    spine AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
        SELECT sp.s, COALESCE(SUM(nm.n), 0) AS v
        FROM spine sp LEFT JOIN nmask nm ON (nm.mask & sp.s) = nm.mask
        GROUP BY sp.s),
    chan AS (SELECT unnest(range(0, 4)) AS c),
    contrib AS (
        SELECT ch.c, sv.s,
               (CASE bit_count(CAST(sv.s AS BIGINT))
                    WHEN 0 THEN 0.25 WHEN 1 THEN 1.0/12
                    WHEN 2 THEN 1.0/12 WHEN 3 THEN 0.25 END)
               * (vi.v - sv.v) AS phi_part
        FROM chan ch
        JOIN v sv ON (sv.s & (1 << ch.c)) = 0
        JOIN v vi ON vi.s = (sv.s | (1 << ch.c))),
    phi AS (
        SELECT c, ROUND(SUM(phi_part), 6) AS shapley_conversions
        FROM contrib GROUP BY c)
    SELECT CASE p.c WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                    WHEN 2 THEN 'signup' WHEN 3 THEN 'error' END AS channel,
           p.shapley_conversions,
           CAST((SELECT COALESCE(SUM(n), 0) FROM nmask
                 WHERE (mask & (1 << p.c)) <> 0) AS BIGINT)
               AS n_touched_converters
    FROM phi p
    ORDER BY channel
    """,
    doc="EXACT Shapley-value attribution over marketing channels: for "
        "each converted user (first purchase), the set of channels "
        "touched beforehand becomes a 4-bit mask; the coalition value "
        "v(S) = #converters whose touched-set is within S, and each "
        "channel's Shapley share is the weighted sum of marginal "
        "contributions over all 2^4 coalitions — the game-theoretic "
        "attribution that last-touch (q_events_attribution) "
        "approximates. Everything is INTEGER until the final rational "
        "weights (|S|!(m-|S|-1)!/m! with m=4), so both engines "
        "compare identical doubles. Plan: one groupBy(user) mask "
        "aggregation (bit_or), a 16-row coalition spine joined "
        "broadcast — subset enumeration cost is 2^m * m, independent "
        "of corpus size; at 100 TB only the user-mask groupBy "
        "shuffles.",
)
def q_events_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    firstp = (e.where(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    bit = (F.when(F.col("event_type") == "click", 1)
           .when(F.col("event_type") == "view", 2)
           .when(F.col("event_type") == "signup", 4)
           .when(F.col("event_type") == "error", 8))
    touched = (firstp.join(
        e.where(F.col("event_type").isin(*_CHANNELS))
        .select("user_id", "ts", bit.alias("bit")),
        "user_id", "left")
        .where(F.col("ts").isNull() | (F.col("ts") < F.col("p_ts")))
        .groupBy("user_id")
        .agg(F.coalesce(F.expr("bit_or(bit)"), F.lit(0)).alias("mask")))
    # left join keeps converters with no prior touches only when the
    # join found no row at all; replicate the oracle's LEFT JOIN + ts
    # filter semantics exactly: users whose every touch is post-purchase
    # must still appear with mask 0.
    no_touch = (firstp.join(touched, "user_id", "left_anti")
                .select("user_id", F.lit(0).alias("mask")))
    touched = touched.unionByName(no_touch)
    nmask = touched.groupBy("mask").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (spine.join(F.broadcast(nmask),
                    (F.col("mask").bitwiseAND(F.col("s")) == F.col("mask")),
                    "left")
         .groupBy("s").agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v")))
    chan = spark.range(4).select(F.col("id").cast("int").alias("c"))
    sv = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    weight = (F.when(F.bit_count(F.col("s0").cast("long")) == 0, 0.25)
              .when(F.bit_count(F.col("s0").cast("long")) == 1, 1.0 / 12)
              .when(F.bit_count(F.col("s0").cast("long")) == 2, 1.0 / 12)
              .otherwise(0.25))
    contrib = (chan.join(F.broadcast(sv),
                         F.col("s0").bitwiseAND(F.expr("shiftleft(1, c)"))
                         == 0)
               .join(F.broadcast(vi),
                     F.col("s1") == F.col("s0")
                     .bitwiseOR(F.expr("shiftleft(1, c)")))
               .select("c", (weight * (F.col("v1") - F.col("v0")))
                       .alias("phi_part")))
    phi = contrib.groupBy("c").agg(
        F.round(F.sum("phi_part"), 6).alias("shapley_conversions"))
    touch_tot = (nmask.crossJoin(F.broadcast(chan))
                 .where(F.col("mask").bitwiseAND(F.expr("shiftleft(1, c)"))
                        != 0)
                 .groupBy("c")
                 .agg(F.sum("n").alias("nt")))
    chname = (F.when(F.col("c") == 0, "click").when(F.col("c") == 1, "view")
              .when(F.col("c") == 2, "signup").otherwise("error"))
    return (phi.join(F.broadcast(touch_tot), "c", "left")
            .select(chname.alias("channel"), "shapley_conversions",
                    F.coalesce(F.col("nt"), F.lit(0)).cast("long")
                    .alias("n_touched_converters"))
            .orderBy("channel"))


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (value-checked iterative stateful operator)
# --------------------------------------------------------------------------

_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.3

@register(
    "q_events_holt_forecast",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*)::DOUBLE AS y
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, day, y,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                   AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily),
    rec AS (
        SELECT event_type, t, n, y,
               y AS l, 0.0::DOUBLE AS b, 0.0::DOUBLE AS sse
        FROM idx WHERE t = 1
        UNION ALL
        SELECT i.event_type, i.t, i.n, i.y,
               {_HOLT_ALPHA} * i.y
                   + (1 - {_HOLT_ALPHA}) * (r.l + r.b) AS l,
               {_HOLT_BETA} * (({_HOLT_ALPHA} * i.y
                   + (1 - {_HOLT_ALPHA}) * (r.l + r.b)) - r.l)
                   + (1 - {_HOLT_BETA}) * r.b AS b,
               r.sse + (i.y - (r.l + r.b)) * (i.y - (r.l + r.b)) AS sse
        FROM idx i JOIN rec r
          ON i.event_type = r.event_type AND i.t = r.t + 1)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
           ROUND(MAX(CASE WHEN t = n THEN l END), 6) AS level,
           ROUND(MAX(CASE WHEN t = n THEN b END), 6) AS trend,
           ROUND(MAX(CASE WHEN t = n THEN l + 7 * b END), 6)
               AS forecast_7d,
           ROUND(MAX(CASE WHEN t = n THEN sse END), 4) AS sse
    FROM rec GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Holt linear-trend exponential smoothing per event type over "
        "the daily count series (alpha=0.5, beta=0.3): level/trend "
        "recursions, one-step-ahead SSE, and the 7-day-ahead forecast "
        "— an intrinsically ITERATIVE stateful operator, implemented "
        "as applyInPandas per key (Arrow batch, state bounded by "
        "series length) and value-checked against a DuckDB RECURSIVE "
        "CTE running the identical recurrence — both engines execute "
        "the same double-precision operation sequence, so the check "
        "is exact to the 6 dp rounding. At 100 TB the grouping key "
        "(series id) carries thousands of independent series; each "
        "fits one Arrow batch (days, not events), and the only "
        "data-scale shuffle is the daily-count groupBy.",
)
def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # noqa: F401

    e = Catalog(spark, sf_dir).table("events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).cast("double").alias("y")))

    def holt(pdf):
        pdf = pdf.sort_values("day").reset_index(drop=True)
        ys = pdf["y"].tolist()
        lvl, tr, sse = ys[0], 0.0, 0.0
        for yv in ys[1:]:
            pred = lvl + tr
            sse = sse + (yv - pred) * (yv - pred)
            new_l = _HOLT_ALPHA * yv + (1 - _HOLT_ALPHA) * (lvl + tr)
            tr = _HOLT_BETA * (new_l - lvl) + (1 - _HOLT_BETA) * tr
            lvl = new_l
        import pandas as _pd
        return _pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "n_days": [len(ys)],
            "level": [round(lvl, 6)],
            "trend": [round(tr, 6)],
            "forecast_7d": [round(lvl + 7 * tr, 6)],
            "sse": [round(sse, 4)],
        })

    out = daily.groupBy("event_type").applyInPandas(
        holt,
        schema="event_type string, n_days long, level double, "
               "trend double, forecast_7d double, sse double")
    return out.orderBy("event_type")


# --------------------------------------------------------------------------
# Benjamini-Hochberg FDR over the per-metric A/B battery
# --------------------------------------------------------------------------

_BH_Q = 0.1

# Abramowitz-Stegun 7.1.26 erf approximation — pure arithmetic, so both
# engines evaluate the identical double-precision expression.
_AS_ERF = ("(1.0 - (0.254829592 * {t} - 0.284496736 * pow({t}, 2)"
           " + 1.421413741 * pow({t}, 3) - 1.453152027 * pow({t}, 4)"
           " + 1.061405429 * pow({t}, 5)) * exp(-({x}) * ({x})))")

def _p_two_sided(zcol: str) -> str:
    """2 * (1 - Phi(|z|)) with Phi via the A-S erf approximation."""
    x = f"(abs({zcol}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    erf = _AS_ERF.format(t=t, x=x)
    return f"round(1.0 - {erf}, 6)"

@register(
    "q_events_bh_fdr",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CASE WHEN user_id % 2 = 1 THEN 't' ELSE 'c' END AS grp,
               COUNT(*) AS n, AVG(value) AS m,
               (AVG(value * value) - AVG(value) * AVG(value))
                   * COUNT(*) / (COUNT(*) - 1) AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    z AS (
        SELECT t.event_type,
               ROUND((t.m - c.m) / SQRT(t.v / t.n + c.v / c.n), 4) AS z
        FROM g t JOIN g c ON t.event_type = c.event_type
        WHERE t.grp = 't' AND c.grp = 'c'),
    p AS (
        SELECT event_type, z, {_p_two_sided('z')} AS p_value FROM z),
    ranked AS (
        SELECT p.event_type, p.z, p.p_value,
               (SELECT COUNT(*) FROM p p2
                WHERE p2.p_value < p.p_value
                   OR (p2.p_value = p.p_value
                       AND p2.event_type <= p.event_type)) AS rnk,
               (SELECT COUNT(*) FROM p) AS k
        FROM p),
    cutoff AS (
        SELECT COALESCE(MAX(rnk), 0) AS rstar FROM ranked
        WHERE p_value <= {_BH_Q} * rnk / k)
    SELECT r.event_type, r.z, r.p_value, CAST(r.rnk AS BIGINT) AS rnk,
           (r.rnk <= c.rstar) AS significant
    FROM ranked r CROSS JOIN cutoff c
    ORDER BY r.rnk
    """,
    doc=f"Benjamini-Hochberg FDR correction (q={_BH_Q}) over the "
        "per-metric A/B battery: one Welch z per event type "
        "(treatment = user parity), two-sided p via the Abramowitz-"
        "Stegun 7.1.26 erf polynomial — pure arithmetic, so both "
        "engines produce bit-identical p-values (rounded 6 dp) — then "
        "the BH step-up rule (largest rank r with p_(r) <= q*r/K; "
        "everything below is significant). The guardrail that stops "
        "an experiment platform shipping 1-in-20 false metric wins. "
        "Rank and cutoff are computed by tiny self-joins on the "
        "K-row metric table (K = #metrics, never data-scale) — no "
        "global window; the only data shuffle is the per-(metric, "
        "arm) aggregate with a deterministic (p, name) total order.",
)
def q_events_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    n = F.count(F.lit(1))
    g = (e.groupBy("event_type",
                   F.when(F.col("user_id") % 2 == 1, "t").otherwise("c")
                   .alias("grp"))
         .agg(n.alias("n"), F.avg("value").alias("m"),
              ((F.avg(F.col("value") * F.col("value"))
                - F.avg("value") * F.avg("value")) * n / (n - 1)).alias("v")))
    t = g.where(F.col("grp") == "t").select(
        "event_type", F.col("n").alias("nt"), F.col("m").alias("mt"),
        F.col("v").alias("vt"))
    c = g.where(F.col("grp") == "c").select(
        "event_type", F.col("n").alias("nc"), F.col("m").alias("mc"),
        F.col("v").alias("vc"))
    z = (t.join(c, "event_type")
         .select("event_type",
                 F.round((F.col("mt") - F.col("mc"))
                         / F.sqrt(F.col("vt") / F.col("nt")
                                  + F.col("vc") / F.col("nc")), 4)
                 .alias("z")))
    p = z.select("event_type", "z", F.expr(_p_two_sided("z")).alias("p_value"))
    p2 = p.select(F.col("event_type").alias("et2"),
                  F.col("p_value").alias("pv2"))
    ranked = (p.join(F.broadcast(p2),
                     (F.col("pv2") < F.col("p_value"))
                     | ((F.col("pv2") == F.col("p_value"))
                        & (F.col("et2") <= F.col("event_type"))))
              .groupBy("event_type", "z", "p_value")
              .agg(F.count(F.lit(1)).alias("rnk")))
    k = p.agg(F.count(F.lit(1)).alias("k"))
    ranked = ranked.crossJoin(F.broadcast(k))
    cutoff = (ranked
              .where(F.col("p_value") <= _BH_Q * F.col("rnk") / F.col("k"))
              .agg(F.coalesce(F.max("rnk"), F.lit(0)).alias("rstar")))
    return (ranked.crossJoin(F.broadcast(cutoff))
            .select("event_type", "z", "p_value",
                    F.col("rnk").cast("long").alias("rnk"),
                    (F.col("rnk") <= F.col("rstar")).alias("significant"))
            .orderBy("rnk"))


# --------------------------------------------------------------------------
# Distribution-free median confidence interval (order statistics)
# --------------------------------------------------------------------------

@register(
    "q_stats_median_ci",
    oracle="""
    WITH v AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL),
    ks AS (
        SELECT DISTINCT event_type, n,
               GREATEST(1, CAST(FLOOR((n - 1.959964 * SQRT(n)) / 2.0)
                                AS BIGINT)) AS k_lo,
               LEAST(n, CAST(CEIL(1 + (n + 1.959964 * SQRT(n)) / 2.0)
                             AS BIGINT)) AS k_hi
        FROM v),
    med AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS median
        FROM v GROUP BY event_type)
    SELECT k.event_type, CAST(k.n AS BIGINT) AS n, m.median,
           MAX(CASE WHEN v.rk = k.k_lo THEN v.value END) AS ci_lo,
           MAX(CASE WHEN v.rk = k.k_hi THEN v.value END) AS ci_hi
    FROM ks k JOIN med m USING (event_type)
    JOIN v ON v.event_type = k.event_type AND v.rk IN (k.k_lo, k.k_hi)
    GROUP BY k.event_type, k.n, m.median
    ORDER BY k.event_type
    """,
    doc="Distribution-free 95% confidence interval for the median via "
        "binomial order statistics: within each event type the CI is "
        "[x_(k_lo), x_(k_hi)] with k = (n -+ 1.96 sqrt(n))/2 — no "
        "normality assumption, exact for any continuous distribution. "
        "Order statistics are selected by a per-group ranking window "
        "(partitioned by event type with a (value, event_id) total "
        "order — never a global sort); the CI endpoints are RAW data "
        "values, so the only rounding is the 4 dp median. At 100 TB "
        "an approx-percentile pre-pass would bracket the ranks and "
        "this exact form audits the bracket.",
)
def q_stats_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select("event_type", "event_id", "value"))
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    v = e.select(
        "event_type", "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")).alias("n"))
    ks = (v.groupBy("event_type")
          .agg(F.max("n").alias("n"))
          .select("event_type", "n",
                  F.greatest(F.lit(1), F.floor(
                      (F.col("n") - 1.959964 * F.sqrt(F.col("n"))) / 2.0)
                      .cast("long")).alias("k_lo"),
                  F.least(F.col("n"), F.ceil(
                      1 + (F.col("n") + 1.959964 * F.sqrt(F.col("n"))) / 2.0)
                      .cast("long")).alias("k_hi")))
    med = (e.groupBy("event_type")
           .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("median")))
    picked = (v.join(F.broadcast(ks), "event_type")
              .where((F.col("rk") == F.col("k_lo"))
                     | (F.col("rk") == F.col("k_hi")))
              .groupBy("event_type")
              .agg(F.max(F.when(F.col("rk") == F.col("k_lo"),
                                F.col("value"))).alias("ci_lo"),
                   F.max(F.when(F.col("rk") == F.col("k_hi"),
                                F.col("value"))).alias("ci_hi")))
    return (ks.join(F.broadcast(med), "event_type")
            .join(F.broadcast(picked), "event_type")
            .select("event_type", F.col("n").cast("long").alias("n"),
                    "median", "ci_lo", "ci_hi")
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# Population Stability Index drift
# --------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_WIDTH = 50.0  # value in [0, 500); bucket = min(9, floor(v / 50))

@register(
    "q_events_psi_drift",
    oracle=f"""
    WITH windows AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-07' THEN 'base'
                    WHEN CAST(ts AS DATE) >= DATE '2024-01-22' THEN 'cur'
               END AS win,
               LEAST({_PSI_BUCKETS - 1},
                     CAST(FLOOR(value / {_PSI_WIDTH}) AS INT)) AS bucket
        FROM events WHERE value IS NOT NULL),
    counts AS (
        SELECT w.event_type, w.win, b.bucket,
               (SELECT COUNT(*) FROM windows w2
                WHERE w2.event_type = w.event_type AND w2.win = w.win
                  AND w2.bucket = b.bucket) AS n
        FROM (SELECT DISTINCT event_type, win FROM windows
              WHERE win IS NOT NULL) w
        CROSS JOIN (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket) b),
    tot AS (
        SELECT event_type, win, SUM(n) AS nt FROM counts GROUP BY 1, 2),
    sm AS (
        SELECT c.event_type, c.bucket,
               MAX(CASE WHEN c.win = 'base'
                   THEN (c.n + 0.5) / (t.nt + {_PSI_BUCKETS} * 0.5) END)
                   AS pb,
               MAX(CASE WHEN c.win = 'cur'
                   THEN (c.n + 0.5) / (t.nt + {_PSI_BUCKETS} * 0.5) END)
                   AS pc
        FROM counts c JOIN tot t ON t.event_type = c.event_type
                                AND t.win = c.win
        GROUP BY c.event_type, c.bucket)
    SELECT event_type,
           ROUND(SUM((pc - pb) * LN(pc / pb)), 6) AS psi,
           (SUM((pc - pb) * LN(pc / pb)) >= 0.2) AS drifted
    FROM sm GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Population Stability Index per event type: value distribution "
        "over 10 fixed-width buckets, first week vs last week, "
        "PSI = Sigma (p_cur - p_base) ln(p_cur / p_base) with +0.5 "
        "Laplace smoothing on every bucket count (so empty buckets "
        "never divide by zero, identically on both engines) — the "
        "industry-standard drift gate (0.2 = action threshold) beside "
        "the KS (q_text_length_ks_drift) and JSD (q_corpus_jsd_matrix) "
        "drift twins. Bucketing is integer arithmetic on fixed ranges; "
        "proportions are integer-ratio doubles — bit-identical until "
        "the 6 dp rounding. One groupBy(type, window, bucket) shuffle "
        "plus spine joins on the 10-bucket grid.",
)
def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    win = (F.when(F.to_date("ts") <= F.lit("2024-01-07").cast("date"), "base")
           .when(F.to_date("ts") >= F.lit("2024-01-22").cast("date"), "cur"))
    rows = (e.select("event_type", win.alias("win"),
                     F.least(F.lit(_PSI_BUCKETS - 1),
                             F.floor(F.col("value") / _PSI_WIDTH).cast("int"))
                     .alias("bucket"))
            .where(F.col("win").isNotNull()))
    counts = rows.groupBy("event_type", "win", "bucket").agg(
        F.count(F.lit(1)).alias("n"))
    spine = (rows.select("event_type", "win").distinct()
             .crossJoin(F.broadcast(
                 spark.range(_PSI_BUCKETS)
                 .select(F.col("id").cast("int").alias("bucket")))))
    full = (spine.join(counts, ["event_type", "win", "bucket"], "left")
            .select("event_type", "win", "bucket",
                    F.coalesce("n", F.lit(0)).alias("n")))
    tot = full.groupBy("event_type", "win").agg(F.sum("n").alias("nt"))
    sm = (full.join(F.broadcast(tot), ["event_type", "win"])
          .withColumn("p", (F.col("n") + 0.5)
                      / (F.col("nt") + _PSI_BUCKETS * 0.5))
          .groupBy("event_type", "bucket")
          .agg(F.max(F.when(F.col("win") == "base", F.col("p"))).alias("pb"),
               F.max(F.when(F.col("win") == "cur", F.col("p"))).alias("pc")))
    psi = F.sum((F.col("pc") - F.col("pb"))
                * F.log(F.col("pc") / F.col("pb")))
    return (sm.groupBy("event_type")
            .agg(F.round(psi, 6).alias("psi"),
                 (psi >= 0.2).alias("drifted"))
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# Gini coefficient / spend concentration per nation
# --------------------------------------------------------------------------

@register(
    "q_customer_gini_spend",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey, c.c_custkey,
               COALESCE(SUM(o.o_totalprice), 0) AS x
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    ranked AS (
        SELECT c_nationkey, x,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY x, c_custkey) AS i,
               COUNT(*) OVER (PARTITION BY c_nationkey) AS n
        FROM spend)
    SELECT c_nationkey, CAST(MAX(n) AS BIGINT) AS n_customers,
           ROUND(SUM(x), 2) AS total_spend,
           ROUND((2.0 * SUM(i * x) - (MAX(n) + 1.0) * SUM(x))
                 / (MAX(n) * SUM(x)), 6) AS gini
    FROM ranked
    GROUP BY c_nationkey
    HAVING SUM(x) > 0
    ORDER BY c_nationkey
    """,
    doc="Gini coefficient of customer spend per nation (Lorenz "
        "concentration): rank customers by total order spend within "
        "nation ((x, custkey) total order), G = (2 Sigma i*x_i - "
        "(n+1) Sigma x_i) / (n Sigma x_i) — the inequality readout "
        "beside the HHI market-concentration twin "
        "(q_market_concentration_hhi). Spend sums are DECIMAL-exact; "
        "the rank-weighted sums stay exact until the single final "
        "division, rounded 6 dp. Ranking windows are partitioned by "
        "nation — 25 bounded partitions, no global sort; the join is "
        "the standard customer-orders co-partition.",
)
def q_customer_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).table("customer")
    o = Catalog(spark, sf_dir).table("orders")
    spend = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
             .groupBy("c_nationkey", "c_custkey")
             .agg(F.coalesce(F.sum("o_totalprice"), F.lit(0)).alias("x")))
    w = Window.partitionBy("c_nationkey").orderBy("x", "c_custkey")
    ranked = spend.select(
        "c_nationkey", "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy("c_nationkey")).alias("n"))
    return (ranked.groupBy("c_nationkey")
            .agg(F.max("n").cast("long").alias("n_customers"),
                 F.round(F.sum("x"), 2).alias("total_spend"),
                 F.round((2.0 * F.sum(F.col("i") * F.col("x"))
                          - (F.max("n") + 1.0) * F.sum("x"))
                         / (F.max("n") * F.sum("x")), 6).alias("gini"))
            .where(F.col("total_spend") > 0)
            .orderBy("c_nationkey"))


# --------------------------------------------------------------------------
# Dynamic time warping between event-type time series
# --------------------------------------------------------------------------

_DTW_N = 10  # series length: Jan days bucketed into 3-day windows


def _dtw_oracle(n: int) -> str:
    """DTW DP unrolled by anti-diagonal (the repo's iterative-oracle
    pattern: PageRank/Bellman-Ford/Markov unroll rounds; DTW unrolls
    the 2(n-1) wavefront diagonals, each CTE reading the previous
    two)."""
    head = f"""
    WITH daily AS (
        SELECT event_type,
               LEAST({n - 1}, (EXTRACT(DAY FROM ts) - 1) // 3) AS b,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS t
            FROM daily GROUP BY 1),
    ser AS (
        SELECT d.event_type,
               list(d.cnt::DOUBLE / t.t ORDER BY d.b) AS ys
        FROM daily d JOIN tot t USING (event_type)
        GROUP BY d.event_type),
    pairs AS MATERIALIZED (
        SELECT a.event_type AS ta, b.event_type AS tb,
               a.ys AS ya, b.ys AS yb
        FROM ser a JOIN ser b ON a.event_type < b.event_type),
    d2 AS MATERIALIZED (
        SELECT ta, tb, 1 AS i, 1 AS j, ABS(ya[1] - yb[1]) AS dp
        FROM pairs)"""
    blocks = [head]
    for k in range(3, 2 * n + 1):
        lo, hi = max(1, k - n), min(n, k - 1)
        m3 = (f"LEFT JOIN d{k-2} m3 ON m3.ta = p.ta AND m3.tb = p.tb "
              f"AND m3.i = g.i - 1 AND m3.j = {k} - g.i - 1"
              if k > 3 else "")
        m3dp = "COALESCE(m3.dp, 1e18)" if k > 3 else "1e18"
        blocks.append(f""",
    d{k} AS MATERIALIZED (
        SELECT p.ta, p.tb, g.i, {k} - g.i AS j,
               ABS(p.ya[g.i] - p.yb[{k} - g.i])
               + LEAST(COALESCE(m1.dp, 1e18), COALESCE(m2.dp, 1e18),
                       {m3dp}) AS dp
        FROM pairs p
        CROSS JOIN (SELECT unnest(range({lo}, {hi + 1})) AS i) g
        LEFT JOIN d{k-1} m1 ON m1.ta = p.ta AND m1.tb = p.tb
             AND m1.i = g.i - 1 AND m1.j = {k} - g.i
        LEFT JOIN d{k-1} m2 ON m2.ta = p.ta AND m2.tb = p.tb
             AND m2.i = g.i AND m2.j = {k} - g.i - 1
        {m3})""")
    blocks.append(f"""
    SELECT ta, tb, ROUND(dp, 6) AS dtw_distance
    FROM d{2 * n} ORDER BY ta, tb""")
    return "".join(blocks)


@register(
    "q_events_dtw_similarity",
    oracle=_dtw_oracle(_DTW_N),
    doc="Dynamic-time-warping distance between every pair of event-"
        "type activity series (10-point 3-day-bucket counts, "
        "normalized to per-type share so shapes compare, not "
        "volumes): the elastic-alignment similarity that matches "
        "shifted/stretched patterns where Euclidean distance "
        "misfires. Spark runs the O(n^2) DP per pair in applyInPandas "
        "(state = one DP row, Arrow-batched, each pair independent — "
        "at 100 TB thousands of series pairs parallelize across "
        "executors; n stays the SERIES length, never the event "
        "count); the oracle unrolls the identical DP by anti-diagonal "
        "(2n-1 generated CTEs), so the full alignment cost is "
        "value-checked. Series shares are integer ratios and the DP "
        "adds them in the same order on both engines — exact to the "
        "6 dp rounding.",
)
def q_events_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    daily = (e.groupBy(
        "event_type",
        F.least(F.lit(_DTW_N - 1),
                ((F.dayofmonth("ts") - 1) / 3).cast("int")).alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt")))
    tot = daily.groupBy("event_type").agg(F.sum("cnt").alias("t"))
    ser = (daily.join(F.broadcast(tot), "event_type")
           .groupBy("event_type")
           .agg(F.transform(
               F.array_sort(F.collect_list(F.struct(
                   "b", (F.col("cnt").cast("double") / F.col("t"))
                   .alias("y")))),
               lambda s: s["y"]).alias("ys")))
    a = ser.select(F.col("event_type").alias("ta"), F.col("ys").alias("ya"))
    b = ser.select(F.col("event_type").alias("tb"), F.col("ys").alias("yb"))
    pairs = a.join(b, F.col("ta") < F.col("tb"))

    def dtw(pdf):
        import pandas as _pd
        out = []
        for _, row in pdf.iterrows():
            ya, yb = list(row["ya"]), list(row["yb"])
            n, m = len(ya), len(yb)
            big = 1e18
            prev = [big] * (m + 1)
            prev[0] = 0.0
            for i in range(1, n + 1):
                cur = [big] * (m + 1)
                for j in range(1, m + 1):
                    c = abs(ya[i - 1] - yb[j - 1])
                    best = min(prev[j], cur[j - 1], prev[j - 1])
                    cur[j] = c + best
                prev = cur
            out.append((row["ta"], row["tb"], round(prev[m], 6)))
        return _pd.DataFrame(out, columns=["ta", "tb", "dtw_distance"])

    res = pairs.groupBy("ta", "tb").applyInPandas(
        dtw, schema="ta string, tb string, dtw_distance double")
    return res.orderBy("ta", "tb")


# --------------------------------------------------------------------------
# WordPiece merge scoring (likelihood-ratio, vs BPE's raw frequency)
# --------------------------------------------------------------------------

@register(
    "q_text_wordpiece_merge_scores",
    oracle="""
    WITH wc AS (
        SELECT u.w AS word, COUNT(*) AS wn
        FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents) t,
             unnest(t.toks) AS u(w)
        GROUP BY u.w),
    syms AS (
        SELECT word[i] AS sym, wn
        FROM wc, unnest(range(1, length(word) + 1)) AS r(i)),
    sc AS (SELECT sym, CAST(SUM(wn) AS BIGINT) AS c FROM syms GROUP BY sym),
    pairs AS (
        SELECT word[i] AS p1, word[i+1] AS p2, wn
        FROM wc, unnest(range(1, length(word))) AS r(i)
        WHERE length(word) >= 2),
    pc AS (
        SELECT p1, p2, CAST(SUM(wn) AS BIGINT) AS n_pair
        FROM pairs GROUP BY p1, p2),
    scored AS (
        SELECT pc.p1 || pc.p2 AS pair, pc.n_pair,
               ROUND(pc.n_pair::DOUBLE / (s1.c * s2.c), 8) AS wp_score
        FROM pc JOIN sc s1 ON s1.sym = pc.p1
                JOIN sc s2 ON s2.sym = pc.p2)
    SELECT pair, n_pair, wp_score
    FROM scored
    ORDER BY wp_score DESC, pair LIMIT 20
    """,
    doc="First WordPiece merge round: adjacent symbol pairs scored by "
        "the LIKELIHOOD ratio count(ab) / (count(a) * count(b)) "
        "instead of BPE's raw frequency - the scoring rule that makes "
        "WordPiece prefer merges that are surprising given their "
        "parts (BERT's tokenizer) where BPE (q_text_bpe_merge_counts, "
        "same machinery) prefers merely common ones. Same "
        "vocabulary-sized plan: the corpus aggregates to word counts "
        "FIRST, so each merge evaluation is a job over the vocab, not "
        "the corpus - the property that keeps tokenizer training "
        "feasible at 100 TB. Scores are single divisions of exact "
        "BIGINT products rounded at 8 dp; top-20 via "
        "TakeOrderedAndProject with the (score, pair) total order.",
)
def q_text_wordpiece_merge_scores(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from datalake_project_spark.functions import text as T

    d = Catalog(spark, sf_dir).table("documents")
    wc = (d.select(F.explode(T.tokens("text")).alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("wn")))
    chars = F.filter(F.split(F.col("word"), ""), lambda c: F.length(c) > 0)
    syms = wc.select(F.explode(chars).alias("sym"), "wn")
    sc = syms.groupBy("sym").agg(F.sum("wn").cast("long").alias("c"))
    n = F.size(chars)
    pair_arr = F.zip_with(
        F.slice(chars, 1, n - 1), F.slice(chars, 2, n - 1),
        lambda a, b: F.concat_ws("", a, b))
    pc = (wc.where(F.length("word") >= 2)
          .select(F.explode(pair_arr).alias("pq"), "wn")
          .select(F.split("pq", "")[0].alias("p1"),
                  F.split("pq", "")[1].alias("p2"), "wn")
          .groupBy("p1", "p2").agg(F.sum("wn").cast("long").alias("n_pair")))
    s1 = sc.select(F.col("sym").alias("p1"), F.col("c").alias("c1"))
    s2 = sc.select(F.col("sym").alias("p2"), F.col("c").alias("c2"))
    scored = (pc.join(F.broadcast(s1), "p1").join(F.broadcast(s2), "p2")
              .select(F.concat("p1", "p2").alias("pair"), "n_pair",
                      F.round(F.col("n_pair").cast("double")
                              / (F.col("c1") * F.col("c2")), 8)
                      .alias("wp_score")))
    return scored.orderBy(F.desc("wp_score"), "pair").limit(20)


# --------------------------------------------------------------------------
# Exact-matching ATT estimator (stratified on activity buckets)
# --------------------------------------------------------------------------

@register(
    "q_events_matched_att",
    oracle="""
    WITH users AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
               LEAST(9, CAST(COUNT(*) // 20 AS INT)) AS stratum,
               ROUND(AVG(value), 4) AS y
        FROM events WHERE value IS NOT NULL GROUP BY user_id),
    cells AS (
        SELECT stratum, treated, COUNT(*) AS n, ROUND(AVG(y), 4) AS ybar
        FROM users GROUP BY 1, 2),
    matched AS (
        SELECT t.stratum, t.n AS nt, t.ybar AS yt, c.ybar AS yc
        FROM cells t JOIN cells c
          ON c.stratum = t.stratum AND c.treated = 0
        WHERE t.treated = 1),
    tot AS (SELECT SUM(nt) AS m FROM matched)
    SELECT CAST((SELECT COUNT(*) FROM matched) AS BIGINT)
               AS n_matched_strata,
           CAST(tot.m AS BIGINT) AS n_matched_treated,
           CAST((SELECT COALESCE(SUM(n), 0) FROM cells
                 WHERE treated = 1) - tot.m AS BIGINT)
               AS n_unmatched_treated,
           ROUND(SUM((yt - yc) * nt / tot.m), 4) AS att
    FROM matched, tot
    GROUP BY tot.m
    """,
    doc="Average treatment effect on the treated by EXACT stratified "
        "matching: users bucketed into activity strata (event-count "
        "// 20, capped), treated (odd user_id) strata matched to "
        "control strata, ATT = treated-weighted mean of per-stratum "
        "outcome differences - the covariate-adjustment causal "
        "estimator beside the unadjusted DiD "
        "(q_events_diff_in_diff); unmatched treated users (no control "
        "in stratum) are counted, not silently dropped. Cell means "
        "round at 4 dp on both engines before differencing; stratum "
        "weights are integer ratios. One groupBy(user) scan, one "
        "groupBy(stratum, arm) aggregate on the user table, then "
        "arithmetic on a <=20-row cell table.",
)
def q_events_matched_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    users = (e.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_ev"),
                  F.round(F.avg("value"), 4).alias("y"))
             .select(
                 F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)
                 .alias("treated"),
                 F.least(F.lit(9), F.floor(F.col("n_ev") / 20).cast("int"))
                 .alias("stratum"),
                 "y"))
    cells = users.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("y"), 4).alias("ybar"))
    t = (cells.where(F.col("treated") == 1)
         .select("stratum", F.col("n").alias("nt"),
                 F.col("ybar").alias("yt")))
    c = (cells.where(F.col("treated") == 0)
         .select("stratum", F.col("ybar").alias("yc")))
    matched = t.join(F.broadcast(c), "stratum")
    tot = matched.agg(F.sum("nt").alias("m"))
    all_treated = (cells.where(F.col("treated") == 1)
                   .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("nt_all")))
    return (matched.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(all_treated))
            .groupBy("m", "nt_all")
            .agg(F.count(F.lit(1)).cast("long").alias("n_matched_strata"),
                 F.round(F.sum((F.col("yt") - F.col("yc"))
                               * F.col("nt") / F.col("m")), 4).alias("att"))
            .select("n_matched_strata",
                    F.col("m").cast("long").alias("n_matched_treated"),
                    (F.col("nt_all") - F.col("m")).cast("long")
                    .alias("n_unmatched_treated"),
                    "att"))


# --------------------------------------------------------------------------
# Leave-one-out target encoding (leakage-safe categorical feature)
# --------------------------------------------------------------------------

_TE_SMOOTH = 20  # prior weight (pseudo-observations of the global mean)

@register(
    "q_feature_target_encoding",
    oracle=f"""
    WITH rows_ AS (
        SELECT o_custkey, o_orderpriority AS cat,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                 CAST(SUM(y) AS BIGINT) AS s_all FROM rows_),
    c AS (SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(y) AS BIGINT) AS s
          FROM rows_ GROUP BY cat),
    enc AS (
        SELECT r.cat, r.y,
               ROUND((c.s - r.y + {_TE_SMOOTH} * (g.s_all::DOUBLE / g.n_all))
                     / (c.n - 1 + {_TE_SMOOTH}), 6) AS te
        FROM rows_ r JOIN c USING (cat) CROSS JOIN g)
    SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(y), 6) AS naive_rate,
           ROUND(AVG(te), 6) AS mean_loo_encoding,
           ROUND(MIN(te), 6) AS min_encoding,
           ROUND(MAX(te), 6) AS max_encoding
    FROM enc GROUP BY cat
    ORDER BY cat
    """,
    doc="Leave-one-out target encoding of order priority against the "
        "'order filled' target, with additive smoothing toward the "
        "global rate: te_i = (S_cat - y_i + m*p_global) / "
        "(n_cat - 1 + m) - the leakage-safe categorical encoding "
        "(each row's own label is EXCLUDED from its encoding, the "
        "mistake naive target encoding makes). Closed form from group "
        "totals broadcast back onto rows - the same zero-resampling "
        "trick as the jackknife (q_stats_jackknife_ratio), so the "
        "whole encoding is two grouped scans at any corpus size. "
        "Encodings are integer-ratio doubles rounded at 6 dp; the "
        "report aggregates min/mean/max per category so the leakage "
        "spread (row-level variation within a category) is visible.",
)
def q_feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    rows = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"))
    g = rows.agg(F.count(F.lit(1)).cast("long").alias("n_all"),
                 F.sum("y").cast("long").alias("s_all"))
    c = rows.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"))
    enc = (rows.join(F.broadcast(c), "cat").crossJoin(F.broadcast(g))
           .withColumn(
               "te",
               F.round((F.col("s") - F.col("y")
                        + _TE_SMOOTH * (F.col("s_all").cast("double")
                                        / F.col("n_all")))
                       / (F.col("n") - 1 + _TE_SMOOTH), 6)))
    return (enc.groupBy("cat")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.avg("y"), 6).alias("naive_rate"),
                 F.round(F.avg("te"), 6).alias("mean_loo_encoding"),
                 F.round(F.min("te"), 6).alias("min_encoding"),
                 F.round(F.max("te"), 6).alias("max_encoding"))
            .orderBy("cat"))


# --------------------------------------------------------------------------
# UCB1 bandit allocation
# --------------------------------------------------------------------------

@register(
    "q_events_ucb_allocation",
    oracle="""
    WITH arms AS (
        SELECT user_id % 4 AS arm,
               CAST(COUNT(*) AS BIGINT) AS pulls,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                    AS BIGINT) AS wins
        FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(pulls) AS BIGINT) AS n FROM arms),
    scored AS (
        SELECT a.arm, a.pulls, a.wins,
               ROUND(a.wins::DOUBLE / a.pulls, 6) AS mean_reward,
               ROUND(a.wins::DOUBLE / a.pulls
                     + SQRT(2.0 * LN(t.n::DOUBLE) / a.pulls), 6) AS ucb
        FROM arms a CROSS JOIN tot t),
    best AS (
        SELECT arm AS next_arm FROM scored
        ORDER BY ucb DESC, arm LIMIT 1),
    bestmean AS (SELECT MAX(mean_reward) AS mu_star FROM scored)
    SELECT s.arm, s.pulls, s.wins, s.mean_reward, s.ucb,
           (s.arm = b.next_arm) AS pull_next,
           ROUND((m.mu_star - s.mean_reward) * s.pulls, 4) AS regret_incurred
    FROM scored s CROSS JOIN best b CROSS JOIN bestmean m
    ORDER BY s.arm
    """,
    doc="UCB1 bandit readout over four experiment arms (reward = "
        "purchase event): per-arm empirical mean + the "
        "sqrt(2 ln N / n) exploration bonus, the arm the policy pulls "
        "next (argmax UCB, deterministic tie-break), and the realized "
        "regret vs the best arm - the decision layer that turns the "
        "A/B battery (t-test / SPRT / Bayesian posterior, same module) "
        "into an allocation policy. Everything derives from ONE "
        "groupBy(arm) conditional aggregate plus arithmetic on the "
        "4-row arm table; means are integer ratios, bonuses identical "
        "IEEE expressions, all rounded at 6 dp before compare.",
)
def q_events_ucb_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    arms = (e.groupBy((F.col("user_id") % 4).alias("arm"))
            .agg(F.count(F.lit(1)).cast("long").alias("pulls"),
                 F.count(F.when(F.col("event_type") == "purchase", 1))
                 .cast("long").alias("wins")))
    tot = arms.agg(F.sum("pulls").cast("long").alias("n"))
    scored = (arms.crossJoin(F.broadcast(tot))
              .select("arm", "pulls", "wins",
                      F.round(F.col("wins").cast("double")
                              / F.col("pulls"), 6).alias("mean_reward"),
                      F.round(F.col("wins").cast("double") / F.col("pulls")
                              + F.sqrt(2.0 * F.log(F.col("n").cast("double"))
                                       / F.col("pulls")), 6).alias("ucb")))
    best = (scored.orderBy(F.desc("ucb"), "arm").limit(1)
            .select(F.col("arm").alias("next_arm")))
    bestmean = scored.agg(F.max("mean_reward").alias("mu_star"))
    return (scored.crossJoin(F.broadcast(best))
            .crossJoin(F.broadcast(bestmean))
            .select("arm", "pulls", "wins", "mean_reward", "ucb",
                    (F.col("arm") == F.col("next_arm")).alias("pull_next"),
                    F.round((F.col("mu_star") - F.col("mean_reward"))
                            * F.col("pulls"), 4).alias("regret_incurred"))
            .orderBy("arm"))


# --------------------------------------------------------------------------
# K-fold cross-validation of a closed-form predictor
# --------------------------------------------------------------------------

_KFOLD = 5

@register(
    "q_split_kfold_cv",
    oracle=f"""
    WITH rows_ AS (
        SELECT o_orderkey % {_KFOLD} AS fold, o_custkey % 25 AS seg,
               o_totalprice AS y
        FROM orders),
    train AS (
        SELECT f.holdout, r.seg,
               CAST(COUNT(*) AS BIGINT) AS n_train,
               ROUND(AVG(r.y), 4) AS pred
        FROM (SELECT unnest(range(0, {_KFOLD})) AS holdout) f
        JOIN rows_ r ON r.fold <> f.holdout
        GROUP BY f.holdout, r.seg),
    eval_ AS (
        SELECT r.fold, r.seg, r.y, t.pred
        FROM rows_ r JOIN train t
          ON t.holdout = r.fold AND t.seg = r.seg)
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG((y - pred) * (y - pred)), 2) AS mse,
           ROUND(AVG(ABS(y - pred)), 4) AS mae
    FROM eval_ GROUP BY fold
    ORDER BY fold
    """,
    doc=f"{_KFOLD}-fold cross-validation of the closed-form "
        "segment-mean predictor (customer segment = custkey % 25, "
        "prediction = training-folds' mean order value per segment): "
        "per-fold test MSE/MAE - the model-selection harness every "
        "training pipeline needs, expressed WITHOUT k separate "
        "jobs: the fold spine cross-joins the segment aggregates so "
        "all train/test splits evaluate in ONE pass over the data "
        "(train stats per (holdout, segment) via an anti-fold join, "
        "then a broadcast join back onto rows). Deterministic integer "
        "fold assignment (orderkey modulus); predictions round at "
        "4 dp before residuals on both engines.",
)
def q_split_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    rows = o.select((F.col("o_orderkey") % _KFOLD).alias("fold"),
                    (F.col("o_custkey") % 25).alias("seg"),
                    F.col("o_totalprice").alias("y"))
    folds = spark.range(_KFOLD).select(
        F.col("id").cast("long").alias("holdout"))
    train = (folds.join(rows, rows["fold"] != folds["holdout"])
             .groupBy("holdout", "seg")
             .agg(F.count(F.lit(1)).cast("long").alias("n_train"),
                  F.round(F.avg("y"), 4).alias("pred")))
    # rename the train-side key: train derives from rows, so
    # rows["seg"] == train["seg"] resolves both sides to the SAME
    # attribute (Spark logs "trivially true equals predicate") — the
    # 4.1.2 self-join ambiguity the BPE discipline renames away
    tr = train.select("holdout", F.col("seg").alias("tseg"),
                      "n_train", "pred")
    ev = rows.join(F.broadcast(tr),
                   (rows["fold"] == tr["holdout"])
                   & (rows["seg"] == tr["tseg"]))
    return (ev.groupBy("fold")
            .agg(F.count(F.lit(1)).cast("long").alias("n_test"),
                 F.round(F.avg((F.col("y") - F.col("pred"))
                               * (F.col("y") - F.col("pred"))), 2)
                 .alias("mse"),
                 F.round(F.avg(F.abs(F.col("y") - F.col("pred"))), 4)
                 .alias("mae"))
            .orderBy("fold"))


# --------------------------------------------------------------------------
# Mutual-information feature ranking
# --------------------------------------------------------------------------

@register(
    "q_feature_mutual_information",
    oracle="""
    WITH rows_ AS (
        SELECT o_orderpriority AS f_priority,
               CAST(o_custkey % 25 AS VARCHAR) AS f_segment,
               CASE WHEN EXTRACT(MONTH FROM o_orderdate) <= 6
                    THEN 'H1' ELSE 'H2' END AS f_half,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders),
    melted AS (
        SELECT 'priority' AS feature, f_priority AS v, y FROM rows_
        UNION ALL
        SELECT 'segment', f_segment, y FROM rows_
        UNION ALL
        SELECT 'half', f_half, y FROM rows_),
    joint AS (
        SELECT feature, v, y, CAST(COUNT(*) AS BIGINT) AS nxy
        FROM melted GROUP BY 1, 2, 3),
    margx AS (
        SELECT feature, v, CAST(SUM(nxy) AS BIGINT) AS nx
        FROM joint GROUP BY 1, 2),
    margy AS (
        SELECT feature, y, CAST(SUM(nxy) AS BIGINT) AS ny
        FROM joint GROUP BY 1, 2),
    tot AS (
        SELECT feature, CAST(SUM(nxy) AS BIGINT) AS n
        FROM joint GROUP BY 1),
    mi AS (
        SELECT j.feature,
               SUM((j.nxy::DOUBLE / t.n)
                   * LN((j.nxy::DOUBLE * t.n) / (x.nx::DOUBLE * y.ny)))
                   AS mi_nats,
               CAST(COUNT(*) AS BIGINT) AS n_cells
        FROM joint j
        JOIN margx x USING (feature, v)
        JOIN margy y ON y.feature = j.feature AND y.y = j.y
        JOIN tot t ON t.feature = j.feature
        GROUP BY j.feature)
    SELECT feature, n_cells, ROUND(mi_nats, 6) AS mi_nats
    FROM mi ORDER BY mi_nats DESC, feature
    """,
    doc="Mutual information between three candidate categorical "
        "features (order priority, customer segment, order half-year) "
        "and the 'order filled' target, ranked - the model-free "
        "feature-selection screen beside the chi-squared test "
        "(q_events_chi_squared): MI = Sigma p(x,y) ln(p(x,y)/"
        "(p(x)p(y))), every probability an integer-count ratio so "
        "both engines evaluate identical doubles, rounded 6 dp. The "
        "three features melt into one (feature, value, target) "
        "contingency pass - ONE groupBy shuffle however many features "
        "are screened, the form that scales to hundreds of candidate "
        "features at 100 TB (cells are bounded by cardinality, not "
        "rows).",
)
def q_feature_mutual_information(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    rows = o.select(
        F.col("o_orderpriority").alias("f_priority"),
        (F.col("o_custkey") % 25).cast("string").alias("f_segment"),
        F.when(F.month("o_orderdate") <= 6, "H1").otherwise("H2")
        .alias("f_half"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"))
    melted = (rows.select(F.lit("priority").alias("feature"),
                          F.col("f_priority").alias("v"), "y")
              .unionByName(rows.select(F.lit("segment").alias("feature"),
                                       F.col("f_segment").alias("v"), "y"))
              .unionByName(rows.select(F.lit("half").alias("feature"),
                                       F.col("f_half").alias("v"), "y")))
    joint = melted.groupBy("feature", "v", "y").agg(
        F.count(F.lit(1)).cast("long").alias("nxy"))
    margx = joint.groupBy("feature", "v").agg(
        F.sum("nxy").cast("long").alias("nx"))
    margy = joint.groupBy("feature", "y").agg(
        F.sum("nxy").cast("long").alias("ny"))
    tot = joint.groupBy("feature").agg(
        F.sum("nxy").cast("long").alias("n"))
    mi = (joint.join(F.broadcast(margx), ["feature", "v"])
          .join(F.broadcast(margy), ["feature", "y"])
          .join(F.broadcast(tot), "feature")
          .groupBy("feature")
          .agg(F.sum((F.col("nxy").cast("double") / F.col("n"))
                     * F.log((F.col("nxy").cast("double") * F.col("n"))
                             / (F.col("nx").cast("double") * F.col("ny"))))
               .alias("mi_nats"),
               F.count(F.lit(1)).cast("long").alias("n_cells")))
    return (mi.select("feature", "n_cells",
                      F.round("mi_nats", 6).alias("mi_nats"))
            .orderBy(F.desc("mi_nats"), "feature"))


# --------------------------------------------------------------------------
# Brier score Murphy decomposition
# --------------------------------------------------------------------------

@register(
    "q_classifier_brier_decomposition",
    oracle="""
    WITH tok AS (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0),
    vocab AS (SELECT DISTINCT t, ((len(t) % 7) - 3) * 0.05::DOUBLE AS w
              FROM ex),
    cls AS (SELECT ex.doc_id,
                   ROUND(1.0 / (1.0 + exp(-AVG(vocab.w))), 4) AS prob
            FROM ex JOIN vocab USING (t) GROUP BY ex.doc_id),
    lab AS (SELECT doc_id, CASE WHEN length(text) >= 500 THEN 1 ELSE 0 END
                       AS y
            FROM documents),
    scored AS (
        SELECT LEAST(19, GREATEST(0,
                   CAST(FLOOR((c.prob - 0.505) * 800) AS INT))) AS bin,
               c.prob, l.y
        FROM cls c JOIN lab l USING (doc_id)),
    bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS nk,
               AVG(prob) AS fbar, AVG(y::DOUBLE) AS obar
        FROM scored GROUP BY bin),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(y::DOUBLE) AS obar_all,
                 AVG((prob - y) * (prob - y)) AS brier
          FROM scored)
    SELECT g.n AS n_docs,
           ROUND(g.brier, 6) AS brier,
           ROUND(SUM(b.nk * (b.fbar - b.obar) * (b.fbar - b.obar)) / g.n, 6)
               AS reliability,
           ROUND(SUM(b.nk * (b.obar - g.obar_all) * (b.obar - g.obar_all))
                 / g.n, 6) AS resolution,
           ROUND(g.obar_all * (1 - g.obar_all), 6) AS uncertainty
    FROM bins b CROSS JOIN g
    GROUP BY g.n, g.brier, g.obar_all
    """,
    doc="Murphy decomposition of the Brier score for the quality "
        "classifier: Brier = reliability - resolution + uncertainty "
        "(up to within-bin variance), computed over the same 20 "
        "fixed-width score bins as the isotonic fit "
        "(q_classifier_isotonic) - reliability punishes "
        "mis-calibration, resolution rewards discrimination, "
        "uncertainty is the target's irreducible variance. One "
        "groupBy(bin) aggregate plus a 1-row global broadcast; every "
        "term is built from per-bin means of 4 dp-rounded "
        "probabilities and integer labels, so both engines evaluate "
        "identical arithmetic, rounded 6 dp. Completes the scoring-"
        "rule arc: calibration bins, isotonic recalibration, "
        "conformal coverage, lift/gains, AUC, and now the proper-"
        "score decomposition.",
)
def q_classifier_brier_decomposition(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    scored = (_length_labelled_scores(spark, sf_dir)
              .select(F.least(F.lit(19), F.greatest(F.lit(0), F.floor(
                  (F.col("prob") - 0.505) * 800).cast("int"))).alias("bin"),
                  "prob", F.col("y").cast("double").alias("y")))
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.avg("prob").alias("fbar"), F.avg("y").alias("obar"))
    g = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("y").alias("obar_all"),
        F.avg((F.col("prob") - F.col("y")) * (F.col("prob") - F.col("y")))
        .alias("brier"))
    return (bins.crossJoin(F.broadcast(g))
            .groupBy("n", "brier", "obar_all")
            .agg(F.round(F.sum(F.col("nk") * (F.col("fbar") - F.col("obar"))
                               * (F.col("fbar") - F.col("obar")))
                         / F.max("n"), 6).alias("reliability"),
                 F.round(F.sum(F.col("nk")
                               * (F.col("obar") - F.col("obar_all"))
                               * (F.col("obar") - F.col("obar_all")))
                         / F.max("n"), 6).alias("resolution"))
            .select(F.col("n").alias("n_docs"),
                    F.round("brier", 6).alias("brier"),
                    "reliability", "resolution",
                    F.round(F.col("obar_all") * (1 - F.col("obar_all")), 6)
                    .alias("uncertainty")))


# --------------------------------------------------------------------------
# Optimizer statistics: equi-depth histogram
# --------------------------------------------------------------------------

_EQD_BUCKETS = 10

@register(
    "q_stats_equidepth_histogram",
    oracle=f"""
    WITH qs AS (
        SELECT quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM orders),
    bounds AS (
        SELECT r.i + 1 AS i, ROUND(qs.q[r.i + 1], 2) AS hi
        FROM qs, unnest(range(0, {_EQD_BUCKETS - 1})) AS r(i)),
    edges AS (
        SELECT i, hi,
               COALESCE(LAG(hi) OVER (ORDER BY i), -1e18) AS lo
        FROM bounds
        UNION ALL
        SELECT {_EQD_BUCKETS}, 1e18,
               (SELECT hi FROM bounds WHERE i = {_EQD_BUCKETS - 1})),
    assigned AS (
        SELECT e.i AS bucket, o.o_totalprice AS v, o.o_custkey
        FROM orders o JOIN edges e
          ON o.o_totalprice > e.lo AND o.o_totalprice <= e.hi)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
           ROUND(MIN(v), 2) AS lo_value,
           ROUND(MAX(v), 2) AS hi_value
    FROM assigned GROUP BY bucket
    ORDER BY bucket
    """,
    doc=f"Equi-depth histogram construction over order totals "
        f"({_EQD_BUCKETS} buckets) - the ANALYZE TABLE statistic a "
        "cost-based optimizer consumes for selectivity estimation: "
        "bucket boundaries at exact interpolated percentiles (rounded "
        "2 dp so both engines cut at identical values; boundary rows "
        "go LEFT via the (lo, hi] rule), per-bucket row count, NDV, "
        "and min/max. Equi-depth (not equi-width) is what survives "
        "skew - every bucket carries ~1/k of the rows, so range "
        "selectivities interpolate accurately even on heavy-tailed "
        "columns. Plan: one percentile aggregate (at 100 TB: "
        "approx_percentile first, this exact pass as the audit), then "
        "one broadcast range join of the 10-row edge table.",
)
def q_stats_equidepth_histogram(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    pcts = [i / _EQD_BUCKETS for i in range(1, _EQD_BUCKETS)]
    bounds = o.agg(*[
        F.round(F.expr(f"percentile(o_totalprice, {p})"), 2)
        .alias(f"q{i}") for i, p in enumerate(pcts, start=1)])
    edges_rows = bounds.select(F.explode(F.array(*[
        F.struct(F.lit(i).alias("bucket"),
                 (F.col(f"q{i-1}") if i > 1 else F.lit(-1e18)).alias("lo"),
                 (F.col(f"q{i}") if i < _EQD_BUCKETS else F.lit(1e18))
                 .alias("hi"))
        for i in range(1, _EQD_BUCKETS + 1)])).alias("e")).select("e.*")
    assigned = o.join(
        F.broadcast(edges_rows),
        (F.col("o_totalprice") > F.col("lo"))
        & (F.col("o_totalprice") <= F.col("hi")))
    return (assigned.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.countDistinct("o_totalprice").cast("long").alias("ndv"),
                 F.round(F.min("o_totalprice"), 2).alias("lo_value"),
                 F.round(F.max("o_totalprice"), 2).alias("hi_value"))
            .orderBy("bucket"))


# --------------------------------------------------------------------------
# Optimizer statistics: join cardinality estimation audit
# --------------------------------------------------------------------------

@register(
    "q_stats_join_cardinality_audit",
    oracle="""
    WITH stats AS (
        SELECT 'orders_x_customer' AS join_name,
               (SELECT COUNT(*) FROM orders) AS n_left,
               (SELECT COUNT(*) FROM customer) AS n_right,
               (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS ndv_left,
               (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS ndv_right,
               (SELECT COUNT(*) FROM orders JOIN customer
                ON o_custkey = c_custkey) AS actual
        UNION ALL
        SELECT 'lineitem_x_part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM part),
               (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
               (SELECT COUNT(DISTINCT p_partkey) FROM part),
               (SELECT COUNT(*) FROM lineitem JOIN part
                ON l_partkey = p_partkey)
        UNION ALL
        SELECT 'lineitem_x_orders',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM orders),
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
               (SELECT COUNT(DISTINCT o_orderkey) FROM orders),
               (SELECT COUNT(*) FROM lineitem JOIN orders
                ON l_orderkey = o_orderkey))
    SELECT join_name,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(GREATEST(ndv_left, ndv_right) AS BIGINT) AS ndv_max,
           CAST(n_left * n_right // GREATEST(ndv_left, ndv_right) AS BIGINT)
               AS estimated_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           ROUND((n_left * n_right / GREATEST(ndv_left, ndv_right))::DOUBLE
                 / actual, 4) AS q_error
    FROM stats
    ORDER BY join_name
    """,
    doc="Join cardinality estimation audit for three core joins: the "
        "textbook CBO estimate |A JOIN B| = |A|*|B| / max(ndv_a, "
        "ndv_b) (uniform-frequency, containment assumption) against "
        "the ACTUAL join count, with the q-error ratio - the "
        "statistic that decides whether the optimizer's join "
        "ordering/strategy choices can be trusted, and the audit a "
        "platform runs when plans go wrong. All integers (counts, "
        "NDVs, actuals) with one final ratio; at 100 TB the NDVs "
        "would come from HLL sketches (q_hll_mergeable_distinct) with "
        "this exact form as the validation pass.",
)
def q_stats_join_cardinality_audit(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    o, c, li, p = (cat.table(t) for t in
                   ("orders", "customer", "lineitem", "part"))

    def stats_row(name, left, right, lkey, rkey):
        n_l = left.count()
        n_r = right.count()
        ndv_l = left.select(lkey).distinct().count()
        ndv_r = right.select(rkey).distinct().count()
        actual = left.join(right, left[lkey] == right[rkey]).count()
        return (name, n_l, n_r, max(ndv_l, ndv_r),
                n_l * n_r // max(ndv_l, ndv_r), actual,
                round((n_l * n_r / max(ndv_l, ndv_r)) / actual, 4))

    # three bounded join-count actions (the audit IS a measurement —
    # each count is a distributed job; only the 3-row summary lands
    # on the driver)
    rows = [
        stats_row("orders_x_customer", o, c, "o_custkey", "c_custkey"),
        stats_row("lineitem_x_part", li, p, "l_partkey", "p_partkey"),
        stats_row("lineitem_x_orders", li, o, "l_orderkey", "o_orderkey"),
    ]
    return (local_df(spark, 
        rows, "join_name string, n_left long, n_right long, ndv_max long, "
              "estimated_rows long, actual_rows long, q_error double")
        .orderBy("join_name"))


# --------------------------------------------------------------------------
# Spark 4 SQL scripting (BEGIN ... END procedural blocks)
# --------------------------------------------------------------------------

@register(
    "q_sql_scripting_loop",
    oracle="""
    WITH monthly AS (
        SELECT DATE_TRUNC('quarter', o_orderdate) AS mth,
               SUM(o_totalprice) AS rev
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1995 GROUP BY 1),
    half AS (SELECT SUM(rev) / 2 AS h FROM monthly),
    cum AS (
        SELECT mth, rev,
               SUM(rev) OVER (ORDER BY mth
                              ROWS UNBOUNDED PRECEDING) AS c,
               ROW_NUMBER() OVER (ORDER BY mth) AS m
        FROM monthly)
    SELECT CAST(MIN(m) AS BIGINT) AS quarters_to_half,
           ROUND(MIN(c), 2) AS cum_at_cross
    FROM cum, half WHERE c >= half.h
    """,
    doc="Spark 4 SQL SCRIPTING surface (BEGIN...END with DECLARE / "
        "FOR-cursor / IF): a procedural block walks the 1995 "
        "quarterly revenue series in order, accumulating until "
        "crossing half of the year's total revenue, and returns the "
        "crossing quarter index and cumulative - the imperative-SQL "
        "entry point (stored-procedure shape) Spark 4 added beside "
        "variables, pipes and recursive CTEs (all registered next "
        "door). The oracle is the DECLARATIVE twin: a cumulative "
        "window + first-crossing filter, proving the procedural and "
        "relational forms agree. Quarterly sums are DECIMAL-exact and "
        "accumulate in quarter order on both engines; each scripting "
        "statement pays a full query-compile round-trip, which is why "
        "the cursor walks a 4-row QUARTER aggregate (constant rows at "
        "any SF) - scripting orchestrates, relational operators do "
        "the work.",
)
def q_sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    Catalog(spark, sf_dir).register_views()
    return spark.sql("""
    BEGIN
      DECLARE half DOUBLE;
      DECLARE cum DOUBLE DEFAULT 0.0;
      DECLARE m BIGINT DEFAULT 0;
      DECLARE done BOOLEAN DEFAULT false;
      SET half = (SELECT CAST(SUM(o_totalprice) / 2 AS DOUBLE)
                  FROM orders WHERE year(o_orderdate) = 1995);
      FOR r AS SELECT date_trunc('quarter', o_orderdate) AS mth,
                      CAST(SUM(o_totalprice) AS DOUBLE) AS rev
               FROM orders WHERE year(o_orderdate) = 1995
               GROUP BY 1 ORDER BY 1 DO
        IF NOT done THEN
          SET cum = cum + r.rev;
          SET m = m + 1;
          IF cum >= half THEN
            SET done = true;
          END IF;
        END IF;
      END FOR;
      SELECT m AS quarters_to_half, ROUND(cum, 2) AS cum_at_cross;
    END
    """)


# --------------------------------------------------------------------------
# Missing-value imputation audit
# --------------------------------------------------------------------------

@register(
    "q_feature_imputation_audit",
    oracle="""
    WITH masked AS (
        SELECT event_type, value,
               CASE WHEN event_id % 10 = 0 THEN NULL ELSE value END AS v
        FROM events WHERE value IS NOT NULL),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_missing,
               ROUND(AVG(v), 4) AS mean_obs,
               ROUND((AVG(v * v) - AVG(v) * AVG(v)), 4) AS var_obs
        FROM masked GROUP BY event_type),
    imputed AS (
        SELECT m.event_type, COALESCE(m.v, s.mean_obs) AS vi
        FROM masked m JOIN stats s USING (event_type))
    SELECT s.event_type, s.n, s.n_missing, s.mean_obs, s.var_obs,
           ROUND(AVG(i.vi), 4) AS mean_imputed,
           ROUND(AVG(i.vi * i.vi) - AVG(i.vi) * AVG(i.vi), 4)
               AS var_imputed
    FROM stats s JOIN imputed i USING (event_type)
    GROUP BY s.event_type, s.n, s.n_missing, s.mean_obs, s.var_obs
    ORDER BY s.event_type
    """,
    doc="Mean-imputation audit under a simulated MCAR mask (every "
        "10th event's value dropped): per event type, missing count, "
        "observed mean/variance, and the post-imputation mean/variance "
        "- making the textbook pathology VISIBLE (mean is preserved, "
        "variance shrinks by the missing fraction), which is exactly "
        "what a feature-quality gate must alert on before training "
        "consumes imputed columns. The imputation itself is the "
        "standard broadcast-stats-back-onto-rows plan (one "
        "groupBy(type) + one broadcast join); population variance via "
        "the one-pass identity, means rounded 4 dp before COALESCE on "
        "both engines.",
)
def q_feature_imputation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    masked = e.select(
        "event_type",
        F.when(F.col("event_id") % 10 == 0, None)
        .otherwise(F.col("value")).alias("v"))
    stats = masked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count("v")).cast("long").alias("n_missing"),
        F.round(F.avg("v"), 4).alias("mean_obs"),
        F.round(F.avg(F.col("v") * F.col("v"))
                - F.avg("v") * F.avg("v"), 4).alias("var_obs"))
    imputed = (masked.join(F.broadcast(stats), "event_type")
               .select("event_type",
                       F.coalesce("v", F.col("mean_obs")).alias("vi")))
    post = imputed.groupBy("event_type").agg(
        F.round(F.avg("vi"), 4).alias("mean_imputed"),
        F.round(F.avg(F.col("vi") * F.col("vi"))
                - F.avg("vi") * F.avg("vi"), 4).alias("var_imputed"))
    return (stats.join(F.broadcast(post), "event_type")
            .select("event_type", "n", "n_missing", "mean_obs", "var_obs",
                    "mean_imputed", "var_imputed")
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# Recommendation novelty / popularity-bias audit
# --------------------------------------------------------------------------

@register(
    "q_recs_novelty",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey AS p, COUNT(*) AS n FROM items GROUP BY 1),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS total FROM items),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n12
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
    sym AS (
        SELECT pa AS p, pb AS q, n12 FROM pairs
        UNION ALL
        SELECT pb AS p, pa AS q, n12 FROM pairs),
    sim AS (
        SELECT s.p, s.q, s.n12 / sqrt(dp.n::DOUBLE * dq.n::DOUBLE) AS c
        FROM sym s
        JOIN deg dp ON dp.p = s.p
        JOIN deg dq ON dq.p = s.q),
    recs AS (
        SELECT p, q FROM sim
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p ORDER BY c DESC, q) <= 3),
    pop AS (
        SELECT r.p, r.q, d.n::DOUBLE / t.total AS share
        FROM recs r JOIN deg d ON d.p = r.q CROSS JOIN n_orders t),
    base AS (
        SELECT AVG(d.n::DOUBLE / t.total) AS avg_share_all
        FROM deg d CROSS JOIN n_orders t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_recs,
           ROUND(AVG(-LN(pop.share) / LN(2)), 4) AS avg_novelty_bits,
           ROUND(AVG(pop.share), 6) AS avg_rec_popularity,
           ROUND(AVG(pop.share) / MAX(base.avg_share_all), 4)
               AS popularity_lift
    FROM pop CROSS JOIN base
    """,
    doc="Novelty / popularity-bias audit of the item-item "
        "recommendations (composes ON the q_recs_item_knn output "
        "plan): per recommended neighbor, self-information "
        "-log2(popularity share); the report gives mean novelty bits, "
        "mean recommended-item popularity, and the lift over the "
        "catalog-average popularity - the standard beyond-accuracy "
        "eval that catches collaborative filters recommending only "
        "blockbusters (lift >> 1). All shares are integer-count "
        "ratios; one extra broadcast join and one 1-row aggregate on "
        "top of the knn plan. Completes the recs eval arc beside "
        "q_recs_coverage.",
)
def q_recs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.queries.relational5 import q_recs_item_knn

    li = Catalog(spark, sf_dir).table("lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    deg = items.groupBy(F.col("l_partkey").alias("q")).agg(
        F.count(F.lit(1)).alias("nq"))
    total = items.agg(F.countDistinct("l_orderkey").alias("total"))
    recs = q_recs_item_knn(spark, sf_dir).select(
        "part", F.col("neighbor").alias("q"))
    pop = (recs.join(deg, "q").crossJoin(F.broadcast(total))
           .select((F.col("nq").cast("double") / F.col("total"))
                   .alias("share")))
    base = (deg.crossJoin(F.broadcast(total))
            .agg(F.avg(F.col("nq").cast("double") / F.col("total"))
                 .alias("avg_share_all")))
    return (pop.crossJoin(F.broadcast(base))
            .agg(F.count(F.lit(1)).cast("long").alias("n_recs"),
                 F.round(F.avg(-F.log2("share")), 4)
                 .alias("avg_novelty_bits"),
                 F.round(F.avg("share"), 6).alias("avg_rec_popularity"),
                 F.round(F.avg("share") / F.max("avg_share_all"), 4)
                 .alias("popularity_lift")))


# --------------------------------------------------------------------------
# Exact conditional rate test (two-sample Poisson / binomial tail)
# --------------------------------------------------------------------------

@register(
    "q_events_rate_test_exact",
    oracle="""
    WITH counts AS (
        SELECT
            CAST(COUNT(CASE WHEN user_id % 2 = 1
                            AND event_type = 'error' THEN 1 END)
                 AS BIGINT) AS k_t,
            CAST(COUNT(CASE WHEN user_id % 2 = 0
                            AND event_type = 'error' THEN 1 END)
                 AS BIGINT) AS k_c,
            CAST(COUNT(CASE WHEN user_id % 2 = 1 THEN 1 END)
                 AS BIGINT) AS n_t,
            CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN 1 END)
                 AS BIGINT) AS n_c
        FROM events),
    p AS (SELECT *, k_t + k_c AS k,
                 n_t::DOUBLE / (n_t + n_c) AS pr
          FROM counts),
    terms AS (
        SELECT p.*, unnest(range(p.k_t, p.k + 1)) AS i FROM p),
    tail AS (
        SELECT MAX(k_t) AS k_t, MAX(k_c) AS k_c,
               MAX(n_t) AS n_t, MAX(n_c) AS n_c,
               SUM(EXP(  lgamma(k + 1) - lgamma(i + 1) - lgamma(k - i + 1)
                       + i * LN(pr) + (k - i) * LN(1 - pr))) AS p_tail
        FROM terms)
    SELECT k_t AS errors_treat, k_c AS errors_control,
           n_t AS exposure_treat, n_c AS exposure_control,
           ROUND(k_t::DOUBLE / n_t, 6) AS rate_treat,
           ROUND(k_c::DOUBLE / n_c, 6) AS rate_control,
           ROUND(p_tail, 6) AS p_one_sided,
           (ROUND(p_tail, 6) < 0.05) AS significant
    FROM tail
    """,
    doc="EXACT two-sample rate test (errors per exposure, treated vs "
        "control): conditional on the total error count k, the "
        "treated count is Binomial(k, n_t/(n_t+n_c)) under the null "
        "of equal rates, and the one-sided p-value is the exact upper "
        "binomial tail - no normal approximation, valid at any count, "
        "the test a reliability dashboard needs when error counts are "
        "small. Binomial coefficients via log-factorials: "
        "aggregate(sequence) Sigma-ln on Spark vs lgamma in DuckDB "
        "(the q_events_bayesian_ab machinery), tail summed over "
        "k - k_t + 1 exploded terms - work bounded by the ERROR "
        "count, not the event count. One conditional-aggregate scan; "
        "p rounded 6 dp on both engines before the significance "
        "compare.",
)
def q_events_rate_test_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    counts = e.agg(
        F.count(F.when((F.col("user_id") % 2 == 1)
                       & (F.col("event_type") == "error"), 1))
        .cast("long").alias("k_t"),
        F.count(F.when((F.col("user_id") % 2 == 0)
                       & (F.col("event_type") == "error"), 1))
        .cast("long").alias("k_c"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1))
        .cast("long").alias("n_t"),
        F.count(F.when(F.col("user_id") % 2 == 0, 1))
        .cast("long").alias("n_c"))
    p = counts.select(
        "*", (F.col("k_t") + F.col("k_c")).alias("k"),
        (F.col("n_t").cast("double") / (F.col("n_t") + F.col("n_c")))
        .alias("pr"))
    terms = p.select(
        "*", F.explode(F.expr("sequence(CAST(k_t AS INT), CAST(k AS INT))"))
        .alias("i"))
    lfact = ("(CASE WHEN ({n}) <= 1 THEN 0.0D ELSE "
             "aggregate(sequence(2, CAST({n} AS INT)), 0.0D, "
             "(acc, x) -> acc + ln(CAST(x AS DOUBLE))) END)")
    logc = (f"({lfact.format(n='k')} - {lfact.format(n='i')}"
            f" - {lfact.format(n='k - i')})")
    tail = terms.agg(
        F.max("k_t").alias("k_t"), F.max("k_c").alias("k_c"),
        F.max("n_t").alias("n_t"), F.max("n_c").alias("n_c"),
        F.sum(F.expr(
            f"exp({logc} + i * ln(pr) + (k - i) * ln(1 - pr))"))
        .alias("p_tail"))
    return tail.select(
        F.col("k_t").alias("errors_treat"),
        F.col("k_c").alias("errors_control"),
        F.col("n_t").alias("exposure_treat"),
        F.col("n_c").alias("exposure_control"),
        F.round(F.col("k_t").cast("double") / F.col("n_t"), 6)
        .alias("rate_treat"),
        F.round(F.col("k_c").cast("double") / F.col("n_c"), 6)
        .alias("rate_control"),
        F.round("p_tail", 6).alias("p_one_sided"),
        (F.round("p_tail", 6) < 0.05).alias("significant"))


# --------------------------------------------------------------------------
# Wasserstein-1 distance between yearly price distributions
# --------------------------------------------------------------------------

_W1_GRID = 20  # percentile grid resolution

@register(
    "q_stats_wasserstein_years",
    oracle=f"""
    WITH yrs AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
               quantile_cont(o_totalprice,
                             [{", ".join(str((i + 0.5) / 20) for i in range(20))}])
                   AS qs
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) IN (1993, 1997)
        GROUP BY 1),
    expanded AS (
        SELECT yr, r.i + 1 AS i, ROUND(qs[r.i + 1], 2) AS q
        FROM yrs, unnest(range(0, {_W1_GRID})) AS r(i)),
    paired AS (
        SELECT a.i, a.q AS qa, b.q AS qb
        FROM expanded a JOIN expanded b USING (i)
        WHERE a.yr = 1993 AND b.yr = 1997)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_grid,
           ROUND(AVG(ABS(qa - qb)), 4) AS wasserstein_1,
           ROUND(MAX(ABS(qa - qb)), 2) AS max_quantile_gap,
           ROUND(AVG(qb - qa), 4) AS mean_shift
    FROM paired
    """,
    doc="Wasserstein-1 (earth mover's) distance between the 1993 and "
        "1997 order-price distributions via the quantile coupling: "
        "W1 = integral |F_a^-1(u) - F_b^-1(u)| du, discretized on a "
        f"{_W1_GRID}-point mid-percentile grid - the drift metric "
        "that, unlike KS (max gap, also reported), measures HOW MUCH "
        "mass moved, in dollars. Exact interpolated quantiles rounded "
        "2 dp on both engines before differencing; one percentile "
        "aggregate per year (at 100 TB: approx_percentile first, "
        "this exact form as the audit) and a 20-row pair join. "
        "Completes the drift-metric arc: KS (shape), PSI (binned "
        "ratio), JSD (distributional), W1 (transport cost).",
)
def q_stats_wasserstein_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (Catalog(spark, sf_dir).table("orders")
         .where(F.year("o_orderdate").isin(1993, 1997))
         .select(F.year("o_orderdate").alias("yr"), "o_totalprice"))
    pcts = [(i + 0.5) / _W1_GRID for i in range(_W1_GRID)]
    yrs = o.groupBy("yr").agg(*[
        F.round(F.expr(f"percentile(o_totalprice, {p})"), 2)
        .alias(f"q{i}") for i, p in enumerate(pcts)])
    expanded = yrs.select("yr", F.explode(F.array(*[
        F.struct(F.lit(i).alias("i"), F.col(f"q{i}").alias("q"))
        for i in range(_W1_GRID)])).alias("e")).select("yr", "e.*")
    a = (expanded.where(F.col("yr") == 1993)
         .select("i", F.col("q").alias("qa")))
    b = (expanded.where(F.col("yr") == 1997)
         .select("i", F.col("q").alias("qb")))
    return (a.join(F.broadcast(b), "i")
            .agg(F.count(F.lit(1)).cast("long").alias("n_grid"),
                 F.round(F.avg(F.abs(F.col("qa") - F.col("qb"))), 4)
                 .alias("wasserstein_1"),
                 F.round(F.max(F.abs(F.col("qa") - F.col("qb"))), 2)
                 .alias("max_quantile_gap"),
                 F.round(F.avg(F.col("qb") - F.col("qa")), 4)
                 .alias("mean_shift")))


# --------------------------------------------------------------------------
# Linear CKA between embedding halves (representation similarity)
# --------------------------------------------------------------------------

@register(
    "q_embed_cka_halves",
    oracle="""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    dims AS (
        SELECT vec_id, r.i AS i, embedding[r.i + 1]::DOUBLE AS x
        FROM base, unnest(range(0, 64)) AS r(i)),
    n_ AS (SELECT COUNT(*) AS n FROM base),
    means AS (SELECT i, AVG(x) AS mu FROM dims GROUP BY i),
    cent AS (
        SELECT d.vec_id, d.i, d.x - m.mu AS x
        FROM dims d JOIN means m USING (i)),
    xh AS (SELECT vec_id, i, x FROM cent WHERE i < 32),
    yh AS (SELECT vec_id, i - 32 AS j, x AS y FROM cent WHERE i >= 32),
    cxy AS (
        SELECT x.i, y.j, SUM(x.x * y.y) AS c
        FROM xh x JOIN yh y USING (vec_id) GROUP BY x.i, y.j),
    cxx AS (
        SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS c
        FROM xh a JOIN xh b USING (vec_id) GROUP BY a.i, b.i),
    cyy AS (
        SELECT a.j AS i, b.j AS j, SUM(a.y * b.y) AS c
        FROM yh a JOIN yh b USING (vec_id) GROUP BY a.j, b.j),
    fro AS (
        SELECT (SELECT SUM(c * c) FROM cxy) AS f_xy,
               (SELECT SUM(c * c) FROM cxx) AS f_xx,
               (SELECT SUM(c * c) FROM cyy) AS f_yy)
    SELECT (SELECT CAST(n AS BIGINT) FROM n_) AS n_vectors,
           ROUND(f_xy / SQRT(f_xx * f_yy), 4) AS linear_cka
    FROM fro
    """,
    doc="Linear CKA (centered kernel alignment) between the first and "
        "last 32 embedding dimensions: ||Xc'Yc||_F^2 normalized by "
        "the self-alignments - the standard representation-similarity "
        "metric (do two halves of the embedding encode the same "
        "geometry?), used to compare checkpoints/layers before "
        "committing to a truncation like the Matryoshka cut next door "
        "(q_embed_matryoshka_recall). Cross-covariances via one "
        "explode + three co-grouped aggregates over (dim_i, dim_j) "
        "cells - cost is n*d^2 products with d FIXED (64), linear in "
        "corpus size, shuffled on the 1024-cell dim-pair key. Rounded "
        "4 dp (covariance summation order is the only cross-engine "
        "difference, ~1e-12 relative).",
)
def q_embed_cka_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("embeddings")
         .where(F.col("vec_id") < 300).select("vec_id", "embedding"))
    dims = (e.select("vec_id", F.posexplode("embedding").alias("i", "xf"))
            .select("vec_id", "i", F.col("xf").cast("double").alias("x")))
    nv = e.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    means = dims.groupBy("i").agg(F.avg("x").alias("mu"))
    cent = (dims.join(F.broadcast(means), "i")
            .select("vec_id", "i", (F.col("x") - F.col("mu")).alias("x")))
    xh = cent.where(F.col("i") < 32).select(
        "vec_id", "i", "x")
    yh = cent.where(F.col("i") >= 32).select(
        "vec_id", (F.col("i") - 32).alias("j"), F.col("x").alias("y"))
    cxy = (xh.join(yh, "vec_id").groupBy("i", "j")
           .agg(F.sum(F.col("x") * F.col("y")).alias("c")))
    xh2 = xh.select("vec_id", F.col("i").alias("j"), F.col("x").alias("y"))
    cxx = (xh.join(xh2, "vec_id").groupBy("i", "j")
           .agg(F.sum(F.col("x") * F.col("y")).alias("c")))
    yh2 = yh.select("vec_id", F.col("j").alias("i"), F.col("y").alias("x"))
    cyy = (yh2.join(yh.select("vec_id", "j", "y"), "vec_id")
           .groupBy("i", "j")
           .agg(F.sum(F.col("x") * F.col("y")).alias("c")))
    f_xy = cxy.agg(F.sum(F.col("c") * F.col("c")).alias("f_xy"))
    f_xx = cxx.agg(F.sum(F.col("c") * F.col("c")).alias("f_xx"))
    f_yy = cyy.agg(F.sum(F.col("c") * F.col("c")).alias("f_yy"))
    return (nv.crossJoin(F.broadcast(f_xy))
            .crossJoin(F.broadcast(f_xx))
            .crossJoin(F.broadcast(f_yy))
            .select("n_vectors",
                    F.round(F.col("f_xy")
                            / F.sqrt(F.col("f_xx") * F.col("f_yy")), 4)
                    .alias("linear_cka")))


# --------------------------------------------------------------------------
# Embedding anisotropy (closed-form mean pairwise cosine)
# --------------------------------------------------------------------------

@register(
    "q_embed_anisotropy",
    oracle="""
    WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    unit AS (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_sum(
                   list_transform(v, y -> y * y)))) AS u
        FROM base),
    n_ AS (SELECT COUNT(*) AS n FROM unit),
    sums AS (
        SELECT r.i + 1 AS i, SUM(u[r.i + 1]) AS s
        FROM unit, unnest(range(0, 64)) AS r(i)
        GROUP BY 1),
    norm2 AS (SELECT SUM(s * s) AS ss FROM sums)
    SELECT CAST(n_.n AS BIGINT) AS n_vectors,
           ROUND((norm2.ss - n_.n) / (n_.n * (n_.n - 1.0)), 6)
               AS mean_pairwise_cosine,
           (ROUND((norm2.ss - n_.n) / (n_.n * (n_.n - 1.0)), 6) > 0.5)
               AS anisotropic
    FROM n_ CROSS JOIN norm2
    """,
    doc="Embedding anisotropy: the mean pairwise cosine over ALL "
        "vector pairs in CLOSED FORM - mean cos = (||Sigma u||^2 - n) "
        "/ (n(n-1)) for unit vectors u, so the n^2 pairwise computation "
        "collapses to one vector sum + one norm: O(n*d), no pair join "
        "at all. High mean cosine is the 'narrow cone' representation "
        "pathology (embeddings bunched in one direction) that degrades "
        "cosine retrieval - the audit to run before shipping an "
        "embedding column to the ANN index family next door. "
        "Normalization and the dim-wise sums are identical IEEE "
        "arithmetic; result rounded 6 dp. The exact plan a 100 TB "
        "corpus needs: one map-side normalize, one 64-cell aggregate.",
)
def q_embed_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("embeddings")
    norm = ("sqrt(aggregate(embedding, 0.0D, "
            "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    unit = e.select(
        "vec_id",
        F.expr(f"transform(embedding, x -> CAST(x AS DOUBLE) / {norm})")
        .alias("u"))
    dims = unit.select(F.posexplode("u").alias("i", "x"))
    sums = dims.groupBy("i").agg(F.sum("x").alias("s"))
    ss = sums.agg(F.sum(F.col("s") * F.col("s")).alias("ss"))
    n = unit.agg(F.count(F.lit(1)).alias("n"))
    mc = (F.col("ss") - F.col("n")) / (F.col("n") * (F.col("n") - F.lit(1.0)))
    return (n.crossJoin(F.broadcast(ss))
            .select(F.col("n").cast("long").alias("n_vectors"),
                    F.round(mc, 6).alias("mean_pairwise_cosine"),
                    (F.round(mc, 6) > 0.5).alias("anisotropic")))


# --------------------------------------------------------------------------
# Permutation test — exact-integer randomization inference
# --------------------------------------------------------------------------

@register(
    "q_stats_permutation_test",
    oracle="""
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               event_type = 'click' AS is_a
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
    sizes AS (
        SELECT COUNT(*) FILTER (WHERE is_a) AS na,
               COUNT(*) FILTER (WHERE NOT is_a) AS nb,
               SUM(cents) AS s,
               SUM(cents) FILTER (WHERE is_a) AS sa
        FROM base),
    obs AS (
        SELECT na, nb,
               sa * nb - (s - sa) * na AS d_obs
        FROM sizes),
    reps AS (
        SELECT b.event_id, b.cents, r.r,
               (1103515245 * (b.event_id * 64 + r.r) + 12345)
                   % 2147483648 AS h
        FROM base b CROSS JOIN (SELECT unnest(range(0, 64)) AS r) r),
    ranked AS (
        SELECT r, cents,
               ROW_NUMBER() OVER (PARTITION BY r ORDER BY h, event_id)
                   AS rn
        FROM reps),
    perm AS (
        SELECT ranked.r,
               SUM(cents) FILTER (WHERE rn <= sizes.na) AS sar
        FROM ranked CROSS JOIN sizes
        GROUP BY ranked.r),
    stat AS (
        SELECT p.r,
               p.sar * o.nb - ((SELECT s FROM sizes) - p.sar) * o.na AS dr
        FROM perm p CROSS JOIN obs o)
    SELECT CAST(o.na AS BIGINT) AS n_a,
           CAST(o.nb AS BIGINT) AS n_b,
           CAST(o.d_obs AS BIGINT) AS d_obs_scaled,
           CAST((SELECT COUNT(*) FROM stat
                 WHERE ABS(dr) >= ABS(o.d_obs)) AS BIGINT) AS n_extreme,
           ROUND((1 + (SELECT COUNT(*) FROM stat
                       WHERE ABS(dr) >= ABS(o.d_obs))) / 65.0, 4)
               AS p_value
    FROM obs o
    """,
    doc="Two-sample permutation test (click vs purchase mean value) with "
        "EXACT integer arithmetic end to end — the distribution-free "
        "significance test that needs no normality assumption. Values "
        "enter as integer cents; the test statistic is the cross-"
        "multiplied mean difference d = s_a*n_b - s_b*n_a (common "
        "denominator n_a*n_b, so comparisons are BIGINT-exact, never "
        "float). 64 label permutations are generated deterministically: "
        "replicate r ranks rows by the 31-bit LCG h(event_id*64+r) and "
        "takes the first n_a ranks as pseudo-group A — both engines "
        "agree bit-for-bit (the [[deterministic cross-engine randomness]] "
        "discipline), so n_extreme is hash-exact, not approximately "
        "equal. p = (1+n_extreme)/(R+1), the add-one Monte-Carlo "
        "estimator. Scale shape: replicate x row fan-out is R*n rows "
        "shuffled once on the replicate key (R independent rank "
        "partitions, no global sort); R is fixed, so cost is linear in "
        "the table.",
)
def q_stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    R = 64
    base = (Catalog(spark, sf_dir).table("events")
            .where(F.col("event_type").isin("click", "purchase")
                   & F.col("value").isNotNull())
            .select("event_id",
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                    (F.col("event_type") == "click").alias("is_a")))
    sizes = base.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("na"),
        F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        F.sum("cents").alias("s"),
        F.sum(F.when(F.col("is_a"), F.col("cents"))).alias("sa"))
    obs = sizes.select(
        "na", "nb", "s",
        (F.col("sa") * F.col("nb")
         - (F.col("s") - F.col("sa")) * F.col("na")).alias("d_obs"))
    reps = (base.select("event_id", "cents")
            .crossJoin(F.broadcast(
                spark.range(R).select(F.col("id").cast("int").alias("r"))))
            .withColumn("h", (F.lit(1103515245)
                              * (F.col("event_id") * R + F.col("r"))
                              + 12345) % F.lit(2147483648)))
    w = Window.partitionBy("r").orderBy("h", "event_id")
    ranked = reps.select("r", "cents", F.row_number().over(w).alias("rn"))
    perm = (ranked.crossJoin(F.broadcast(obs))
            .groupBy("r", "na", "nb", "s", "d_obs")
            .agg(F.sum(F.when(F.col("rn") <= F.col("na"),
                              F.col("cents"))).alias("sar")))
    stat = perm.select(
        "d_obs",
        (F.col("sar") * F.col("nb")
         - (F.col("s") - F.col("sar")) * F.col("na")).alias("dr"))
    ext = (stat.agg(F.sum(F.when(F.abs(F.col("dr"))
                                 >= F.abs(F.col("d_obs")), 1)
                          .otherwise(0)).cast("long").alias("n_extreme")))
    return (obs.crossJoin(F.broadcast(ext))
            .select(F.col("na").cast("long").alias("n_a"),
                    F.col("nb").cast("long").alias("n_b"),
                    F.col("d_obs").cast("long").alias("d_obs_scaled"),
                    "n_extreme",
                    F.round((1 + F.col("n_extreme")) / (R + 1.0), 4)
                    .alias("p_value")))


# --------------------------------------------------------------------------
# Higher central moments — skewness / kurtosis from integer power sums
# --------------------------------------------------------------------------

@register(
    "q_stats_moments",
    oracle="""
    WITH v AS (
        SELECT c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS HUGEINT) AS c
        FROM customer),
    s AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               SUM(c) AS s1, SUM(c * c) AS s2,
               SUM(c * c * c) AS s3, SUM(c * c * c * c) AS s4
        FROM v GROUP BY c_mktsegment),
    m AS (
        SELECT c_mktsegment, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM s),
    cm AS (
        SELECT c_mktsegment, n, mu,
               r2 - mu * mu AS m2,
               r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
               r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu AS m4
        FROM m)
    SELECT c_mktsegment, CAST(n AS BIGINT) AS n_customers,
           ROUND(mu / 100, 2) AS mean_balance,
           ROUND(SQRT(m2) / 100, 2) AS sd_balance,
           ROUND(m3 / POWER(m2, 1.5), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
    FROM cm ORDER BY c_mktsegment
    """,
    doc="Per-segment skewness and excess kurtosis of customer balances "
        "from raw integer power sums — the one-pass, merge-associative "
        "formulation of higher moments (the map-side-combinable shape a "
        "100 TB profiler needs; Welford-style streaming updates don't "
        "distribute, power sums do). Balances enter as integer cents; "
        "S1..S4 accumulate as 128-bit integers (Spark DECIMAL(38,0), "
        "DuckDB HUGEINT — cents^4 ~ 1e24 overflows BIGINT, the classic "
        "silent-overflow trap in naive moment pipelines), so every "
        "aggregate is exact and summation-order-free. Central moments "
        "and the standardized ratios are then derived per group with an "
        "IDENTICAL double expression tree on both engines (exact "
        "integer-sum inputs round to the same doubles), and outputs are "
        "rounded per the registry discipline. Skewness/kurtosis are "
        "scale-invariant, so the cents scaling cancels without any "
        "unit conversion.",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (Catalog(spark, sf_dir).table("customer")
         .select("c_mktsegment",
                 F.round(F.col("c_acctbal") * 100)
                  .cast("decimal(38,0)").alias("c")))
    s = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"))
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    m = s.select("c_mktsegment", F.col("n").cast("long").alias("n_customers"),
                 mu.alias("mu"), (r2 - mu * mu).alias("m2"),
                 (r3 - 3 * mu * r2 + 2 * mu * mu * mu).alias("m3"),
                 (r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu).alias("m4"))
    return (m.select(
        "c_mktsegment", "n_customers",
        F.round(F.col("mu") / 100, 2).alias("mean_balance"),
        F.round(F.sqrt("m2") / 100, 2).alias("sd_balance"),
        F.round(F.col("m3") / F.pow("m2", F.lit(1.5)), 6).alias("skewness"),
        F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6)
         .alias("kurtosis_excess"))
        .orderBy("c_mktsegment"))


# --------------------------------------------------------------------------
# Empirical-Bayes shrinkage — beta-binomial partial pooling of group rates
# --------------------------------------------------------------------------

@register(
    "q_stats_eb_shrinkage",
    oracle="""
    WITH g AS (
        SELECT c_nationkey,
               COUNT(*) AS n,
               SUM(CASE WHEN o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS k
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey),
    rates AS (SELECT c_nationkey, n, k,
                     CAST(k AS DOUBLE) / n AS raw FROM g),
    mom AS (
        SELECT AVG(raw) AS m,
               SUM((raw - (SELECT AVG(raw) FROM rates))
                   * (raw - (SELECT AVG(raw) FROM rates)))
                   / COUNT(*) AS v
        FROM rates),
    prior AS (
        SELECT m, v, m * (1 - m) / v - 1 AS s FROM mom)
    SELECT r.c_nationkey, CAST(r.n AS BIGINT) AS n_orders,
           CAST(r.k AS BIGINT) AS n_urgent,
           ROUND(r.raw, 6) AS raw_rate,
           ROUND((r.k + p.m * p.s) / (r.n + p.s), 6) AS shrunk_rate,
           ROUND(r.n / (r.n + p.s), 6) AS shrink_weight,
           ROUND(p.m, 6) AS prior_mean
    FROM rates r CROSS JOIN prior p
    ORDER BY r.c_nationkey
    """,
    doc="Empirical-Bayes (beta-binomial) shrinkage of per-nation urgent-"
        "order rates — James-Stein-style partial pooling, the estimator "
        "every multi-segment dashboard should use instead of raw "
        "per-group rates (small groups get pulled toward the prior "
        "mean, large groups keep their data; the shrink_weight column "
        "n/(n+s) makes the pooling explicit). Prior (alpha, beta) fit "
        "by method of moments on the group-rate distribution: "
        "s = alpha+beta = m(1-m)/v - 1 from the mean/variance of raw "
        "rates, shrunk_i = (k_i + m*s)/(n_i + s). All counts integer-"
        "exact; the double derivation is the same expression tree on "
        "both engines and rounds at 6 dp. Scale shape: one grouped "
        "aggregate over the fact join, one 25-row moment pass, one "
        "broadcast back — the prior fit costs O(groups), not O(rows).",
)
def q_stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    g = (c.table("orders")
         .join(F.broadcast(c.table("customer")
                           .select("c_custkey", "c_nationkey")),
               F.col("o_custkey") == F.col("c_custkey"))
         .groupBy("c_nationkey")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                    .otherwise(0)).alias("k")))
    rates = (g.select("c_nationkey", "n", "k",
                      (F.col("k").cast("double") / F.col("n")).alias("raw"))
             .localCheckpoint(eager=False))
    m_df = rates.agg(F.avg("raw").alias("m"))
    mom = (rates.crossJoin(F.broadcast(m_df))
           .agg(F.first("m").alias("m"),
                (F.sum((F.col("raw") - F.col("m"))
                       * (F.col("raw") - F.col("m")))
                 / F.count(F.lit(1))).alias("v")))
    prior = mom.select(
        "m", (F.col("m") * (1 - F.col("m")) / F.col("v") - 1).alias("s"))
    return (rates.crossJoin(F.broadcast(prior))
            .select("c_nationkey",
                    F.col("n").cast("long").alias("n_orders"),
                    F.col("k").cast("long").alias("n_urgent"),
                    F.round("raw", 6).alias("raw_rate"),
                    F.round((F.col("k") + F.col("m") * F.col("s"))
                            / (F.col("n") + F.col("s")), 6)
                    .alias("shrunk_rate"),
                    F.round(F.col("n") / (F.col("n") + F.col("s")), 6)
                    .alias("shrink_weight"),
                    F.round("m", 6).alias("prior_mean"))
            .orderBy("c_nationkey"))


# --------------------------------------------------------------------------
# Weight of Evidence / Information Value — the credit-scoring feature audit
# --------------------------------------------------------------------------

@register(
    "q_feature_woe_iv",
    oracle="""
    WITH base AS (
        SELECT LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                     // 5000000, 9) AS bin,
               o_orderstatus = 'F' AS bad
        FROM orders),
    cells AS (
        SELECT bin,
               SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS g,
               SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS b
        FROM base GROUP BY bin),
    tot AS (SELECT SUM(g) AS gt, SUM(b) AS bt FROM cells),
    woe AS (
        SELECT c.bin, c.g, c.b,
               (c.g + 0.5) / t.gt AS gs,
               (c.b + 0.5) / t.bt AS bs
        FROM cells c CROSS JOIN tot t)
    SELECT CAST(bin AS INT) AS bin,
           CAST(g AS BIGINT) AS n_good,
           CAST(b AS BIGINT) AS n_bad,
           ROUND(LN(gs / bs), 6) AS woe,
           ROUND((gs - bs) * LN(gs / bs), 6) AS iv_contribution,
           ROUND((SELECT SUM((gs2 - bs2) * LN(gs2 / bs2))
                  FROM (SELECT (g + 0.5) / (SELECT gt FROM tot) AS gs2,
                               (b + 0.5) / (SELECT bt FROM tot) AS bs2
                        FROM cells)), 6) AS iv_total
    FROM woe ORDER BY bin
    """,
    doc="Weight of Evidence / Information Value — the standard "
        "scorecard audit of how much a binned feature separates a "
        "binary outcome (IV < 0.02 useless, 0.1-0.3 medium, > 0.5 "
        "suspicious/leaky — the thresholds risk teams actually apply "
        "before a feature ships). Feature = order price in fixed $50k "
        "bins (BIGINT cents // width, bit-exact binning on both "
        "engines — no quantile binning, which would need a global "
        "sort); outcome = finished status. Counts are integers; the "
        "0.5 Laplace guard is a dyadic literal, so the share ratios "
        "are identical doubles and LN rounds at 6 dp. Scale shape: "
        "one scan -> 10-cell aggregate -> broadcast totals; IV is a "
        "fold over the 10 cells. Complements q_feature_mutual_"
        "information (MI is symmetric/model-free; WoE/IV is the "
        "logistic-regression-aligned, sign-carrying version).",
)
def q_feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cells = (o.select(
        F.least(F.floor(cents / 5000000), F.lit(9)).cast("long").alias("bin"),
        (F.col("o_orderstatus") == "F").alias("bad"))
        .groupBy("bin")
        .agg(F.sum(F.when(F.col("bad"), 0).otherwise(1)).alias("g"),
             F.sum(F.when(F.col("bad"), 1).otherwise(0)).alias("b"))
        .localCheckpoint(eager=False))
    tot = cells.agg(F.sum("g").alias("gt"), F.sum("b").alias("bt"))
    woe = (cells.crossJoin(F.broadcast(tot))
           .select("bin", "g", "b",
                   ((F.col("g") + 0.5) / F.col("gt")).alias("gs"),
                   ((F.col("b") + 0.5) / F.col("bt")).alias("bs")))
    iv_tot = (woe.agg(F.round(F.sum((F.col("gs") - F.col("bs"))
                              * F.log(F.col("gs") / F.col("bs"))), 6)
                      .alias("iv_total")))
    return (woe.crossJoin(F.broadcast(iv_tot))
            .select(F.col("bin").cast("int").alias("bin"),
                    F.col("g").cast("long").alias("n_good"),
                    F.col("b").cast("long").alias("n_bad"),
                    F.round(F.log(F.col("gs") / F.col("bs")), 6)
                     .alias("woe"),
                    F.round((F.col("gs") - F.col("bs"))
                            * F.log(F.col("gs") / F.col("bs")), 6)
                     .alias("iv_contribution"),
                    "iv_total")
            .orderBy("bin"))


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test — randomness of a binary sequence per group
# --------------------------------------------------------------------------

@register(
    "q_stats_runs_test",
    oracle="""
    WITH seq AS (
        SELECT c.c_nationkey,
               (o.o_orderpriority = '1-URGENT') AS flag,
               CASE WHEN (o.o_orderpriority = '1-URGENT')
                    <> (LAG(o.o_orderpriority = '1-URGENT') OVER w)
                    THEN 1 ELSE 0 END AS brk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey < 8
        WINDOW w AS (PARTITION BY c.c_nationkey
                     ORDER BY o.o_orderdate, o.o_orderkey)),
    g AS (
        SELECT c_nationkey,
               SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN flag THEN 0 ELSE 1 END) AS n2,
               1 + SUM(COALESCE(brk, 0)) AS runs
        FROM seq GROUP BY c_nationkey),
    z AS (
        SELECT c_nationkey, n1, n2, runs,
               1 + 2.0 * n1 * n2 / (n1 + n2) AS mu,
               2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                   / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) AS var
        FROM g)
    SELECT c_nationkey, CAST(n1 AS BIGINT) AS n_urgent,
           CAST(n2 AS BIGINT) AS n_other, CAST(runs AS BIGINT) AS runs,
           ROUND(mu, 4) AS expected_runs,
           ROUND((runs - mu) / SQRT(var), 4) AS z,
           ABS((runs - mu) / SQRT(var)) < 1.96 AS looks_random
    FROM z ORDER BY c_nationkey
    """,
    doc="Wald-Wolfowitz runs test per nation: is the date-ordered "
        "sequence of urgent-order flags serially random, or does "
        "urgency cluster in time (batching, campaign effects, feed "
        "replays)? The data-quality screen that catches ORDERING "
        "pathologies aggregate rates cannot see. Runs = 1 + number of "
        "flag changes along the (orderdate, orderkey)-ordered per-"
        "nation sequence — a LAG over a PARTITIONED window (bounded "
        "groups, no global sort). n1/n2/runs are exact integers; the "
        "normal approximation mu/sigma is the same closed-form double "
        "expression on both engines, rounded at 4 dp. |z| < 1.96 "
        "accepts randomness at the 5% level.",
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    j = (c.table("orders")
         .join(F.broadcast(c.table("customer")
                           .where(F.col("c_nationkey") < 8)
                           .select("c_custkey", "c_nationkey")),
               F.col("o_custkey") == F.col("c_custkey")))
    w = Window.partitionBy("c_nationkey").orderBy("o_orderdate",
                                                  "o_orderkey")
    flag = (F.col("o_orderpriority") == "1-URGENT")
    seq = j.select(
        "c_nationkey", flag.alias("flag"),
        F.when(flag != F.lag(flag).over(w), 1).otherwise(0).alias("brk"))
    g = (seq.groupBy("c_nationkey")
         .agg(F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n1"),
              F.sum(F.when(F.col("flag"), 0).otherwise(1)).alias("n2"),
              (1 + F.sum(F.coalesce(F.col("brk"), F.lit(0))))
              .alias("runs")))
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    mu = 1 + 2.0 * n1 * n2 / (n1 + n2)
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
           / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
    z = (runs - mu) / F.sqrt(var)
    return (g.select("c_nationkey",
                     n1.cast("long").alias("n_urgent"),
                     n2.cast("long").alias("n_other"),
                     runs.cast("long").alias("runs"),
                     F.round(mu, 4).alias("expected_runs"),
                     F.round(z, 4).alias("z"),
                     (F.abs(z) < 1.96).alias("looks_random"))
            .orderBy("c_nationkey"))


# --------------------------------------------------------------------------
# Cramér's V — effect size for categorical association
# --------------------------------------------------------------------------

def _segment_priority_table(spark: SparkSession, sf_dir: str):
    """The market-segment x order-priority contingency table: cells
    (seg, pri, o), row sums (seg, r), column sums (pri, c) and the
    1-row total (n). The cells are checkpointed: every marginal and
    the test statistic read them."""
    c = Catalog(spark, sf_dir)
    j = (c.table("orders")
         .join(F.broadcast(c.table("customer")
                           .select("c_custkey", "c_mktsegment")),
               F.col("o_custkey") == F.col("c_custkey"))
         .select(F.col("c_mktsegment").alias("seg"),
                 F.col("o_orderpriority").alias("pri")))
    cell = (j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
            .localCheckpoint(eager=False))
    rs = cell.groupBy("seg").agg(F.sum("o").alias("r"))
    cs = cell.groupBy("pri").agg(F.sum("o").alias("c"))
    n_ = cell.agg(F.sum("o").alias("n"))
    return cell, rs, cs, n_


@register(
    "q_stats_cramers_v",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY seg, pri),
    rs AS (SELECT seg, SUM(o) AS r FROM cell GROUP BY seg),
    cs AS (SELECT pri, SUM(o) AS c FROM cell GROUP BY pri),
    n_ AS (SELECT SUM(o) AS n FROM cell),
    chi AS (
        SELECT SUM((cell.o - rs.r * cs.c * 1.0 / n_.n)
                   * (cell.o - rs.r * cs.c * 1.0 / n_.n)
                   / (rs.r * cs.c * 1.0 / n_.n)) AS chi2
        FROM cell JOIN rs USING (seg) JOIN cs USING (pri)
        CROSS JOIN n_),
    dims AS (SELECT (SELECT COUNT(*) FROM rs) AS r,
                    (SELECT COUNT(*) FROM cs) AS c)
    SELECT CAST(n AS BIGINT) AS n,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(chi2, 4) AS chi2,
           ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
    FROM chi, dims, n_
    """,
    doc="Cramér's V for the market-segment x order-priority "
        "contingency table — the normalized effect size the chi-square "
        "family needs at scale: chi2 grows with n (q_events_chi_squared "
        "will reject ANY association on a 100 TB table), while "
        "V = sqrt(chi2 / (n * min(r-1, c-1))) stays in [0,1] and "
        "answers whether the association MATTERS. Cell/marginal counts "
        "are exact integers from one join-aggregate; expected counts "
        "and the ratio are the identical closed-form double tree on "
        "both engines. One shuffle on (seg, pri) — the contingency "
        "table is r*c cells of aggregate state regardless of row "
        "count.",
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell, rs, cs, n_ = _segment_priority_table(spark, sf_dir)
    exp = F.col("r") * F.col("c") * 1.0 / F.col("n")
    chi = (cell.join(F.broadcast(rs), "seg").join(F.broadcast(cs), "pri")
           .crossJoin(F.broadcast(n_))
           .agg(F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp)
                .alias("chi2")))
    dims = (rs.agg(F.count(F.lit(1)).alias("nr"))
            .crossJoin(F.broadcast(cs.agg(F.count(F.lit(1)).alias("nc")))))
    return (chi.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(n_))
            .select(F.col("n").cast("long").alias("n"),
                    ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long")
                     .alias("dof"),
                    F.round("chi2", 4).alias("chi2"),
                    F.round(F.sqrt(F.col("chi2")
                                   / (F.col("n")
                                      * F.least(F.col("nr") - 1,
                                                F.col("nc") - 1))), 6)
                     .alias("cramers_v")))


# --------------------------------------------------------------------------
# Hill tail-index estimator — how heavy is the heavy tail?
# --------------------------------------------------------------------------

@register(
    "q_stats_hill_tail",
    oracle="""
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
        FROM orders),
    topk AS (
        SELECT c FROM cents ORDER BY c DESC, o_orderkey LIMIT 100),
    xmin AS (SELECT MIN(c) AS xm FROM topk),
    h AS (
        SELECT COUNT(*) AS k,
               SUM(LN(CAST(t.c AS DOUBLE) / x.xm)) AS s
        FROM topk t CROSS JOIN xmin x
        WHERE t.c > x.xm),
    est AS (
        SELECT (SELECT xm FROM xmin) AS xm, k,
               s / k AS inv_alpha
        FROM h)
    SELECT CAST(xm AS BIGINT) AS x_min_cents,
           CAST(k AS BIGINT) AS k_exceedances,
           ROUND(1.0 / inv_alpha, 4) AS hill_alpha,
           ROUND(inv_alpha, 6) AS mean_log_excess,
           1.0 / inv_alpha <= 2.0 AS infinite_variance_regime
    FROM est
    """,
    doc="Hill estimator of the Pareto tail index over the top-100 "
        "order values: alpha_hat = 1 / mean(ln(x_i / x_min)) for the "
        "k exceedances above the 100th order statistic — the standard "
        "heavy-tail diagnostic (alpha <= 2 means infinite variance: "
        "means still converge but sample variances never stabilize, "
        "the regime where mean-based dashboards silently lie and "
        "medians/trimmed means are mandatory). Pairs with the Zipf "
        "fit (rank-frequency view) and the Gini/HHI concentration "
        "battery. The only global ordering is a top-k "
        "(TakeOrderedAndProject with an explicit total-order "
        "tie-break, so both engines select the identical value "
        "multiset — never a full sort); values are integer cents and "
        "the log-ratio sum is order-insensitive to 4-dp rounding.",
)
def q_stats_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    cents = o.select(F.round(F.col("o_totalprice") * 100).cast("long")
                     .alias("c"), "o_orderkey")
    topk = (cents.orderBy(F.desc("c"), "o_orderkey").limit(100)
            .select("c").localCheckpoint(eager=False))
    xmin = topk.agg(F.min("c").alias("xm"))
    h = (topk.crossJoin(F.broadcast(xmin))
         .where(F.col("c") > F.col("xm"))
         .agg(F.count(F.lit(1)).alias("k"),
              F.sum(F.log(F.col("c").cast("double") / F.col("xm")))
              .alias("s"),
              F.first("xm").alias("xm")))
    inv = F.col("s") / F.col("k")
    return h.select(
        F.col("xm").cast("long").alias("x_min_cents"),
        F.col("k").cast("long").alias("k_exceedances"),
        F.round(1.0 / inv, 4).alias("hill_alpha"),
        F.round(inv, 6).alias("mean_log_excess"),
        (1.0 / inv <= 2.0).alias("infinite_variance_regime"))


# --------------------------------------------------------------------------
# Mann–Kendall trend test — the significance companion to Theil–Sen
# --------------------------------------------------------------------------

@register(
    "q_stats_mann_kendall",
    oracle="""
    WITH mo AS (
        SELECT event_type,
               epoch_us(ts) // 86400000000 AS m,
               COUNT(*) AS c
        FROM events GROUP BY event_type, m),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN b.c > a.c THEN 1
                    WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
        FROM mo a JOIN mo b
          ON a.event_type = b.event_type AND b.m > a.m),
    g AS (
        SELECT event_type,
               SUM(sgn) AS s,
               (SELECT COUNT(*) FROM mo m2
                WHERE m2.event_type = pairs.event_type) AS n
        FROM pairs GROUP BY event_type),
    z AS (
        SELECT event_type, s, n,
               n * (n - 1.0) * (2.0 * n + 5.0) / 18.0 AS var
        FROM g)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_statistic,
           ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(var)
                      WHEN s < 0 THEN (s + 1) / SQRT(var)
                      ELSE 0.0 END, 4) AS z,
           ABS(CASE WHEN s > 0 THEN (s - 1) / SQRT(var)
                    WHEN s < 0 THEN (s + 1) / SQRT(var)
                    ELSE 0.0 END) >= 1.96 AS significant_trend
    FROM z ORDER BY event_type
    """,
    doc="Mann-Kendall trend test per event type over the DAILY count "
        "series — the distribution-free significance test that pairs "
        "with Theil-Sen (q_orders_theil_sen_trend estimates the slope; "
        "MK says whether a monotone trend exists at all, robust to "
        "outliers and any monotone transform of the values). "
        "S = sum of pairwise later-minus-earlier signs (exact integer "
        "via the bounded per-series day x day self-join — the series "
        "is days-long, so the quadratic pair count is ~30^2 per type, "
        "nothing to do with event volume); "
        "var(S) = n(n-1)(2n+5)/18 (no-ties form; counts here are "
        "effectively tie-free), continuity-corrected z. Everything up "
        "to the final z is integer-exact.",
)
def q_stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    mo = (e.select("event_type",
                   F.expr("unix_micros(ts) div 86400000000").alias("m"))
          .groupBy("event_type", "m").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint(eager=False))
    b = mo.select(F.col("event_type").alias("et2"),
                  F.col("m").alias("m2"), F.col("c").alias("c2"))
    pairs = (mo.join(F.broadcast(b),
                     (F.col("event_type") == F.col("et2"))
                     & (F.col("m2") > F.col("m")))
             .select("event_type",
                     F.when(F.col("c2") > F.col("c"), 1)
                      .when(F.col("c2") < F.col("c"), -1)
                      .otherwise(0).alias("sgn")))
    nper = mo.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    g = (pairs.groupBy("event_type").agg(F.sum("sgn").alias("s"))
         .join(F.broadcast(nper), "event_type"))
    var = (F.col("n") * (F.col("n") - 1.0)
           * (2.0 * F.col("n") + 5.0) / 18.0)
    z = (F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
          .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
          .otherwise(F.lit(0.0)))
    return (g.select("event_type",
                     F.col("n").cast("long").alias("n_days"),
                     F.col("s").cast("long").alias("s_statistic"),
                     F.round(z, 4).alias("z"),
                     (F.abs(z) >= 1.96).alias("significant_trend"))
            .orderBy("event_type"))


# --------------------------------------------------------------------------
# Kendall's tau — rank concordance between two daily series
# --------------------------------------------------------------------------

def _daily_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x, y): click and purchase counts per day, the paired series
    the rank and sign tests compare."""
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("event_type").isin("click", "purchase")))
    return (e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"),
                     "event_type")
            .groupBy("day")
            .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                       .otherwise(0)).alias("x"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("y")))


@register(
    "q_stats_kendall_tau",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY day),
    p AS (
        SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END
                   AS con,
               CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END
                   AS dis
        FROM d a JOIN d b ON b.day > a.day),
    g AS (SELECT SUM(con) AS c, SUM(dis) AS dd, COUNT(*) AS np FROM p),
    n_ AS (SELECT COUNT(*) AS n FROM d)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(c AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           CAST(np - c - dd AS BIGINT) AS tied,
           ROUND((c - dd)::DOUBLE / np, 6) AS kendall_tau_a,
           ROUND((c - dd)::DOUBLE
                 / SQRT(n * (n - 1.0) * (2 * n + 5.0) / 18.0), 4) AS z
    FROM g, n_
    """,
    doc="Kendall's tau-a between the daily click and purchase count "
        "series — the rank-concordance complement to the Pearson "
        "cross-correlation (q_events_cross_correlation at lag 0): "
        "tau sees any monotone co-movement and one outlier day cannot "
        "move it. Concordant/discordant/tied pair counts are exact "
        "integers from the bounded day x day self-join (quadratic in "
        "DAYS — ~30^2 — independent of event volume, the Mann-Kendall "
        "shape); tau-a = (C-D) / n(n-1)/2 and the normal z use the "
        "same closed form on both engines. S = C-D shares its null "
        "variance n(n-1)(2n+5)/18 with Mann-Kendall — MK is exactly "
        "Kendall's tau of series vs time.",
)
def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_clicks_purchases(spark, sf_dir).localCheckpoint(eager=False)
    b = d.select(F.col("day").alias("d2"), F.col("x").alias("x2"),
                 F.col("y").alias("y2"))
    prod = (F.col("x2") - F.col("x")) * (F.col("y2") - F.col("y"))
    g = (d.join(F.broadcast(b), F.col("d2") > F.col("day"))
         .agg(F.sum(F.when(prod > 0, 1).otherwise(0)).alias("c"),
              F.sum(F.when(prod < 0, 1).otherwise(0)).alias("dd"),
              F.count(F.lit(1)).alias("np")))
    n_ = d.agg(F.count(F.lit(1)).alias("n"))
    j = g.crossJoin(F.broadcast(n_))
    s = (F.col("c") - F.col("dd")).cast("double")
    var = (F.col("n") * (F.col("n") - 1.0)
           * (2 * F.col("n") + 5.0) / 18.0)
    return j.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("c").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        (F.col("np") - F.col("c") - F.col("dd")).cast("long").alias("tied"),
        F.round(s / F.col("np"), 6).alias("kendall_tau_a"),
        F.round(s / F.sqrt(var), 4).alias("z"))


# --------------------------------------------------------------------------
# TOST equivalence test — proving "no meaningful difference"
# --------------------------------------------------------------------------

def _purchase_arm_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1 row (na, nb, ma, mb, va, vb): purchase count, mean and sample
    variance of the purchase value in cents per arm (a = odd user_id),
    from BIGINT power sums."""
    base = (Catalog(spark, sf_dir).table("events")
            .where((F.col("event_type") == "purchase")
                   & F.col("value").isNotNull())
            .select(F.when(F.col("user_id") % 2 == 1, "a")
                    .otherwise("b").alias("arm"),
                    F.round(F.col("value") * 100).cast("long")
                    .alias("cents")))
    g = base.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"))
    mean = F.col("s1").cast("double") / F.col("n")
    var = ((F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
           / (F.col("n") - 1))
    return g.agg(
        F.max(F.when(F.col("arm") == "a", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "b", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "a", mean)).alias("ma"),
        F.max(F.when(F.col("arm") == "b", mean)).alias("mb"),
        F.max(F.when(F.col("arm") == "a", var)).alias("va"),
        F.max(F.when(F.col("arm") == "b", var)).alias("vb"))


@register(
    "q_stats_tost_equivalence",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS arm,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
    g AS (
        SELECT arm, COUNT(*) AS n, SUM(cents) AS s1,
               SUM(cents * cents) AS s2
        FROM base GROUP BY arm),
    w AS (
        SELECT
            MAX(CASE WHEN arm = 'a' THEN n END) AS na,
            MAX(CASE WHEN arm = 'b' THEN n END) AS nb,
            MAX(CASE WHEN arm = 'a' THEN CAST(s1 AS DOUBLE) / n END) AS ma,
            MAX(CASE WHEN arm = 'b' THEN CAST(s1 AS DOUBLE) / n END) AS mb,
            MAX(CASE WHEN arm = 'a' THEN
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) END) AS va,
            MAX(CASE WHEN arm = 'b' THEN
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) END) AS vb
        FROM g),
    t AS (
        SELECT na, nb, ma, mb,
               (ma - mb) / 100.0 AS diff_dollars,
               SQRT(va / na + vb / nb) / 100.0 AS se_dollars,
               0.05 * ((ma + mb) / 2.0) / 100.0 AS margin_dollars
        FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(diff_dollars, 4) AS diff,
           ROUND(margin_dollars, 4) AS margin,
           ROUND((diff_dollars + margin_dollars) / se_dollars, 4)
               AS t_lower,
           ROUND((diff_dollars - margin_dollars) / se_dollars, 4)
               AS t_upper,
           (diff_dollars + margin_dollars) / se_dollars >= 1.6449
               AND (diff_dollars - margin_dollars) / se_dollars <= -1.6449
               AS equivalent_at_5pct
    FROM t
    """,
    doc="TOST (two one-sided tests) equivalence test on purchase value "
        "between the deterministic A/B arms — the procedure that can "
        "PROVE 'no meaningful difference', which a non-significant "
        "t-test never does (absence of evidence != evidence of "
        "absence; TOST is the FDA-bioequivalence standard and the "
        "right readout for do-no-harm launches and infra migrations). "
        "Equivalence margin = ±5% of the pooled mean; both one-sided "
        "Welch statistics must clear z_0.95 = 1.6449. Per-arm moments "
        "come from BIGINT cents power sums (order-free), the Welch SE "
        "and both t's are one closed-form double tree. Complements "
        "q_events_ab_ttest (difference testing) and q_events_ab_srm "
        "(assignment integrity).",
)
def q_stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _purchase_arm_moments(spark, sf_dir)
    diff = (F.col("ma") - F.col("mb")) / 100.0
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb")) / 100.0
    margin = 0.05 * ((F.col("ma") + F.col("mb")) / 2.0) / 100.0
    tl = (diff + margin) / se
    tu = (diff - margin) / se
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(diff, 4).alias("diff"),
        F.round(margin, 4).alias("margin"),
        F.round(tl, 4).alias("t_lower"),
        F.round(tu, 4).alias("t_upper"),
        ((tl >= 1.6449) & (tu <= -1.6449)).alias("equivalent_at_5pct"))


# --------------------------------------------------------------------------
# Gumbel block maxima — extreme-value sizing from daily peaks
# --------------------------------------------------------------------------

@register(
    "q_stats_gumbel_maxima",
    oracle="""
    WITH v AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
    mx AS (SELECT day, MAX(cents) AS m FROM v GROUP BY day),
    s AS (
        SELECT COUNT(*) AS n, SUM(m) AS s1, SUM(m * m) AS s2 FROM mx),
    fit AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mean,
               SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                    / (n - 1)) AS sd
        FROM s),
    p AS (
        SELECT n, mean, sd,
               sd * SQRT(6.0) / PI() AS beta,
               mean - 0.5772156649015329 * (sd * SQRT(6.0) / PI()) AS mu
        FROM fit)
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(mean / 100, 2) AS mean_daily_max,
           ROUND(mu / 100, 4) AS gumbel_mu,
           ROUND(beta / 100, 4) AS gumbel_beta,
           ROUND((mu - beta * LN(-LN(1 - 1.0 / 30))) / 100, 2)
               AS return_level_30d,
           ROUND((mu - beta * LN(-LN(1 - 1.0 / 365))) / 100, 2)
               AS return_level_365d
    FROM p
    """,
    doc="Gumbel extreme-value fit on DAILY block maxima of event value "
        "(method of moments: beta = sd*sqrt(6)/pi, mu = mean - "
        "gamma*beta) with 30-day and 365-day return levels — the "
        "capacity-planning number ('the largest value we should expect "
        "in a year') that no mean/percentile dashboard provides; the "
        "block-maxima complement to the Hill tail index (Hill: how "
        "heavy is the tail; Gumbel: how big do PERIOD PEAKS get). "
        "Block maxima and their power sums are exact integers (cents); "
        "the fit and the return-level quantile mu - beta*ln(-ln(1-1/T)) "
        "are one closed-form double tree on both engines. One "
        "(day)-keyed max + one 3-counter fold — scale-free.",
)
def q_stats_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    mx = (e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"),
                   F.round(F.col("value") * 100).cast("long")
                   .alias("cents"))
          .groupBy("day").agg(F.max("cents").alias("m")))
    s = mx.agg(F.count(F.lit(1)).alias("n"),
               F.sum("m").alias("s1"),
               F.sum(F.col("m") * F.col("m")).alias("s2"))
    n = F.col("n")
    mean = F.col("s1").cast("double") / n
    sd = F.sqrt((F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1") / n)
                / (n - 1))
    beta = sd * math.sqrt(6.0) / math.pi
    mu = mean - 0.5772156649015329 * beta

    def rl(days: int):
        return (mu - beta * F.log(-F.log(F.lit(1 - 1.0 / days)))) / 100

    return s.select(
        n.cast("long").alias("n_days"),
        F.round(mean / 100, 2).alias("mean_daily_max"),
        F.round(mu / 100, 4).alias("gumbel_mu"),
        F.round(beta / 100, 4).alias("gumbel_beta"),
        F.round(rl(30), 2).alias("return_level_30d"),
        F.round(rl(365), 2).alias("return_level_365d"))


# --------------------------------------------------------------------------
# Fisher's exact test — small-cell significance without asymptotics
# --------------------------------------------------------------------------

_LNF_SQL = ("COALESCE(list_sum(list_transform(range(2, CAST(({n})"
            " + 1 AS BIGINT)), x -> ln(CAST(x AS DOUBLE)))), 0.0)")
_LNF_SPARK = ("(CASE WHEN ({n}) < 2 THEN 0.0D ELSE "
              "aggregate(sequence(2, CAST({n} AS INT)), 0.0D, "
              "(acc, x) -> acc + ln(CAST(x AS DOUBLE))) END)")


def _lnc(lnf: str, a: str, b: str) -> str:
    return (f"({lnf.format(n=a)} - {lnf.format(n=b)}"
            f" - {lnf.format(n=f'({a}) - ({b})')})")


def _user_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(arm, s): one row per user, arm a (odd user_id) or b, s = 1 if the
    user ever purchased."""
    e = Catalog(spark, sf_dir).table("events")
    return (e.groupBy("user_id")
            .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("s"))
            .select(F.when(F.col("user_id") % 2 == 1, "a")
                    .otherwise("b").alias("arm"), "s"))


@register(
    "q_stats_fisher_exact",
    oracle=f"""
    WITH conv AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS s
        FROM events GROUP BY user_id),
    c AS (
        SELECT COUNT(*) AS nn,
               SUM(CASE WHEN arm = 'a' THEN 1 ELSE 0 END) AS na,
               SUM(s) AS kk,
               SUM(CASE WHEN arm = 'a' THEN s ELSE 0 END) AS ka
        FROM conv),
    sup AS (
        SELECT nn, na, kk, ka,
               UNNEST(range(CAST(GREATEST(0, na - (nn - kk)) AS BIGINT),
                            CAST(LEAST(na, kk) + 1 AS BIGINT))) AS k
        FROM c),
    lp AS (
        SELECT nn, na, kk, ka, k,
               {_lnc(_LNF_SQL, 'kk', 'k')}
               + {_lnc(_LNF_SQL, 'nn - kk', 'na - k')}
               - {_lnc(_LNF_SQL, 'nn', 'na')} AS lnp
        FROM sup),
    obs AS (SELECT lnp AS lnp_obs FROM lp WHERE k = ka)
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nn - na) AS BIGINT) AS n_b,
           CAST(MAX(ka) AS BIGINT) AS k_a,
           CAST(MAX(kk - ka) AS BIGINT) AS k_b,
           ROUND(SUM(CASE WHEN lnp <= (SELECT lnp_obs FROM obs) + 1e-9
                          THEN EXP(lnp) ELSE 0.0 END), 6)
               AS p_two_sided,
           SUM(CASE WHEN lnp <= (SELECT lnp_obs FROM obs) + 1e-9
                    THEN EXP(lnp) ELSE 0.0 END) < 0.05
               AS significant_at_5pct
    FROM lp
    """,
    doc="Fisher's EXACT test on the arm x converted 2x2 table (per-user "
        "purchase conversion under the deterministic A/B split) — the "
        "small-cell companion to the chi-square battery: no asymptotic "
        "approximation, valid at any cell size, the test regulators "
        "ask for when a variant has a handful of conversions. "
        "Hypergeometric ln p(k) over the full support from "
        "ln-factorials computed as the IDENTICAL sequential "
        "Sigma ln k fold on both engines (Spark aggregate(sequence), "
        "DuckDB list_sum(list_transform(range)) — same order, "
        "bit-identical doubles, so the two-sided 'as extreme as "
        "observed' comparison is exact, not epsilon-lucky). Work is "
        "O(support * N) ln terms on ONE broadcast row of counts — "
        "corpus scale only touches the per-user group-by.",
)
def q_stats_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = _user_conversions(spark, sf_dir)
    c = conv.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum(F.when(F.col("arm") == "a", 1).otherwise(0)).alias("na"),
        F.sum("s").alias("kk"),
        F.sum(F.when(F.col("arm") == "a", F.col("s")).otherwise(0))
         .alias("ka"))
    sup = c.select(
        "nn", "na", "kk", "ka",
        F.explode(F.expr(
            "sequence(CAST(greatest(0, na - (nn - kk)) AS INT), "
            "CAST(least(na, kk) AS INT))")).alias("k"))
    lnp = F.expr(
        _lnc(_LNF_SPARK, "kk", "k")
        + " + " + _lnc(_LNF_SPARK, "nn - kk", "na - k")
        + " - " + _lnc(_LNF_SPARK, "nn", "na"))
    lp = sup.withColumn("lnp", lnp).localCheckpoint(eager=False)
    obs = (lp.where(F.col("k") == F.col("ka"))
           .select(F.col("lnp").alias("lnp_obs")))
    p = (lp.crossJoin(F.broadcast(obs))
         .agg(F.max("na").cast("long").alias("n_a"),
              F.max(F.col("nn") - F.col("na")).cast("long").alias("n_b"),
              F.max("ka").cast("long").alias("k_a"),
              F.max(F.col("kk") - F.col("ka")).cast("long").alias("k_b"),
              F.sum(F.when(F.col("lnp") <= F.col("lnp_obs") + 1e-9,
                           F.exp("lnp")).otherwise(0.0)).alias("pv")))
    return p.select("n_a", "n_b", "k_a", "k_b",
                    F.round("pv", 6).alias("p_two_sided"),
                    (F.col("pv") < 0.05).alias("significant_at_5pct"))


# --------------------------------------------------------------------------
# Exact sign test — paired comparison with zero distributional assumptions
# --------------------------------------------------------------------------

@register(
    "q_stats_sign_test",
    oracle=f"""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY day),
    s AS (
        SELECT SUM(CASE WHEN x > y THEN 1 ELSE 0 END) AS plus,
               SUM(CASE WHEN x < y THEN 1 ELSE 0 END) AS minus
        FROM d),
    kk AS (
        SELECT plus, minus, plus + minus AS m,
               LEAST(plus, minus) AS tail
        FROM s),
    terms AS (
        SELECT plus, minus, m, tail,
               UNNEST(range(0, CAST(tail + 1 AS BIGINT))) AS k
        FROM kk),
    p AS (
        SELECT MAX(plus) AS plus, MAX(minus) AS minus, MAX(m) AS m,
               SUM(EXP({_lnc(_LNF_SQL, 'm', 'k')}
                       - m * LN(2.0))) AS one_tail
        FROM terms)
    SELECT CAST(plus AS BIGINT) AS days_clicks_win,
           CAST(minus AS BIGINT) AS days_purchases_win,
           CAST(m AS BIGINT) AS n_informative_days,
           ROUND(LEAST(1.0, 2.0 * one_tail), 6) AS p_two_sided,
           LEAST(1.0, 2.0 * one_tail) < 0.05 AS significant_at_5pct
    FROM p
    """,
    doc="Exact sign test on the paired daily (click, purchase) counts — "
        "the zero-assumption paired comparison (no symmetry, no "
        "variance, no normality: just which side wins each day), the "
        "test of last resort when even Wilcoxon's symmetry assumption "
        "is suspect. Ties drop out; the two-sided p is the exact "
        "binomial(m, 1/2) tail doubled, computed with the same "
        "bit-identical sequential Sigma-ln-k factorial folds as "
        "Fisher's exact test (Spark aggregate(sequence) == DuckDB "
        "list_sum(range) term for term). Work: one day group-by, one "
        "3-counter fold, then O(tail) closed-form terms on a "
        "broadcast row.",
)
def q_stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_clicks_purchases(spark, sf_dir)
    s = d.agg(
        F.sum(F.when(F.col("x") > F.col("y"), 1).otherwise(0))
         .alias("plus"),
        F.sum(F.when(F.col("x") < F.col("y"), 1).otherwise(0))
         .alias("minus"))
    kk = s.select("plus", "minus",
                  (F.col("plus") + F.col("minus")).alias("m"),
                  F.least("plus", "minus").alias("tail"))
    terms = kk.select(
        "plus", "minus", "m",
        F.explode(F.expr("sequence(0, CAST(tail AS INT))")).alias("k"))
    one_tail = F.sum(F.exp(
        F.expr(_lnc(_LNF_SPARK, "m", "k"))
        - F.col("m") * F.log(F.lit(2.0))))
    p = terms.agg(F.max("plus").alias("plus"),
                  F.max("minus").alias("minus"),
                  F.max("m").alias("m"),
                  one_tail.alias("one_tail"))
    pv = F.least(F.lit(1.0), 2.0 * F.col("one_tail"))
    return p.select(
        F.col("plus").cast("long").alias("days_clicks_win"),
        F.col("minus").cast("long").alias("days_purchases_win"),
        F.col("m").cast("long").alias("n_informative_days"),
        F.round(pv, 6).alias("p_two_sided"),
        (pv < 0.05).alias("significant_at_5pct"))


# --------------------------------------------------------------------------
# Wilcoxon signed-rank — the paired test that uses magnitudes, not just signs
# --------------------------------------------------------------------------

@register(
    "q_stats_wilcoxon_signed_rank",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY day),
    nz AS (SELECT day, x - y AS diff, ABS(x - y) AS ad
           FROM d WHERE x <> y),
    rk AS (
        SELECT a.day, a.diff,
               (SELECT COUNT(*) FROM nz b WHERE b.ad < a.ad)
               + ((SELECT COUNT(*) FROM nz b WHERE b.ad <= a.ad)
                  - (SELECT COUNT(*) FROM nz b WHERE b.ad < a.ad)
                  + 1) / 2.0 AS arank
        FROM nz a),
    s AS (
        SELECT COUNT(*) AS m,
               SUM(CASE WHEN diff > 0 THEN arank ELSE 0 END) AS wplus
        FROM rk),
    z AS (
        SELECT m, wplus,
               m * (m + 1) / 4.0 AS mu,
               m * (m + 1.0) * (2 * m + 1.0) / 24.0 AS var
        FROM s)
    SELECT CAST(m AS BIGINT) AS n_informative_days,
           ROUND(wplus, 1) AS w_plus,
           ROUND(mu, 1) AS expected_w,
           ROUND((wplus - mu) / SQRT(var), 4) AS z,
           ABS((wplus - mu) / SQRT(var)) >= 1.96 AS significant_at_5pct
    FROM z
    """,
    doc="Wilcoxon signed-rank test on the paired daily click/purchase "
        "counts — between the sign test (signs only) and the t-test "
        "(means, needs near-normality): it ranks the |differences| so "
        "magnitude matters but outlier days cannot dominate. Average "
        "ranks WITHOUT any window: rank(a) = #{|d| < |d_a|} + "
        "(ties + 1)/2 via count-comparison against the day-sized "
        "series (bounded ~30 rows — the Mann-Kendall/Kendall-tau "
        "self-join shape, quadratic in DAYS and independent of event "
        "volume); ranks are exact multiples of 1/2, so W+ is exact. "
        "Normal approximation mu = m(m+1)/4, var = m(m+1)(2m+1)/24, "
        "identical closed form both engines.",
)
def q_stats_wilcoxon_signed_rank(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    d = _daily_clicks_purchases(spark, sf_dir)
    nz = (d.where(F.col("x") != F.col("y"))
          .select("day", (F.col("x") - F.col("y")).alias("diff"),
                  F.abs(F.col("x") - F.col("y")).alias("ad"))
          .localCheckpoint(eager=False))
    b = nz.select(F.col("ad").alias("ad2"))
    rk = (nz.join(F.broadcast(b), F.lit(True))
          .groupBy("day", "diff", "ad")
          .agg(F.sum(F.when(F.col("ad2") < F.col("ad"), 1).otherwise(0))
               .alias("less"),
               F.sum(F.when(F.col("ad2") <= F.col("ad"), 1).otherwise(0))
               .alias("leq"))
          .select("diff",
                  (F.col("less")
                   + (F.col("leq") - F.col("less") + 1) / 2.0)
                  .alias("arank")))
    s = rk.agg(F.count(F.lit(1)).alias("m"),
               F.sum(F.when(F.col("diff") > 0, F.col("arank"))
                     .otherwise(0.0)).alias("wplus"))
    m = F.col("m")
    mu = m * (m + 1) / 4.0
    var = m * (m + 1.0) * (2 * m + 1.0) / 24.0
    z = (F.col("wplus") - mu) / F.sqrt(var)
    return s.select(
        m.cast("long").alias("n_informative_days"),
        F.round("wplus", 1).alias("w_plus"),
        F.round(mu, 1).alias("expected_w"),
        F.round(z, 4).alias("z"),
        (F.abs(z) >= 1.96).alias("significant_at_5pct"))


# --------------------------------------------------------------------------
# Levene's test — is the equal-variance assumption behind ANOVA even true?
# --------------------------------------------------------------------------

@register(
    "q_stats_levene",
    oracle="""
    WITH v AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL),
    gm AS (SELECT g, COUNT(*) AS n, SUM(c) AS s FROM v GROUP BY g),
    z AS (
        SELECT v.g, ABS(v.c - CAST(gm.s AS DOUBLE) / gm.n) AS z
        FROM v JOIN gm USING (g)),
    zg AS (SELECT g, COUNT(*) AS n, SUM(z) AS sz,
                  SUM(z * z) AS szz
           FROM z GROUP BY g),
    tot AS (SELECT SUM(n) AS nn, COUNT(*) AS k, SUM(sz) AS tsz
            FROM zg),
    parts AS (
        SELECT tot.nn, tot.k,
               SUM(zg.n * (zg.sz / zg.n - tot.tsz / tot.nn)
                        * (zg.sz / zg.n - tot.tsz / tot.nn)) AS ssb,
               SUM(zg.szz - zg.sz * zg.sz / zg.n) AS ssw
        FROM zg CROSS JOIN tot GROUP BY tot.nn, tot.k)
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(nn AS BIGINT) AS n_rows,
           ROUND((CAST(nn - k AS DOUBLE) / (k - 1)) * ssb / ssw, 4)
               AS levene_w,
           (CAST(nn - k AS DOUBLE) / (k - 1)) * ssb / ssw > 2.37
               AS heteroscedastic_at_5pct
    FROM parts
    """,
    doc="Levene's test for variance homogeneity across the five "
        "event-type value distributions — the precondition audit for "
        "q_events_anova (classic ANOVA assumes equal group variances; "
        "when Levene rejects, the F-test's size is wrong and Welch-"
        "style corrections are mandatory). W = one-way ANOVA applied "
        "to z = |x - group mean|: two grouped passes (exact integer "
        "group sums feed the mean, then the absolute-deviation "
        "aggregates), between/within sums of squares via the "
        "computational identity — no per-row second scan of anything "
        "but the derived z. 2.37 ~ F(4, inf) at 5%. Cents-integer "
        "inputs; the double aggregates follow the registry's rounded-"
        "output discipline.",
)
def q_stats_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select(F.col("event_type").alias("g"),
                 F.round(F.col("value") * 100).cast("long").alias("c")))
    gm = v.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                            F.sum("c").alias("s"))
    z = (v.join(F.broadcast(gm), "g")
         .select("g", F.abs(F.col("c") - F.col("s").cast("double")
                            / F.col("n")).alias("z")))
    zg = z.groupBy("g").agg(F.count(F.lit(1)).alias("n"),
                            F.sum("z").alias("sz"),
                            F.sum(F.col("z") * F.col("z")).alias("szz"))
    tot = zg.agg(F.sum("n").alias("nn"), F.count(F.lit(1)).alias("k"),
                 F.sum("sz").alias("tsz"))
    dev = F.col("sz") / F.col("n") - F.col("tsz") / F.col("nn")
    parts = (zg.crossJoin(F.broadcast(tot))
             .groupBy("nn", "k")
             .agg(F.sum(F.col("n") * dev * dev).alias("ssb"),
                  F.sum(F.col("szz") - F.col("sz") * F.col("sz")
                        / F.col("n")).alias("ssw")))
    w = ((F.col("nn") - F.col("k")).cast("double") / (F.col("k") - 1)
         * F.col("ssb") / F.col("ssw"))
    return parts.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n_rows"),
        F.round(w, 4).alias("levene_w"),
        (w > 2.37).alias("heteroscedastic_at_5pct"))


# --------------------------------------------------------------------------
# Cohen's d / Hedges' g — report the EFFECT SIZE, not just the p-value
# --------------------------------------------------------------------------

@register(
    "q_stats_effect_size",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS arm,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
    g AS (SELECT arm, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
          FROM base GROUP BY arm),
    w AS (SELECT
            MAX(CASE WHEN arm = 'a' THEN n END) AS na,
            MAX(CASE WHEN arm = 'b' THEN n END) AS nb,
            MAX(CASE WHEN arm = 'a' THEN CAST(s1 AS DOUBLE) / n END)
                AS ma,
            MAX(CASE WHEN arm = 'b' THEN CAST(s1 AS DOUBLE) / n END)
                AS mb,
            MAX(CASE WHEN arm = 'a' THEN
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) END) AS va,
            MAX(CASE WHEN arm = 'b' THEN
                (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                / (n - 1) END) AS vb
          FROM g),
    d AS (
        SELECT na, nb, ma, mb,
               SQRT(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
                   AS sp,
               (ma - mb)
                   / SQRT(((na - 1) * va + (nb - 1) * vb)
                          / (na + nb - 2)) AS cohens_d
        FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ma - mb) / 100, 4) AS mean_diff,
           ROUND(sp / 100, 4) AS pooled_sd,
           ROUND(cohens_d, 6) AS cohens_d,
           ROUND(cohens_d * (1 - 3.0 / (4 * (na + nb) - 9)), 6)
               AS hedges_g,
           ABS(cohens_d) < 0.2 AS negligible_effect
    FROM d
    """,
    doc="Cohen's d and Hedges' g for the A/B purchase-value "
        "comparison — the standardized effect size that must accompany "
        "any p-value at scale (with millions of rows EVERYTHING is "
        "'significant'; d says whether the difference is worth acting "
        "on — |d| < 0.2 negligible, 0.5 medium, 0.8 large). Pooled-SD "
        "standardization from the same BIGINT cents power sums as the "
        "t-test/TOST family; Hedges' g applies the small-sample bias "
        "correction 1 - 3/(4N - 9). One scan, one two-row aggregate, "
        "one closed-form double tree identical on both engines — the "
        "triptych t-test (is it real) / TOST (is it absent) / d (does "
        "it matter) now complete.",
)
def q_stats_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _purchase_arm_moments(spark, sf_dir)
    sp = F.sqrt(((F.col("na") - 1) * F.col("va")
                 + (F.col("nb") - 1) * F.col("vb"))
                / (F.col("na") + F.col("nb") - 2))
    d = (F.col("ma") - F.col("mb")) / sp
    corr = 1 - 3.0 / (4 * (F.col("na") + F.col("nb")) - 9)
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round((F.col("ma") - F.col("mb")) / 100, 4).alias("mean_diff"),
        F.round(sp / 100, 4).alias("pooled_sd"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * corr, 6).alias("hedges_g"),
        (F.abs(d) < 0.2).alias("negligible_effect"))


# --------------------------------------------------------------------------
# Odds ratio with Woolf CI — the interpretable 2x2 effect beside Fisher
# --------------------------------------------------------------------------

@register(
    "q_stats_odds_ratio",
    oracle="""
    WITH conv AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 1 THEN 'a' ELSE 'b' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS s
        FROM events GROUP BY user_id),
    m AS (SELECT
        SUM(CASE WHEN arm = 'a' AND s = 1 THEN 1 ELSE 0 END) AS a,
        SUM(CASE WHEN arm = 'a' AND s = 0 THEN 1 ELSE 0 END) AS b,
        SUM(CASE WHEN arm = 'b' AND s = 1 THEN 1 ELSE 0 END) AS c,
        SUM(CASE WHEN arm = 'b' AND s = 0 THEN 1 ELSE 0 END) AS d
        FROM conv),
    h AS (SELECT a, b, c, d,
                 (a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)) AS orr,
                 SQRT(1 / (a + 0.5) + 1 / (b + 0.5)
                      + 1 / (c + 0.5) + 1 / (d + 0.5)) AS se
          FROM m)
    SELECT CAST(a AS BIGINT) AS conv_a, CAST(b AS BIGINT) AS noconv_a,
           CAST(c AS BIGINT) AS conv_b, CAST(d AS BIGINT) AS noconv_b,
           ROUND(orr, 4) AS odds_ratio,
           ROUND(EXP(LN(orr) - 1.96 * se), 4) AS ci_low,
           ROUND(EXP(LN(orr) + 1.96 * se), 4) AS ci_high,
           EXP(LN(orr) - 1.96 * se) <= 1.0
               AND 1.0 <= EXP(LN(orr) + 1.96 * se) AS ci_contains_1
    FROM h
    """,
    doc="Odds ratio of per-user purchase conversion between the A/B "
        "arms with the Woolf (log-normal) 95% CI — the interpretable "
        "2x2 readout beside Fisher's exact test (q_stats_fisher_exact "
        "answers 'is the table surprising'; the OR + CI answers 'by "
        "how much, plus or minus what'). Haldane-Anscombe +0.5 on "
        "every cell keeps the estimate and SE finite at zero cells "
        "(0.5 is dyadic: the correction is float-exact). One per-user "
        "group-by, four integer cells, one closed-form double tree "
        "identical on both engines; ci_contains_1 is the "
        "no-effect-at-5% verdict.",
)
def q_stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = _user_conversions(spark, sf_dir)
    m = conv.agg(
        F.sum(F.when((F.col("arm") == "a") & (F.col("s") == 1), 1)
              .otherwise(0)).alias("a"),
        F.sum(F.when((F.col("arm") == "a") & (F.col("s") == 0), 1)
              .otherwise(0)).alias("b"),
        F.sum(F.when((F.col("arm") == "b") & (F.col("s") == 1), 1)
              .otherwise(0)).alias("c"),
        F.sum(F.when((F.col("arm") == "b") & (F.col("s") == 0), 1)
              .otherwise(0)).alias("d"))
    orr = ((F.col("a") + 0.5) * (F.col("d") + 0.5)
           / ((F.col("b") + 0.5) * (F.col("c") + 0.5)))
    se = F.sqrt(1 / (F.col("a") + 0.5) + 1 / (F.col("b") + 0.5)
                + 1 / (F.col("c") + 0.5) + 1 / (F.col("d") + 0.5))
    lo = F.exp(F.log(orr) - 1.96 * se)
    hi = F.exp(F.log(orr) + 1.96 * se)
    return m.select(
        F.col("a").cast("long").alias("conv_a"),
        F.col("b").cast("long").alias("noconv_a"),
        F.col("c").cast("long").alias("conv_b"),
        F.col("d").cast("long").alias("noconv_b"),
        F.round(orr, 4).alias("odds_ratio"),
        F.round(lo, 4).alias("ci_low"),
        F.round(hi, 4).alias("ci_high"),
        ((lo <= 1.0) & (F.lit(1.0) <= hi)).alias("ci_contains_1"))


# --------------------------------------------------------------------------
# G-test — the likelihood-ratio sibling of the chi-square
# --------------------------------------------------------------------------

@register(
    "q_stats_g_test",
    oracle="""
    WITH j AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cell AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY seg, pri),
    rs AS (SELECT seg, SUM(o) AS r FROM cell GROUP BY seg),
    cs AS (SELECT pri, SUM(o) AS c FROM cell GROUP BY pri),
    n_ AS (SELECT SUM(o) AS n FROM cell),
    g AS (
        SELECT SUM(2.0 * cell.o
                   * LN(cell.o / (rs.r * cs.c * 1.0 / n_.n))) AS g2,
               COUNT(*) AS n_cells
        FROM cell JOIN rs USING (seg) JOIN cs USING (pri)
        CROSS JOIN n_),
    dims AS (SELECT (SELECT COUNT(*) FROM rs) AS r,
                    (SELECT COUNT(*) FROM cs) AS c)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_cells AS BIGINT) AS n_cells,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(g2, 4) AS g_statistic,
           g2 > 26.296 AS dependent_at_5pct
    FROM g, dims, n_
    """,
    doc="Likelihood-ratio G-test on the segment x priority contingency "
        "table — the information-theoretic sibling of the Pearson "
        "chi-square (G = 2 sum O ln(O/E) = 2N * mutual information in "
        "nats; additive across table partitions, which chi2 is not — "
        "the property that lets G-statistics from data shards SUM "
        "into the global test at 100 TB). Same integer cell/marginal "
        "machinery as q_stats_cramers_v; 26.296 = chi2(16) at 5%. "
        "Zero cells contribute 0 by the O ln O convention (none occur "
        "in this dense 5x5 table; both engines would agree regardless "
        "since the cell simply doesn't exist in the sparse relation).",
)
def q_stats_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell, rs, cs, n_ = _segment_priority_table(spark, sf_dir)
    exp = F.col("r") * F.col("c") * 1.0 / F.col("n")
    g = (cell.join(F.broadcast(rs), "seg").join(F.broadcast(cs), "pri")
         .crossJoin(F.broadcast(n_))
         .agg(F.sum(2.0 * F.col("o") * F.log(F.col("o") / exp))
              .alias("g2"),
              F.count(F.lit(1)).alias("n_cells")))
    dims = (rs.agg(F.count(F.lit(1)).alias("nr"))
            .crossJoin(F.broadcast(cs.agg(F.count(F.lit(1)).alias("nc")))))
    return (g.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(n_))
            .select(F.col("n").cast("long").alias("n"),
                    F.col("n_cells").cast("long").alias("n_cells"),
                    ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long")
                     .alias("dof"),
                    F.round("g2", 4).alias("g_statistic"),
                    (F.col("g2") > 26.296).alias("dependent_at_5pct")))


# --------------------------------------------------------------------------
# Inverse-propensity weighting — the WEIGHTING causal estimator beside
# q_events_matched_att's exact matching
# --------------------------------------------------------------------------

@register(
    "q_events_propensity_ipw",
    oracle="""
    WITH users AS (
        SELECT user_id,
               LEAST(9, CAST(COUNT(*) // 20 AS INT)) AS stratum,
               CASE WHEN SUM(CASE WHEN event_type = 'signup'
                             THEN 1 ELSE 0 END) >= 14
                    THEN 1 ELSE 0 END AS t,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS y
        FROM events WHERE value IS NOT NULL GROUP BY user_id),
    prop AS (
        SELECT stratum, COUNT(*) AS n_s,
               SUM(t) AS nt_s,
               CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e_s
        FROM users GROUP BY stratum),
    usable AS (
        SELECT u.t, u.y, p.e_s
        FROM users u JOIN prop p USING (stratum)
        WHERE p.e_s > 0 AND p.e_s < 1),
    sums AS (
        SELECT
            COUNT(*) AS n_used,
            CAST(SUM(t) AS BIGINT) AS n_treated,
            SUM(CASE WHEN t = 1 THEN y / e_s END) AS wy1,
            SUM(CASE WHEN t = 1 THEN 1.0 / e_s END) AS w1,
            SUM(CASE WHEN t = 0 THEN y / (1 - e_s) END) AS wy0,
            SUM(CASE WHEN t = 0 THEN 1.0 / (1 - e_s) END) AS w0,
            AVG(CASE WHEN t = 1 THEN y END)
                - AVG(CASE WHEN t = 0 THEN y END) AS naive
        FROM usable),
    trim AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN e_s = 0 OR e_s = 1
                                      THEN n_s END), 0) AS BIGINT)
                   AS n_trimmed_users
        FROM prop)
    SELECT CAST(n_used AS BIGINT) AS n_users,
           n_treated,
           trim.n_trimmed_users,
           ROUND(naive, 4) AS naive_diff,
           ROUND(wy1 / w1 - wy0 / w0, 4) AS ipw_ate
    FROM sums, trim
    """,
    doc="Average treatment effect by stratified-propensity inverse "
        "weighting (Hajek/self-normalized IPW): treatment = 'user "
        "fired >= 14 signup events', a covariate-CONFOUNDED exposure "
        "(signup count is binomial in total activity, so more-active "
        "users mechanically cross the threshold more often, and "
        "activity also drives the total-value outcome), unlike the "
        "randomized odd/even arm of q_events_matched_att. "
        "Propensity e(s) = treated fraction within the same activity "
        "strata the matching estimator uses; weights 1/e for treated, "
        "1/(1-e) for controls, both self-normalized (the Hajek "
        "estimator — plain Horvitz-Thompson is variance-fragile when "
        "weights are skewed). Deterministic-overlap strata (e=0 or "
        "e=1) are trimmed WITH a reported user count, never silently. "
        "The naive treated-minus-control mean ships beside ipw_ate so "
        "the row itself shows the confounding the weights remove. "
        "Plan: one groupBy(user) corpus pass (map-side partials), a "
        "<=10-row propensity table broadcast back, one final "
        "aggregate — the same two-pass shape at any corpus scale. "
        "Outcomes are cents-exact integers scaled once; the weighted "
        "sums round at 4 dp on both engines (summation-order ulps).",
)
def q_events_propensity_ipw(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    users = (e.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_ev"),
                  F.when(F.sum(F.when(F.col("event_type") == "signup", 1)
                               .otherwise(0)) >= 14, 1).otherwise(0)
                  .alias("t"),
                  (F.sum(F.round(F.col("value") * 100).cast("long"))
                   / 100.0).alias("y"))
             .select(F.least(F.lit(9), F.floor(F.col("n_ev") / 20)
                             .cast("int")).alias("stratum"),
                     "t", "y"))
    prop = users.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_s"),
        F.sum("t").alias("nt_s"),
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e_s"))
    usable = (users.join(F.broadcast(prop), "stratum")
              .where((F.col("e_s") > 0) & (F.col("e_s") < 1)))
    t1 = F.col("t") == 1
    sums = usable.agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum("t").cast("long").alias("n_treated"),
        F.sum(F.when(t1, F.col("y") / F.col("e_s"))).alias("wy1"),
        F.sum(F.when(t1, 1.0 / F.col("e_s"))).alias("w1"),
        F.sum(F.when(~t1, F.col("y") / (1 - F.col("e_s")))).alias("wy0"),
        F.sum(F.when(~t1, 1.0 / (1 - F.col("e_s")))).alias("w0"),
        (F.avg(F.when(t1, F.col("y")))
         - F.avg(F.when(~t1, F.col("y")))).alias("naive"))
    trim = prop.agg(
        F.coalesce(F.sum(F.when((F.col("e_s") == 0) | (F.col("e_s") == 1),
                                F.col("n_s"))), F.lit(0))
        .cast("long").alias("n_trimmed_users"))
    return (sums.crossJoin(F.broadcast(trim))
            .select(F.col("n_used").cast("long").alias("n_users"),
                    "n_treated", "n_trimmed_users",
                    F.round("naive", 4).alias("naive_diff"),
                    F.round(F.col("wy1") / F.col("w1")
                            - F.col("wy0") / F.col("w0"), 4)
                    .alias("ipw_ate")))


# --------------------------------------------------------------------------
# Kruskal-Wallis — the distribution-free ANOVA
# --------------------------------------------------------------------------

@register(
    "q_stats_kruskal_wallis",
    oracle="""
    WITH v AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL),
    hist AS (SELECT c, COUNT(*) AS cnt FROM v GROUP BY c),
    ranked AS (
        SELECT c,
               cnt,
               SUM(cnt) OVER (ORDER BY c
                              ROWS UNBOUNDED PRECEDING) - cnt
                   + (cnt + 1) / 2.0 AS avg_rank
        FROM hist),
    grp AS (
        SELECT v.g, COUNT(*) AS n_g, SUM(r.avg_rank) AS rsum
        FROM v JOIN ranked r USING (c) GROUP BY v.g),
    tot AS (SELECT SUM(n_g) AS n FROM grp),
    ties AS (SELECT SUM(cnt * cnt * cnt - cnt) AS tie3 FROM hist),
    h AS (
        SELECT tot.n, ties.tie3,
               12.0 / (tot.n * (tot.n + 1))
               * SUM(grp.n_g * (grp.rsum / grp.n_g - (tot.n + 1) / 2.0)
                             * (grp.rsum / grp.n_g - (tot.n + 1) / 2.0))
                   AS h_raw,
               COUNT(*) AS k
        FROM grp CROSS JOIN tot CROSS JOIN ties
        GROUP BY tot.n, ties.tie3)
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           ROUND(h_raw, 4) AS h_statistic,
           ROUND(h_raw / (1 - CAST(tie3 AS DOUBLE)
                              / (CAST(n AS DOUBLE) * n * n - n)), 4)
               AS h_tie_corrected,
           h_raw / (1 - CAST(tie3 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n * n - n)) > 9.488
               AS reject_at_5pct
    FROM h
    """,
    doc="Kruskal-Wallis rank test across the five event-type value "
        "distributions — the distribution-free ANOVA (q_events_anova "
        "assumes normality; when Levene rejects homoscedasticity or "
        "tails are heavy, the rank statistic is the robust "
        "alternative), with the standard tie correction "
        "H / (1 - sum(t^3 - t)/(N^3 - N)). Ranks come from the VALUE "
        "HISTOGRAM, never a corpus-wide sort: average tied rank = "
        "cum_before + (t+1)/2 is a running sum over the distinct-cents "
        "table (domain-bounded, ~10k rows at any corpus scale — the "
        "same bounded-window discipline as q_stats_equidepth_"
        "histogram), broadcast back onto the rows — and the running "
        "sum itself uses the sharded-window discipline of "
        "q_abc_classification (magnitude shard, monotone in the sort "
        "key; broadcast cross-shard offsets), so no SinglePartition "
        "exchange exists anywhere in the plan. Cross-engine exactness "
        "is structural: tied ranks are HALF-INTEGERS, so every "
        "per-group rank sum is exact in double regardless of "
        "summation order — no pre-rounding needed anywhere; only the "
        "final H is rounded. 9.488 = chi2(4) at 5%.",
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    v = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select(F.col("event_type").alias("g"),
                 F.round(F.col("value") * 100).cast("long").alias("c")))
    hist = v.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    # Cumulative count over the distinct-cents histogram (domain-
    # bounded, ~10k rows) via the sharded-window discipline: shard =
    # bit-length of (c - min_c), monotone ASC in c, ties share a
    # shard. The min_c offset (broadcast 1-row scalar) keeps log2's
    # argument >= 2 for EVERY key, so the shard is total over the
    # whole long domain — a raw log2(c + 2) would be NULL for
    # c <= -2 and silently drop negative-value rows from the
    # shard equi-joins.
    min_c = hist.agg(F.min("c").alias("min_c"))
    sharded = (hist.crossJoin(F.broadcast(min_c))
               .withColumn("shard",
                           F.floor(F.log2(F.col("c") - F.col("min_c")
                                          + 2)).cast("int"))
               .drop("min_c"))
    w_in = (Window.partitionBy("shard").orderBy("c")
            .rowsBetween(Window.unboundedPreceding, 0))
    intra = sharded.withColumn("cum_intra", F.sum("cnt").over(w_in))
    stot = sharded.groupBy("shard").agg(F.sum("cnt").alias("s_n"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_n"), F.lit(0)).alias("cum_shards")))
    ranked = (intra.join(F.broadcast(below), "shard")
              .select("c", "cnt",
                      (F.col("cum_shards") + F.col("cum_intra")
                       - F.col("cnt")
                       + (F.col("cnt") + 1) / 2.0).alias("avg_rank")))
    grp = (v.join(F.broadcast(ranked), "c")
           .groupBy("g")
           .agg(F.count(F.lit(1)).alias("n_g"),
                F.sum("avg_rank").alias("rsum")))
    tot = grp.agg(F.sum("n_g").alias("n"))
    ties = hist.agg(F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                          - F.col("cnt")).alias("tie3"))
    dev = F.col("rsum") / F.col("n_g") - (F.col("n") + 1) / 2.0
    h = (grp.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
         .groupBy("n", "tie3")
         .agg((12.0 / (F.col("n") * (F.col("n") + 1))
               * F.sum(F.col("n_g") * dev * dev)).alias("h_raw"),
              F.count(F.lit(1)).alias("k")))
    corr = 1 - F.col("tie3").cast("double") / (F.col("n").cast("double")
                                               * F.col("n") * F.col("n")
                                               - F.col("n"))
    return h.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.round("h_raw", 4).alias("h_statistic"),
        F.round(F.col("h_raw") / corr, 4).alias("h_tie_corrected"),
        (F.col("h_raw") / corr > 9.488).alias("reject_at_5pct"))


def _daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day 'yyyy-MM-dd', n): events per type per day."""
    e = Catalog(spark, sf_dir).table("events")
    return (e.groupBy("event_type",
                      F.date_format(F.date_trunc("day", "ts"),
                                    "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n")))


@register(
    "q_stats_cusum_monitor",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    st AS (
        SELECT event_type, COUNT(*) AS n_days,
               AVG(n)::DOUBLE AS mu, STDDEV_SAMP(n)::DOUBLE AS sd
        FROM daily GROUP BY 1),
    cus AS (
        SELECT d.event_type, d.day,
               SUM(d.n - s.mu) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s_t,
               s.sd, s.n_days
        FROM daily d JOIN st s USING (event_type)),
    peak AS (
        SELECT event_type, day, s_t, sd, n_days,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(s_t) DESC, day) AS rk
        FROM cus)
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           day AS peak_day,
           ROUND(ABS(s_t), 4) AS cusum_max,
           ROUND(ABS(s_t) / (sd * SQRT(n_days)), 4) AS cusum_stat
    FROM peak WHERE rk = 1
    ORDER BY event_type
    """,
    doc="CUSUM change-point MONITOR per event type: the cumulative "
        "sum of daily-count deviations from the type's mean, its "
        "peak day (the classic argmax |S_t| change-point estimate) "
        "and the normalized statistic |S|max / (sd*sqrt(n)) whose "
        "large values reject 'no change' — the sequential-monitoring "
        "member of the drift family (PSI/KS/JSD measure distribution "
        "shift between two windows; CUSUM localizes WHEN the level "
        "shifted). Every window is PARTITIONED BY EVENT TYPE over the "
        "bounded daily table (30 rows per type), deviations derive "
        "from integer daily counts so both engines accumulate "
        "identical doubles in identical day order, and the peak pick "
        "uses an (|S|, day) total order.",
)
def q_stats_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_type_counts(spark, sf_dir)
    st = (daily.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n_days"),
               F.avg("n").alias("mu"),
               F.stddev_samp("n").alias("sd")))
    wc = (Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cus = (daily.join(F.broadcast(st), "event_type")
           .withColumn("s_t", F.sum(F.col("n") - F.col("mu")).over(wc)))
    wp = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("s_t"))), "day")
    return (cus.withColumn("rk", F.row_number().over(wp))
            .where(F.col("rk") == 1)
            .select("event_type",
                    F.col("n_days").cast("long").alias("n_days"),
                    F.col("day").alias("peak_day"),
                    F.round(F.abs(F.col("s_t")), 4).alias("cusum_max"),
                    F.round(F.abs(F.col("s_t"))
                            / (F.col("sd") * F.sqrt(F.col("n_days"))), 4)
                    .alias("cusum_stat"))
            .orderBy("event_type"))


@register(
    "q_stats_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    mu AS (SELECT event_type, AVG(n)::DOUBLE AS mu,
                  COUNT(*) AS nd
           FROM daily GROUP BY 1),
    lagd AS (
        SELECT d.event_type, d.n, m.mu, m.nd,
               LAG(d.n, 1) OVER w AS l1,
               LAG(d.n, 2) OVER w AS l2,
               LAG(d.n, 3) OVER w AS l3,
               LAG(d.n, 4) OVER w AS l4,
               LAG(d.n, 5) OVER w AS l5
        FROM daily d JOIN mu m USING (event_type)
        WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day)),
    acf AS (
        SELECT event_type, ANY_VALUE(nd) AS nd,
               SUM((n - mu) * (n - mu)) AS den,
               SUM(CASE WHEN l1 IS NOT NULL
                        THEN (n - mu) * (l1 - mu) ELSE 0 END) AS c1,
               SUM(CASE WHEN l2 IS NOT NULL
                        THEN (n - mu) * (l2 - mu) ELSE 0 END) AS c2,
               SUM(CASE WHEN l3 IS NOT NULL
                        THEN (n - mu) * (l3 - mu) ELSE 0 END) AS c3,
               SUM(CASE WHEN l4 IS NOT NULL
                        THEN (n - mu) * (l4 - mu) ELSE 0 END) AS c4,
               SUM(CASE WHEN l5 IS NOT NULL
                        THEN (n - mu) * (l5 - mu) ELSE 0 END) AS c5
        FROM lagd GROUP BY event_type)
    SELECT event_type, CAST(nd AS BIGINT) AS n_days,
           ROUND(nd * (nd + 2) * (
               (c1/den)*(c1/den)/(nd-1) + (c2/den)*(c2/den)/(nd-2)
             + (c3/den)*(c3/den)/(nd-3) + (c4/den)*(c4/den)/(nd-4)
             + (c5/den)*(c5/den)/(nd-5)), 4) AS lb_q,
           (ROUND(nd * (nd + 2) * (
               (c1/den)*(c1/den)/(nd-1) + (c2/den)*(c2/den)/(nd-2)
             + (c3/den)*(c3/den)/(nd-3) + (c4/den)*(c4/den)/(nd-4)
             + (c5/den)*(c5/den)/(nd-5)), 4) > 11.0705)
               AS reject_white_noise
    FROM acf ORDER BY event_type
    """,
    doc="Ljung-Box portmanteau test per event type: Q = n(n+2) * "
        "sum_k rho_k^2/(n-k) over lags 1..5 of the daily-count "
        "series, against the chi-square(5) 95% critical value "
        "(11.0705) — the 'is this series white noise at all' gate a "
        "forecasting pipeline runs before fitting anything, and the "
        "aggregate companion to q_events_autocorrelation's per-lag "
        "rho readout. Lags come from 5 LAG columns over one "
        "type-keyed window (the daily table is ~30 rows per type); "
        "autocovariances build from integer counts and one per-type "
        "mean, so both engines accumulate identical doubles in "
        "identical day order. All windows keyed by event_type.",
)
def q_stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_type_counts(spark, sf_dir)
    mu = (daily.groupBy("event_type")
          .agg(F.avg("n").alias("mu"), F.count(F.lit(1)).alias("nd")))
    w = Window.partitionBy("event_type").orderBy("day")
    lagd = daily.join(F.broadcast(mu), "event_type")
    for k in range(1, 6):
        lagd = lagd.withColumn(f"l{k}", F.lag("n", k).over(w))
    covs = [F.sum(F.when(F.col(f"l{k}").isNotNull(),
                         (F.col("n") - F.col("mu"))
                         * (F.col(f"l{k}") - F.col("mu")))
                  .otherwise(0.0)).alias(f"c{k}")
            for k in range(1, 6)]
    acf = (lagd.groupBy("event_type")
           .agg(F.any_value("nd").alias("nd"),
                F.sum((F.col("n") - F.col("mu"))
                      * (F.col("n") - F.col("mu"))).alias("den"),
                *covs))
    q = (F.col("nd") * (F.col("nd") + 2)
         * sum((F.col(f"c{k}") / F.col("den"))
               * (F.col(f"c{k}") / F.col("den"))
               / (F.col("nd") - k) for k in range(1, 6)))
    return (acf.select("event_type",
                       F.col("nd").cast("long").alias("n_days"),
                       F.round(q, 4).alias("lb_q"),
                       (F.round(q, 4) > 11.0705)
                       .alias("reject_white_noise"))
            .orderBy("event_type"))


@register(
    "q_stats_capture_recapture",
    oracle="""
    WITH c95 AS (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate <  TIMESTAMP '1996-01-01'),
    c96 AS (SELECT DISTINCT o_custkey AS k FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'),
    m AS (SELECT COUNT(*) AS m FROM c95 JOIN c96 USING (k)),
    s AS (SELECT (SELECT COUNT(*) FROM c95) AS n1,
                 (SELECT COUNT(*) FROM c96) AS n2,
                 (SELECT m FROM m) AS m,
                 (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS truth)
    SELECT CAST(n1 AS BIGINT) AS n_first,
           CAST(n2 AS BIGINT) AS n_second,
           CAST(m AS BIGINT) AS n_both,
           CAST(FLOOR((n1 + 1) * (n2 + 1) / (m + 1)) - 1 AS BIGINT)
               AS chapman_estimate,
           CAST(truth AS BIGINT) AS true_population,
           ROUND((FLOOR((n1 + 1) * (n2 + 1) / (m + 1)) - 1)::DOUBLE
                 / truth::DOUBLE, 4) AS estimate_ratio
    FROM s
    """,
    doc="Capture-recapture population estimate (Chapman-corrected "
        "Lincoln-Petersen): customers active in 1995 are the 'marked' "
        "sample, 1996 actives the recapture, and N-hat = "
        "(n1+1)(n2+1)/(m+1) - 1 estimates the total customer universe "
        "— the estimator a coverage audit runs when the full registry "
        "is unobservable (how many entities exist that we have never "
        "seen?), here value-checked against the ground truth the "
        "fixture CAN compute (estimate_ratio ~ 1 iff the two periods "
        "sample independently — churn correlation shows up as bias, "
        "which is the diagnostic). Three distinct-key aggregates and "
        "one key-join overlap count; the quotient is FLOORed "
        "explicitly on both engines (Spark's double-to-bigint cast "
        "truncates where DuckDB's rounds).",
)
def q_stats_capture_recapture(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")

    def actives(year: int) -> DataFrame:
        return (o.where(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01")
             .cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01")
               .cast("timestamp")))
            .select(F.col("o_custkey").alias("k")).distinct())

    c95, c96 = actives(1995), actives(1996)
    n1 = c95.agg(F.count(F.lit(1)).alias("n1"))
    n2 = c96.agg(F.count(F.lit(1)).alias("n2"))
    m = c95.join(c96, "k").agg(F.count(F.lit(1)).alias("m"))
    truth = o.agg(F.countDistinct("o_custkey").alias("truth"))
    est = (F.floor((F.col("n1") + 1) * (F.col("n2") + 1)
                   / (F.col("m") + 1)) - 1)
    return (n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
            .crossJoin(F.broadcast(truth))
            .select(F.col("n1").cast("long").alias("n_first"),
                    F.col("n2").cast("long").alias("n_second"),
                    F.col("m").cast("long").alias("n_both"),
                    est.cast("long").alias("chapman_estimate"),
                    F.col("truth").cast("long").alias("true_population"),
                    F.round(est.cast("double")
                            / F.col("truth").cast("double"), 4)
                    .alias("estimate_ratio")))


@register(
    "q_stats_theil_index",
    oracle="""
    WITH rev AS (
        SELECT n.n_name AS nation, c.c_custkey,
               SUM(o.o_totalprice)::DOUBLE AS x
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS sx, AVG(x) AS mu FROM rev),
    grp AS (
        SELECT nation, COUNT(*) AS ng, SUM(x) AS sg, AVG(x) AS mug,
               SUM((x / (SELECT mu FROM tot))
                   * ln(x / (SELECT mu FROM tot))) AS tsum
        FROM rev GROUP BY nation),
    parts AS (
        SELECT
            (SELECT SUM((x / t.mu) * ln(x / t.mu)) / t.n
             FROM rev, tot t GROUP BY t.n, t.mu) AS t_total,
            (SELECT SUM((g.sg / t.sx) * ln((g.mug / t.mu)))
             FROM grp g, tot t) AS t_between
        )
    SELECT ROUND(t_total, 6) AS theil_total,
           ROUND(t_between, 6) AS theil_between,
           ROUND(t_total - t_between, 6) AS theil_within,
           ROUND(t_between / t_total, 4) AS between_share
    FROM parts
    """,
    doc="Theil T inequality index of customer spend with the "
        "between/within-nation DECOMPOSITION — the property that "
        "makes Theil the inequality measure for grouped data (Gini "
        "next door does not decompose additively): T = (1/n) "
        "sum (x/mu) ln(x/mu), T_between = sum_g (share_g) "
        "ln(mu_g/mu), T_within = T - T_between, and between_share "
        "says how much spend inequality is explained by WHICH nation "
        "a customer is in versus dispersion inside nations. One "
        "per-customer aggregate, one 25-row per-nation aggregate, "
        "and broadcast scalar totals; every term derives from the "
        "same DECIMAL spend sums on both engines, rounded at 6 dp.",
)
def q_stats_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c, n, o = (cat.table(t) for t in ("customer", "nation", "orders"))
    rev = (c.join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
           .join(o, o["o_custkey"] == c["c_custkey"])
           .groupBy(F.col("n_name").alias("nation"), "c_custkey")
           .agg(F.sum("o_totalprice").cast("double").alias("x"))
           .localCheckpoint(eager=False))  # feeds total + group + term
    tot = rev.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
                  F.avg("x").alias("mu"))
    t_total = (rev.crossJoin(F.broadcast(tot))
               .agg((F.sum((F.col("x") / F.col("mu"))
                           * F.log(F.col("x") / F.col("mu")))
                     / F.any_value("n")).alias("t_total")))
    grp = (rev.groupBy("nation")
           .agg(F.sum("x").alias("sg"), F.avg("x").alias("mug")))
    t_between = (grp.crossJoin(F.broadcast(tot))
                 .agg(F.sum((F.col("sg") / F.col("sx"))
                            * F.log(F.col("mug") / F.col("mu")))
                      .alias("t_between")))
    return (t_total.crossJoin(F.broadcast(t_between))
            .select(F.round(F.col("t_total"), 6).alias("theil_total"),
                    F.round(F.col("t_between"), 6).alias("theil_between"),
                    F.round(F.col("t_total") - F.col("t_between"), 6)
                    .alias("theil_within"),
                    F.round(F.col("t_between") / F.col("t_total"), 4)
                    .alias("between_share")))


@register(
    "q_stats_friedman_test",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    ranked AS (
        SELECT day, event_type,
               RANK() OVER (PARTITION BY day ORDER BY n) AS rmin,
               COUNT(*) OVER (PARTITION BY day, n) AS ties
        FROM daily),
    avg_rank AS (
        SELECT event_type, COUNT(*) AS n_days,
               AVG(rmin + (ties - 1) / 2.0) AS rbar
        FROM ranked GROUP BY event_type),
    k AS (SELECT COUNT(*) AS k, ANY_VALUE(n_days) AS n FROM avg_rank),
    stat AS (
        SELECT k.n, k.k,
               12.0 * k.n / (k.k * (k.k + 1))
               * SUM((a.rbar - (k.k + 1) / 2.0)
                     * (a.rbar - (k.k + 1) / 2.0)) AS q
        FROM avg_rank a, k GROUP BY k.n, k.k)
    SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_groups,
           ROUND(q, 4) AS friedman_q,
           (ROUND(q, 4) > 9.4877) AS reject_equal_ranks
    FROM stat
    """,
    doc="Friedman rank test: do the event types keep the same volume "
        "ORDERING day after day, or does their within-day ranking "
        "vary? Blocks = days, treatments = the 5 event types, "
        "average ranks under ties (rmin + (ties-1)/2 — the standard "
        "midrank), Q = 12n/(k(k+1)) sum (rbar_j - (k+1)/2)^2 against "
        "the chi-square(4) 95% value (9.4877). The nonparametric "
        "repeated-measures ANOVA — the right test when daily volumes "
        "are non-normal but blocked by day, completing the "
        "rank-statistics arc beside Kruskal-Wallis (independent "
        "groups) and Wilcoxon (paired). Windows keyed by day; "
        "everything from integer counts -> midranks are exact "
        "halves, identical on both engines.",
)
def q_stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    daily = (e.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                     "yyyy-MM-dd").alias("day"),
                       "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    ranked = (daily
              .withColumn("rmin", F.rank().over(
                  Window.partitionBy("day").orderBy("n")))
              .withColumn("ties", F.count(F.lit(1)).over(
                  Window.partitionBy("day", "n"))))
    avg_rank = (ranked.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_days"),
                     F.avg(F.col("rmin")
                           + (F.col("ties") - 1) / 2.0).alias("rbar")))
    k = avg_rank.agg(F.count(F.lit(1)).alias("k"),
                     F.any_value("n_days").alias("n"))
    q = (12.0 * F.col("n") / (F.col("k") * (F.col("k") + 1))
         * F.sum((F.col("rbar") - (F.col("k") + 1) / 2.0)
                 * (F.col("rbar") - (F.col("k") + 1) / 2.0)))
    return (avg_rank.crossJoin(F.broadcast(k))
            .groupBy("n", "k")
            .agg(q.alias("q"))
            .select(F.col("n").cast("long").alias("n_blocks"),
                    F.col("k").cast("long").alias("k_groups"),
                    F.round(F.col("q"), 4).alias("friedman_q"),
                    (F.round(F.col("q"), 4) > 9.4877)
                    .alias("reject_equal_ranks")))


@register(
    "q_stats_icc",
    oracle="""
    WITH g AS (
        SELECT user_id, COUNT(*) AS ni, AVG(value) AS mi,
               SUM(value) AS si
        FROM events GROUP BY user_id),
    tot AS (
        SELECT COUNT(*) AS n, AVG(value) AS mu FROM events),
    ssb AS (
        SELECT SUM(ni * (mi - t.mu) * (mi - t.mu)) AS ssb,
               COUNT(*) AS k, SUM(ni * ni) AS sn2
        FROM g, tot t GROUP BY t.mu),
    ssw AS (
        SELECT SUM((e.value - g.mi) * (e.value - g.mi)) AS ssw
        FROM events e JOIN g USING (user_id)),
    parts AS (
        SELECT b.k, t.n,
               b.ssb / (b.k - 1) AS msb,
               w.ssw / (t.n - b.k) AS msw,
               (t.n - b.sn2::DOUBLE / t.n) / (b.k - 1) AS n0
        FROM ssb b, ssw w, tot t)
    SELECT CAST(k AS BIGINT) AS n_users, CAST(n AS BIGINT) AS n_events,
           ROUND(msb, 6) AS ms_between, ROUND(msw, 6) AS ms_within,
           ROUND((msb - msw) / (msb + (n0 - 1) * msw), 6) AS icc
    FROM parts
    """,
    doc="Intraclass correlation ICC(1) of event values grouped by "
        "user — the one-way random-effects variance decomposition "
        "((MSB - MSW) / (MSB + (n0-1) MSW) with the unbalanced-"
        "design n0 = (N - sum ni^2/N)/(k-1)): how much of the value "
        "variance is BETWEEN users versus noise within a user. The "
        "number that decides whether per-user features carry signal "
        "(ICC ~ 0: user identity explains nothing; high ICC: "
        "user-level aggregates are predictive and clustered standard "
        "errors are mandatory in the A/B family next door). Two "
        "keyed aggregates (per-user moments, then the within-sum via "
        "one broadcast join back) and 1-row scalars; every term "
        "derives from the same doubles in the same per-group order "
        "on both engines, rounded at 6 dp.",
)
def q_stats_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    g = (e.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("ni"), F.avg("value").alias("mi"))
         .localCheckpoint(eager=False))  # feeds SSB + the SSW join
    tot = e.agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mu"))
    ssb = (g.crossJoin(F.broadcast(tot))
           .agg(F.sum(F.col("ni") * (F.col("mi") - F.col("mu"))
                      * (F.col("mi") - F.col("mu"))).alias("ssb"),
                F.count(F.lit(1)).alias("k"),
                F.sum(F.col("ni") * F.col("ni")).alias("sn2")))
    ssw = (e.join(g.select("user_id", "mi"), "user_id")
           .agg(F.sum((F.col("value") - F.col("mi"))
                      * (F.col("value") - F.col("mi"))).alias("ssw")))
    msb = F.col("ssb") / (F.col("k") - 1)
    msw = F.col("ssw") / (F.col("n") - F.col("k"))
    n0 = ((F.col("n") - F.col("sn2").cast("double") / F.col("n"))
          / (F.col("k") - 1))
    return (ssb.crossJoin(F.broadcast(ssw)).crossJoin(F.broadcast(tot))
            .select(F.col("k").cast("long").alias("n_users"),
                    F.col("n").cast("long").alias("n_events"),
                    F.round(msb, 6).alias("ms_between"),
                    F.round(msw, 6).alias("ms_within"),
                    F.round((msb - msw) / (msb + (n0 - 1) * msw), 6)
                    .alias("icc")))
