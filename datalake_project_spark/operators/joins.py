"""Join operators beyond plain equi-joins: as-of join and range join.

Not present in the reference (its only joins are multi-column equi
left-anti, SURVEY §2.4) but part of the general engine surface for
time-series / event workloads.

Scale notes:
- ``asof_join`` uses the union + last-value-window formulation: ONE
  shuffle of (left ∪ right) on the partition keys, O(n log n) sort within
  partitions — instead of a non-equi range join whose naive plan explodes
  to a broadcast-nested-loop. This is the same strategy Flink's temporal
  join and kdb's aj use, and it scales linearly with rows per key.
- ``range_join`` keeps an equality component in the join condition so
  Spark plans a hash join on the keys with the range as a post-filter;
  a pure range predicate would fall back to nested-loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _tagged_union(left: DataFrame, right: DataFrame, on: list[str],
                  left_ts: str, right_ts: str,
                  right_cols: list[str] | None) -> tuple[DataFrame, list[str]]:
    """(u, right_cols): left rows (``_lrow``, ``_is_left`` 1) and right rows
    (``_rrow``, ``_is_left`` 0) in one stream keyed by ``on`` and ``_ts``.
    NULL-ts right rows are dropped: they never match. ``right_cols``
    defaults to every non-key right column and always holds ``right_ts``."""
    right_cols = right_cols or [c for c in right.columns if c not in on]
    if right_ts not in right_cols:
        right_cols = [right_ts, *right_cols]
    right = right.where(F.col(right_ts).isNotNull())

    l_tagged = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
    )
    r_tagged = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_rrow"),
    )
    return r_tagged.unionByName(l_tagged, allowMissingColumns=True), right_cols


def _unpack(matched: DataFrame, left: DataFrame, right_cols: list[str],
            suffix: str) -> DataFrame:
    """Each left row's own columns, then its ``_match`` right columns
    suffixed."""
    out_cols = [F.col(f"_lrow.{c}").alias(c) for c in left.columns]
    out_cols += [F.col(f"_match.{c}").alias(f"{c}{suffix}") for c in right_cols]
    return matched.select(*out_cols)


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              left_ts: str, right_ts: str,
              right_cols: list[str] | None = None,
              suffix: str = "_right",
              tolerance_seconds: float | None = None) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right.ts <= left.ts`` within the same ``on`` group (backward as-of,
    inclusive). Right columns come back suffixed; unmatched -> NULL.

    NULL timestamps: pandas ``merge_asof`` (the stated contract)
    rejects NaT keys outright; a distributed plan can't raise per-row,
    so the defined semantics here are the closest total extension —
    a NULL-ts RIGHT row never matches anything (dropped before the
    union), and a NULL-ts LEFT row is kept in the output with a NULL
    match. Without this guard a null ts sorts FIRST in the window
    ordering and silently produces an arbitrary match.
    """
    u, right_cols = _tagged_union(left, right, on, left_ts, right_ts,
                                  right_cols)
    # Right rows sort before left rows at equal _ts (=> inclusive match).
    w = (Window.partitionBy(*on).orderBy("_ts", "_is_left")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = (
        u.withColumn("_match", F.last("_rrow", ignorenulls=True).over(w))
        .where(F.col("_is_left") == 1)
    )
    if tolerance_seconds is not None:
        in_tol = (
            F.col("_match").isNotNull()
            & (F.unix_micros(F.col("_ts")) - F.unix_micros(F.col(f"_match.{right_ts}"))
               <= F.lit(int(tolerance_seconds * 1_000_000)))
        )
        matched = matched.withColumn("_match", F.when(in_tol, F.col("_match")))

    return _unpack(matched, left, right_cols, suffix)


def asof_join_nearest(left: DataFrame, right: DataFrame, on: list[str],
                      left_ts: str, right_ts: str,
                      right_cols: list[str] | None = None,
                      suffix: str = "_right",
                      tolerance_seconds: float | None = None) -> DataFrame:
    """NEAREST as-of: for each left row, the right row minimizing
    ``|right.ts - left.ts|`` within the ``on`` group (pandas
    ``merge_asof(direction='nearest')``; :func:`asof_join` is the
    backward-only variant). Tie at equal distance — including the
    exact-timestamp case — resolves BACKWARD (the row at-or-before
    wins), so results are deterministic whenever the right side's
    output columns are unique per (group, ts).

    Same single-shuffle shape as the backward join: right and left
    rows union-tag into one stream partitioned by the group key; a
    backward window (last right at-or-before) and a forward window
    (first right at-or-after) share the exchange and differ only in
    sort direction of the tie-break column, then one expression picks
    the closer side. ``tolerance_seconds`` nulls matches farther than
    the bound. At 100 TB this is one keyed exchange + two in-partition
    sorts — no join blow-up, no per-row subquery.

    NULL timestamps: NULL-ts right rows never match (filtered before
    the union); NULL-ts left rows are kept with a NULL match — the
    deterministic total extension of merge_asof's reject-NaT contract.
    """
    # NULL-ts guard (same contract as asof_join): without it a null ts
    # sorts FIRST in both window orderings and the forward window hands
    # such a left row an arbitrary first-right-row match.
    u, right_cols = _tagged_union(left, right, on, left_ts, right_ts,
                                  right_cols)

    # backward: right rows sort BEFORE left at equal _ts -> inclusive
    wb = (Window.partitionBy(*on).orderBy("_ts", "_is_left")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # forward: right rows sort AFTER left at equal _ts -> inclusive
    wf = (Window.partitionBy(*on).orderBy("_ts", F.desc("_is_left"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    matched = (u
               .withColumn("_back", F.last("_rrow", ignorenulls=True).over(wb))
               .withColumn("_fwd", F.first("_rrow", ignorenulls=True).over(wf))
               .where(F.col("_is_left") == 1))

    d_back = (F.unix_micros(F.col("_ts"))
              - F.unix_micros(F.col(f"_back.{right_ts}")))
    d_fwd = (F.unix_micros(F.col(f"_fwd.{right_ts}"))
             - F.unix_micros(F.col("_ts")))
    # nearest, backward on ties; NULL side loses automatically
    take_back = (F.col("_fwd").isNull()
                 | (F.col("_back").isNotNull() & (d_back <= d_fwd)))
    matched = matched.withColumn(
        "_match", F.when(take_back, F.col("_back")).otherwise(F.col("_fwd")))
    # NULL-ts left rows: defined as no-match (see docstring), not the
    # arbitrary forward row the null-first sort would otherwise pick.
    matched = matched.withColumn(
        "_match", F.when(F.col("_ts").isNotNull(), F.col("_match")))
    if tolerance_seconds is not None:
        dist = F.abs(F.unix_micros(F.col(f"_match.{right_ts}"))
                     - F.unix_micros(F.col("_ts")))
        in_tol = (F.col("_match").isNotNull()
                  & (dist <= F.lit(int(tolerance_seconds * 1_000_000))))
        matched = matched.withColumn("_match",
                                     F.when(in_tol, F.col("_match")))

    return _unpack(matched, left, right_cols, suffix)


def range_join(left: DataFrame, right: DataFrame, condition: Column,
               how: str = "inner", on: list[str] | None = None) -> DataFrame:
    """Equi-keys + range condition join.

    The condition MUST contain at least one equality component (pass
    ``on`` for distinct-source inputs, or embed ``F.col("l.k") ==
    F.col("r.k")`` in ``condition`` for aliased self-joins): Catalyst
    extracts the equi part and plans a hash/sort-merge join with the
    range predicate as a join filter, instead of a nested loop.
    """
    cond = condition
    for k in (on or []):
        cond = (left[k] == right[k]) & cond
    return left.join(right, cond, how)
