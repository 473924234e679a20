"""Streaming operators: event-time windows, sessions, dedup, custom state.

Each operator is the streaming formulation of a batch query in
``datalake_project_spark.queries.events`` — same semantics, verified
against the same DuckDB oracles by draining the stream with
``trigger(availableNow=True)`` (one deterministic pass over all files).

Execution model at scale: streaming aggregations shuffle by their group
key exactly like batch; state lives in the HDFS/RocksDB state store
partitioned by that key, so a 1000-executor cluster holds 1/1000 of the
state per executor. Watermarks bound state growth for append-mode
continuous deployment; ``complete`` mode (used by the availableNow
backfill path) keeps the full aggregate, appropriate for bounded
backfills only.
"""

from __future__ import annotations

import itertools
import threading
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

_query_seq = itertools.count()

# Serializes the shuffle-width conf around each drain: the conf is
# session-global, so two overlapping drains (or a drain overlapping a
# batch query that reads the conf) could interleave save/restore and
# leave the session at a drain's temporary width — the exact race the
# r12 ADVICE flagged once run_pipeline introduced driver-thread
# parallelism. Held for the WHOLE drain (set -> start -> await ->
# restore), not just start(): the width is read at micro-batch planning
# time, which happens during execution.
_conf_lock = threading.Lock()


def run_available_now(stream_df: DataFrame, output_mode: str,
                      state_partitions: int | None = None) -> DataFrame:
    """Drain a streaming DataFrame to a batch result: process every
    available file with ``trigger(availableNow=True)``, sink to memory,
    return the sink's rows. Test/backfill entry point — the SAME
    streaming plan that would run continuously, executed to exhaustion.
    The sink's temp view is dropped once the result frame is resolved:
    the frame keeps the sink itself, so the session holds no view per
    drain.

    ``state_partitions`` (derive it with a ``tuning.width`` state
    kind) sizes the stateful shuffle — and with it the state-store
    instance count — for THIS query only: the conf is set for the
    ``start()`` call, which freezes it into the query's (ephemeral)
    checkpoint, and restored right after the drain. Without it the query inherits the session's batch
    shuffle width, which at fixture scale means 32-128 state-store
    instances each paying fixed per-commit overhead for a few KB of
    state (the r12 diagnosis: ~95% of stream-join wall in state
    commits; see tuning.py's state-store notes for numbers)."""
    spark = stream_df.sparkSession
    name = f"dlps_stream_sink_{next(_query_seq)}"
    with _conf_lock:
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(state_partitions))
        try:
            q = (
                stream_df.writeStream.format("memory").queryName(name)
                .outputMode(output_mode).trigger(availableNow=True).start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def windowed_agg(events: DataFrame, window: str = "1 hour",
                 slide: str | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) event-time window aggregation
    per event_type: count, total value, distinct users.

    Streaming disallows exact ``countDistinct``; ``collect_set`` size is
    the exact equivalent (bounded by users-per-window — for heavy keys
    switch to ``approx_count_distinct``).
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.size(F.collect_set("user_id")).alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "total_value", "n_users",
        )
    )


def sessionized_agg(events: DataFrame, gap: str = "30 minutes",
                    watermark: str | None = None) -> DataFrame:
    """Per-user sessions with an inactivity gap via ``F.session_window``
    — the streaming-native form of the batch gaps-and-islands query
    (q_events_sessionize). Session bounds are reported as min/max event
    time (not window end = last+gap) so both formulations agree."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select("user_id", "session_start", "session_end",
                "n_events", "session_value")
    )


def stream_dedup(events: DataFrame, keys: list[str],
                 watermark: str | None = None) -> DataFrame:
    """First-occurrence dedup over a stream. With ``watermark`` the state
    is BOUNDED (``dropDuplicatesWithinWatermark`` evicts keys older than
    the watermark) — the only viable form for a 24/7 stream; without it,
    exact global dedup with unbounded state (backfill use)."""
    projected = events.select(*keys) if watermark is None else events
    if watermark is not None:
        return (
            projected.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys)
        )
    return projected.dropDuplicates(keys)


def interval_join(left: DataFrame, right: DataFrame, on: str,
                  left_ts: str, right_ts: str, upper: str,
                  watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join: right events within
    ``[left_ts, left_ts + upper)`` of a matching left event.

    Both sides carry a watermark and the join condition bounds event-time
    distance, which is what lets Spark EVICT join state: a left row older
    than (watermark - upper) can never match future right rows, so its
    state is dropped. Without the time bound, stream-stream join state
    grows forever — this operator encodes the bounded form only.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") < F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner")


# --- custom stateful operator: running per-user profile -------------------

PROFILE_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
    StructField("first_ts_us", LongType()),
    StructField("last_ts_us", LongType()),
])

_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("tot", DoubleType()),
    StructField("first_us", LongType()),
    StructField("last_us", LongType()),
])


def _update_profile(key: Tuple, pdfs: Iterator[pd.DataFrame],
                    state: GroupState) -> Iterator[pd.DataFrame]:
    """Arrow-batched state update: fold this micro-batch's events into the
    user's running (count, sum, first, last) and emit the refreshed row."""
    n, tot, first_us, last_us = state.get if state.exists else (0, 0.0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        tot += float(pdf["value"].sum())
        us = pdf["ts"].astype("int64") // 1000
        mn, mx = int(us.min()), int(us.max())
        first_us = mn if first_us is None else min(first_us, mn)
        last_us = mx if last_us is None else max(last_us, mx)
    state.update((n, tot, first_us, last_us))
    yield pd.DataFrame({
        "user_id": [key[0]], "n_events": [n],
        "total_value": [round(tot, 2)],
        "first_ts_us": [first_us], "last_ts_us": [last_us],
    })


def user_profile_stream(events: DataFrame) -> DataFrame:
    """Running per-user profile as a CUSTOM stateful operator
    (``applyInPandasWithState``): the streaming generalization of the
    reference's per-account snapshot state, which it rebuilds from disk
    every hour (`scripts/script_api_apify_to_spark.py:214-248`). One row
    per user per micro-batch reflecting all events seen so far; state is
    partitioned by user_id across the cluster.

    Only the columns the fold reads cross the Python boundary (guide
    §4: Spark cannot see which columns an opaque function touches and
    would otherwise ship the whole row through Arrow — r13 measured
    ~10% of the drain wall in the unused event_id/event_type columns).
    """
    return (events.select("user_id", "value", "ts")
            .groupBy("user_id").applyInPandasWithState(
                _update_profile, PROFILE_SCHEMA, _STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout,
            ))


_MG_OUT_SCHEMA = StructType([
    StructField("shard", IntegerType()),
    StructField("user_id", LongType()),
])

_MG_STATE_SCHEMA = StructType([
    StructField("keys", ArrayType(LongType())),
    StructField("counts", ArrayType(LongType())),
])


def _make_mg_update(k: int):
    """Per-shard batched Misra-Gries over a stream: state is the bounded
    (keys, counts) counter table; each micro-batch folds its counts in
    and compacts to <= k counters (subtract the (|d|-k)-th smallest,
    drop non-positives — the mergeable-summaries step, identical to the
    batch operator in operators/sketches.py). Emits the current
    candidate set each batch; the union over batches can only ADD
    candidates, so the drained output remains a superset of the true
    heavy hitters."""
    def _update(key: Tuple, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
        keys, counts = state.get if state.exists else ([], [])
        d = dict(zip(keys, counts))
        for pdf in pdfs:
            for u, c in pdf["user_id"].value_counts().items():
                d[int(u)] = d.get(int(u), 0) + int(c)
            if len(d) > k:
                vals = sorted(d.values())
                dec = vals[len(d) - k - 1]
                d = {t: c - dec for t, c in d.items() if c > dec}
        state.update((list(d.keys()), list(d.values())))
        yield pd.DataFrame({"shard": [key[0]] * len(d),
                            "user_id": list(d.keys())})
    return _update


def mg_candidate_stream(events: DataFrame, n_shards: int = 8,
                        k: int = 256) -> DataFrame:
    """Streaming heavy-hitter CANDIDATES via sharded stateful
    Misra-Gries (``applyInPandasWithState``). State is O(k) per shard
    regardless of stream length — the bounded-memory frequency sketch a
    24/7 pipeline keeps, where an exact per-key count's state grows with
    the key universe. All instances of a key land in one shard
    (pmod(user_id, n_shards)), so a globally phi-heavy key is heavy in
    its shard and survives MG there (k+1 > phi_inv required); an exact
    batch recount of the drained candidates then yields exact results
    (see queries/streaming.q_stream_heavy_hitters)."""
    sharded = events.select(
        F.pmod(F.col("user_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "user_id")
    return sharded.groupBy("shard").applyInPandasWithState(
        _make_mg_update(k), _MG_OUT_SCHEMA, _MG_STATE_SCHEMA,
        "update", GroupStateTimeout.NoTimeout,
    )


_RM_OUT_SCHEMA = StructType([
    StructField("event_type", StringType()),
    StructField("med_ten_k", LongType()),
    StructField("dev_ten_k", LongType()),
])

_RM_STATE_SCHEMA = StructType([
    StructField("ts", ArrayType(LongType())),
    StructField("eid", ArrayType(LongType())),
    StructField("val", ArrayType(DoubleType())),
])


def _r10k(x: float) -> int:
    """Round-half-away-from-zero to integer ten-thousandths — the same
    decimal rounding Spark's round(x*10000, 0) (HALF_UP) and DuckDB's
    ROUND apply to the identical double product, so streaming emissions
    are bit-comparable with the batch twin."""
    import math
    y = x * 10000.0
    return (int(math.floor(y + 0.5)) if y >= 0
            else -int(math.floor(-y + 0.5)))


def _rm_update(key: Tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user trailing-5 rolling median: state is the last FOUR
    (ts, event_id, value) triples — O(1) per key at any stream length.
    Each arriving row closes a 5-row window; full windows emit the
    exact order-statistic median (sorted[2] of 5) and the absolute
    deviation, both as integer ten-thousandths. Rows within a batch
    are sorted by (ts, event_id); cross-batch order relies on the
    source's bounded-lateness delivery (the availableNow drain over
    the staged fixture is a single ordered batch, and the batch twin
    q_events_rolling_median is the oracle either way)."""
    if state.exists:
        ts_s, eid_s, val_s = state.get
        buf = list(zip(ts_s, eid_s, val_s))
    else:
        buf = []
    pdf = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
    out_et, out_med, out_dev = [], [], []
    for ts, eid, v, et in zip(pdf["ts_us"], pdf["event_id"],
                              pdf["value"], pdf["event_type"]):
        window = buf + [(int(ts), int(eid), float(v))]
        if len(window) == 5:
            vals = sorted(w[2] for w in window)
            med = vals[2]
            out_et.append(et)
            out_med.append(_r10k(med))
            out_dev.append(_r10k(abs(float(v) - med)))
        buf = window[-4:]
    state.update((
        [w[0] for w in buf], [w[1] for w in buf], [w[2] for w in buf]))
    yield pd.DataFrame({"event_type": out_et,
                        "med_ten_k": pd.Series(out_med, dtype="int64"),
                        "dev_ten_k": pd.Series(out_dev, dtype="int64")})


def rolling_median_stream(events: DataFrame) -> DataFrame:
    """Streaming trailing-5-event rolling median per user via
    ``applyInPandasWithState`` — the custom-stateful formulation of
    queries/robust.q_events_rolling_median. State per user is the
    4-row trailing buffer (bounded, unlike a grouped collect), keyed
    shuffle on user_id exactly like the batch window's partitioning;
    at 100 TB the state store holds 4 rows per active user per
    executor shard."""
    rows = (events
            .where(F.col("value").isNotNull())
            .select("user_id", "event_id", "event_type", "value",
                    F.unix_micros(F.col("ts")).alias("ts_us")))
    return rows.groupBy("user_id").applyInPandasWithState(
        _rm_update, _RM_OUT_SCHEMA, _RM_STATE_SCHEMA,
        "append", GroupStateTimeout.NoTimeout,
    )
