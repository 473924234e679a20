"""Structured Streaming queries, drained to batch results via
``trigger(availableNow=True)`` so the driver's DuckDB oracle can check
them value-for-value against the same parquet.

These run the REAL streaming plans (FileStreamSource -> stateful
aggregation -> memory sink); availableNow makes them deterministic and
bounded. The continuous deployment path is the same code with a live
directory, a watermark, and a durable sink (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from datalake_project_spark import tuning
from datalake_project_spark.queries import register
from datalake_project_spark.streaming import (
    events_stream, run_available_now, sessionized_agg, stream_dedup,
    user_profile_stream, windowed_agg,
)


@register(
    "q_stream_tumbling_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)                AS n_events,
           ROUND(SUM(value), 2)    AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling 1-hour windowed aggregation (complete mode, "
        "availableNow drain) — value-identical to the batch/DuckDB form.",
)
def q_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        windowed_agg(events_stream(spark, sf_dir), "1 hour"), "complete",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_sliding_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts)
                    + TO_MINUTES(CAST(FLOOR(minute(ts) / 15) * 15 AS BIGINT))
                    - TO_MINUTES(CAST(i * 15 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)                AS n_events,
           ROUND(SUM(value), 2)    AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events, range(0, 4) t(i)
    GROUP BY 1, 2
    """,
    doc="Streaming sliding window (1 hour, 15-minute slide): every event "
        "contributes to 4 overlapping windows; complete-mode availableNow "
        "drain equals the batch expansion exactly.",
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        windowed_agg(events_stream(spark, sf_dir), "1 hour", slide="15 minutes"),
        "complete",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged)
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Streaming sessionization via F.session_window (30-min gap) — "
        "must equal the batch gaps-and-islands formulation exactly.",
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        sessionized_agg(events_stream(spark, sf_dir), "30 minutes"), "complete",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming first-occurrence dedup on (user_id, event_type); the "
        "watermarked bounded-state variant is exercised in unit tests.",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        stream_dedup(events_stream(spark, sf_dir), ["user_id", "event_type"]),
        "append",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_multi_batch",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
    doc="Multi-micro-batch state accumulation: the events table is "
        "re-staged as FOUR parquet files and streamed with "
        "maxFilesPerTrigger=1, so the availableNow drain runs four "
        "separate micro-batches through the stateful aggregate — the "
        "complete-mode result must equal the one-shot batch aggregate "
        "EXACTLY, which is the state-merge contract every 24/7 "
        "deployment depends on (each trigger merges partial counts/"
        "sums/distinct-sets into the state store; nothing is lost or "
        "double-counted at batch boundaries). The single-file fixture "
        "twins (q_stream_tumbling_window et al.) drain in ONE batch "
        "and so never exercise cross-batch merge; this query pins it. "
        "Throttling via maxFilesPerTrigger is also the production "
        "backfill pattern — bound per-trigger input so a month of "
        "backlog replays at bounded state/shuffle per micro-batch.",
)
def q_stream_multi_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.scratch import build_once

    ev = Catalog(spark, sf_dir).table("events") \
        .select("event_id", "user_id", "event_type", "value", "ts")
    staged = build_once(
        "stream_multibatch", sf_dir, [f"{sf_dir.rstrip('/')}/events.parquet"],
        lambda tmp: ev.repartition(4).write.parquet(tmp))
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", "1").parquet(staged))
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.size(F.collect_set("user_id")).alias("n_users"),
                F.round(F.sum("value"), 2).alias("total_value")))
    return run_available_now(agg, "complete", state_partitions=tuning.width(
        spark, "state_agg", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Bounded-state streaming dedup via dropDuplicatesWithinWatermark "
        "(Spark 3.5+): unlike plain dropDuplicates, key state is "
        "EVICTED once the watermark passes it, so a 24/7 stream's "
        "dedup state is bounded by the watermark horizon instead of "
        "the key cardinality — the only deployable form at 100 TB/day. "
        "The semantic price is that a re-occurrence arriving after its "
        "key's eviction is emitted again; the oracle arm therefore "
        "sets the watermark beyond the fixture's whole event-time span "
        "(no eviction fires), where the operator's output is provably "
        "exact DISTINCT — value-checking the full plumbing (watermark "
        "propagation, state store, append drain) while unit tests "
        "exercise the short-horizon eviction behavior. Distinct from "
        "q_stream_dedup, which pins the UNBOUNDED-state exact variant "
        "(backfill use).",
)
def q_stream_dedup_within_watermark(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    out = (events_stream(spark, sf_dir)
           .withWatermark("ts", "3650 days")
           .dropDuplicatesWithinWatermark(["user_id", "event_type"])
           .select("user_id", "event_type"))
    return run_available_now(out, "append", state_partitions=tuning.width(
        spark, "state_agg", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT s.event_id AS signup_event_id,
           e.event_id AS err_event_id,
           s.user_id,
           epoch_us(e.ts) - epoch_us(s.ts) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts
     AND e.ts < s.ts + INTERVAL 1 HOUR
    """,
    doc="Stream-stream interval join: errors within 1h after a signup of "
        "the same user, both sides watermarked so join state is evicted "
        "once the watermark passes (left rows older than watermark-1h "
        "can never match). availableNow drain equals the batch range "
        "join exactly.",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.streaming.ops import interval_join

    ev = events_stream(spark, sf_dir)
    signups = (ev.where("event_type = 'signup'")
               .select(F.col("event_id").alias("signup_event_id"),
                       "user_id", F.col("ts").alias("s_ts")))
    errors = (ev.where("event_type = 'error'")
              .select(F.col("event_id").alias("err_event_id"),
                      F.col("user_id").alias("e_user_id"),
                      F.col("ts").alias("e_ts")))
    # interval_join keys on one column name: align by renaming
    joined = interval_join(
        signups, errors.withColumnRenamed("e_user_id", "user_id"),
        on="user_id", left_ts="s_ts", right_ts="e_ts",
        upper="1 HOUR", watermark="2 hours")
    out = joined.select(
        "l.signup_event_id", "r.err_event_id", F.col("l.user_id").alias("user_id"),
        (F.unix_micros("r.e_ts") - F.unix_micros("l.s_ts")).alias("lag_us"))
    # 4-store join shape: floor 2 (see tuning.STATE_FLOORS)
    return run_available_now(out, "append", state_partitions=tuning.width(
        spark, "state_join", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_user_profile",
    oracle="""
    SELECT user_id,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           epoch_us(MIN(ts))    AS first_ts_us,
           epoch_us(MAX(ts))    AS last_ts_us
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "running per-user profile. availableNow processes the fixture in "
        "one micro-batch, so the final emitted rows equal the batch "
        "aggregate; in continuous mode each micro-batch re-emits the "
        "updated profile per active user.",
)
def q_stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python-stateful shape: floor 8 (see tuning.STATE_FLOORS)
    return run_available_now(
        user_profile_stream(events_stream(spark, sf_dir)), "append",
        state_partitions=tuning.width(spark, "state_python", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_lake_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           'b000000000' AS run_ts
    FROM events
    GROUP BY event_type
    """,
    doc="Streaming SINK path made oracle-checkable: the events stream "
        "lands in the usage layer via foreachBatch (one run_ts partition "
        "per micro-batch, dynamic partition overwrite -> exactly-once "
        "re-landing), then the landed partition is read BACK with "
        "partition pruning and aggregated. The oracle computes the same "
        "aggregate from the source table directly, so a pass proves the "
        "stream wrote every row exactly once with correct values — the "
        "streaming counterpart of q_write_roundtrip.",
)
def q_stream_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir
    from datalake_project_spark.streaming.sinks import (
        run_ts_of_batch, stream_to_lake,
    )

    root = scratch_dir("stream_lake", sf_dir)
    lake = Lake(spark, root)
    # fresh checkpoint per run: the single staged source file re-lands as
    # batch 0, and dynamic overwrite of that partition makes it idempotent
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = stream_to_lake(events_stream(spark, sf_dir), lake, "events_landed",
                       ingest_date="20240101", checkpoint_dir=ckpt)
    q.awaitTermination()
    landed = lake.read_usage("events_landed", "20240101", run_ts_of_batch(0))
    return (landed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .withColumn("run_ts", F.lit(run_ts_of_batch(0))))


@register(
    "q_stream_heavy_hitters",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, COUNT(*) AS n_occurrences
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) * 200 >= (SELECT n FROM tot)
    """,
    doc="Streaming heavy hitters: a sharded stateful Misra-Gries sketch "
        "(applyInPandasWithState, O(k) state per shard at ANY stream "
        "length) drains its candidate set via availableNow, then an "
        "exact batch recount of the candidates produces exact counts — "
        "the streaming twin of q_text_heavy_hitters, same superset-"
        "then-recount discipline, same naive oracle. The state sketch "
        "is what a 24/7 pipeline keeps where an exact per-key streaming "
        "count's state grows with the key universe.",
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.streaming.ops import mg_candidate_stream

    PHI_INV = 200
    cands = (run_available_now(
        mg_candidate_stream(events_stream(spark, sf_dir),
                            n_shards=8, k=2 * PHI_INV), "update",
        # Python-stateful shape: floor 8 (see tuning.STATE_FLOORS)
        state_partitions=tuning.width(spark, "state_python", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))
        .select("user_id").distinct())
    e = Catalog(spark, sf_dir).table("events")
    tot = e.agg(F.count(F.lit(1)).alias("n_total"))
    return (e.join(F.broadcast(cands), "user_id", "left_semi")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .crossJoin(F.broadcast(tot))
            .where(F.col("n_occurrences") * PHI_INV >= F.col("n_total"))
            .select("user_id", "n_occurrences"))


@register(
    "q_stream_static_join",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS user_id,
               CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'standard' END
                   AS tier
        FROM customer WHERE c_custkey <= 150)
    SELECT d.tier,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.tier
    """,
    doc="Stream-static join — the dimension-enrichment pattern every "
        "streaming pipeline runs (the streaming analog of the "
        "reference's gender enrichment): the event stream joins a "
        "STATIC customer-tier dimension (no watermark needed on the "
        "static side; Spark re-plans the static side per micro-batch, "
        "so a broadcast dim stays broadcast), then aggregates per "
        "tier. availableNow drain in complete mode equals the batch "
        "join+aggregate exactly. At 100 TB the dim side is the "
        "broadcast build side per micro-batch — the stream never "
        "shuffles for the join, only for the aggregate.",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.catalog import Catalog

    ev = events_stream(spark, sf_dir)
    dim = (Catalog(spark, sf_dir).table("customer")
           .where(F.col("c_custkey") <= 150)
           .select(F.col("c_custkey").alias("user_id"),
                   F.when(F.col("c_acctbal") >= 5000, "high")
                   .otherwise("standard").alias("tier")))
    joined = ev.join(F.broadcast(dim), "user_id")
    agg = (joined.groupBy("tier")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value")))
    return run_available_now(agg, "complete", state_partitions=tuning.width(
        spark, "state_agg", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


def _events_time_split(spark: SparkSession, sf_dir: str) -> str:
    """The events table staged as two files split at the median ``ts``,
    ``half0.parquet`` then ``half1.parquet`` with increasing mtimes, so
    a FileStreamSource with ``maxFilesPerTrigger=1`` drains them as two
    ordered micro-batches. Built once per fixture file
    (``scratch.build_once``) and shared by the queries that stream it;
    any time split keeps their invariants, the median only balances the
    batches."""
    import glob
    import os
    import shutil

    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.scratch import build_once

    src = f"{sf_dir.rstrip('/')}/events.parquet"

    def build(tmp: str) -> None:
        e = Catalog(spark, sf_dir).table("events")
        med = e.agg(F.percentile_approx(F.unix_micros("ts"), 0.5)
                    .alias("m")).first()["m"]
        mtime = os.path.getmtime(src)
        halves = (F.unix_micros("ts") <= med, F.unix_micros("ts") > med)
        for i, pred in enumerate(halves):
            written = os.path.join(tmp, f"_half{i}")
            e.where(pred).coalesce(1).write.parquet(written)
            dst = os.path.join(tmp, f"half{i}.parquet")
            os.replace(glob.glob(os.path.join(written, "part-*.parquet"))[0],
                       dst)
            shutil.rmtree(written)
            # FileStreamSource orders micro-batches by mtime
            os.utime(dst, (mtime + i, mtime + i))

    return build_once("stream_halves", sf_dir, [src], build)


@register(
    "q_stream_merge_upsert",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events)
    SELECT event_type, COUNT(*) AS n_users
    FROM latest WHERE rk = 1
    GROUP BY event_type
    """,
    doc="Streaming CDC MERGE: the events table is staged as two "
        "time-split files (built once per fixture file and shared "
        "with q_stream_incremental_topk) so maxFilesPerTrigger=1 yields two ordered "
        "micro-batches; each batch reduces to its latest-event-per-user "
        "rows and UPSERTS them into one lake state partition via "
        "foreachBatch + Lake.upsert (streaming/sinks."
        "stream_upsert_to_lake) — last-writer-wins per key, the "
        "materialized-view-maintenance pattern a Delta MERGE sink runs. "
        "Because the files split on event time, the post-stream state "
        "equals the BATCH latest-event-per-user, which the oracle "
        "computes directly — a pass proves per-batch reduction, "
        "cross-batch key replacement, and write->scan fidelity. State "
        "is wiped and the checkpoint is fresh each run (idempotent); "
        "at scale the per-batch payload is key-sized and only the one "
        "state partition rewrites per batch.",
)
def q_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from pyspark.sql.window import Window

    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.lake import Lake
    from datalake_project_spark.scratch import scratch_dir
    from datalake_project_spark.streaming.sinks import stream_upsert_to_lake

    root = scratch_dir("stream_merge", sf_dir)
    e = Catalog(spark, sf_dir).table("events")
    in_dir = _events_time_split(spark, sf_dir)

    lake = Lake(spark, os.path.join(root, "lake"))
    shutil.rmtree(lake.usage_path("user_state"), ignore_errors=True)
    ckpt = os.path.join(root, "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)

    def latest_per_user(batch: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"),
                                                  F.desc("event_id"))
        return (batch.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") == 1)
                .select("user_id", "event_type"))

    stream = (spark.readStream.schema(e.schema)
              .option("maxFilesPerTrigger", "1").parquet(in_dir))
    q = stream_upsert_to_lake(stream, lake, "user_state", "20240101",
                              "state", keys=["user_id"],
                              checkpoint_dir=ckpt, transform=latest_per_user)
    q.awaitTermination()

    return (lake.read_usage("user_state", "20240101", "state")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users")))


@register(
    "q_stream_outer_join",
    oracle="""
    WITH s AS (SELECT event_id AS sid, user_id, ts AS st
               FROM events WHERE event_type = 'signup'),
    e AS (SELECT event_id AS eid, user_id, ts AS et
          FROM events WHERE event_type = 'error'),
    wm AS (SELECT LEAST((SELECT MAX(st) FROM s),
                        (SELECT MAX(et) FROM e))
                  - INTERVAL 2 HOUR AS w),
    b AS (SELECT s.sid, s.user_id, s.st, e.eid, e.et
          FROM s LEFT JOIN e
            ON e.user_id = s.user_id
           AND e.et >= s.st
           AND e.et < s.st + INTERVAL 1 HOUR)
    SELECT sid AS signup_event_id, eid AS err_event_id, user_id,
           epoch_us(et) - epoch_us(st) AS lag_us
    FROM b WHERE eid IS NOT NULL
    UNION ALL
    SELECT sid, NULL, user_id, NULL
    FROM b
    WHERE eid IS NULL AND st + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
    doc="Stream-stream LEFT OUTER interval join — and an exact pin of "
        "its watermark-withholding semantics: an unmatched signup "
        "emits its null-matched row only once the GLOBAL watermark "
        "(min over both streams of max-event-time-seen minus the 2h "
        "delay) passes the end of its match window, so the stream's "
        "availableNow drain equals the batch left join MINUS the "
        "unmatched rows whose window end sits at/after that final "
        "watermark — which the oracle states verbatim "
        "(st + 1h < least(max_s, max_e) - 2h). This is the part of "
        "outer-join state eviction that silently truncates results "
        "when a pipeline drains a bounded source; the inner-join twin "
        "(q_stream_stream_join) has no such tail. Matched rows flow "
        "exactly as the inner join; null emission is the final "
        "no-data micro-batch flushing evicted left state. State "
        "remains bounded by the same interval condition at any "
        "stream length.",
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    signups = (ev.where("event_type = 'signup'")
               .select(F.col("event_id").alias("signup_event_id"),
                       "user_id", F.col("ts").alias("s_ts"))
               .withWatermark("s_ts", "2 hours").alias("l"))
    errors = (events_stream(spark, sf_dir)
              .where("event_type = 'error'")
              .select(F.col("event_id").alias("err_event_id"),
                      F.col("user_id").alias("e_user_id"),
                      F.col("ts").alias("e_ts"))
              .withWatermark("e_ts", "2 hours").alias("r"))
    cond = ((F.col("l.user_id") == F.col("r.e_user_id"))
            & (F.col("r.e_ts") >= F.col("l.s_ts"))
            & (F.col("r.e_ts") < F.col("l.s_ts")
               + F.expr("INTERVAL 1 HOUR")))
    out = (signups.join(errors, cond, "left_outer")
           .select("l.signup_event_id", "r.err_event_id",
                   F.col("l.user_id").alias("user_id"),
                   (F.unix_micros("r.e_ts") - F.unix_micros("l.s_ts"))
                   .alias("lag_us")))
    # 4-store join shape: floor 2 (see tuning.STATE_FLOORS)
    return run_available_now(out, "append", state_partitions=tuning.width(
        spark, "state_join", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_session_append",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
        SELECT user_id, ts, value,
               CAST(SUM(ns) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
        FROM flagged),
    agg AS (
        SELECT user_id,
               STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS session_value,
               MAX(ts) AS en
        FROM sess GROUP BY user_id, sid),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM agg WHERE en + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    """,
    doc="Streaming sessionization in APPEND mode — and an exact pin of "
        "which sessions the drain withholds: append emits a session "
        "only once it is provably CLOSED, i.e. the watermark "
        "(max event time - 2h delay) has passed the session's window "
        "end (last event + 30min gap), so the availableNow drain "
        "equals the batch gaps-and-islands sessions MINUS those whose "
        "window end sits at/after the final watermark — stated "
        "verbatim in the oracle (en + gap < max(ts) - delay; 943 of "
        "946 sessions at sf0.001). The COMPLETE-mode twin "
        "(q_stream_sessionize) re-emits everything and matches batch "
        "exactly; append is what a production pipeline actually runs "
        "(each session lands exactly once, state is evicted at "
        "emission), and this query documents the tail cost of that "
        "choice on a bounded drain.",
)
def q_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_available_now(
        sessionized_agg(events_stream(spark, sf_dir), "30 minutes",
                        watermark="2 hours"), "append",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))


@register(
    "q_stream_rolling_median",
    oracle="""
    WITH w5 AS (
        SELECT event_type, value,
               quantile_cont(value, 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS wn
        FROM events WHERE value IS NOT NULL),
    full5 AS (
        SELECT event_type,
               CAST(ROUND(med * 10000) AS BIGINT) AS med_ten_k,
               CAST(ROUND(ABS(value - med) * 10000) AS BIGINT)
                   AS dev_ten_k
        FROM w5 WHERE wn = 5)
    SELECT event_type, COUNT(*) AS n_windows,
           ROUND(SUM(med_ten_k)::DOUBLE / (COUNT(*) * 10000.0), 4)
               AS avg_rolling_med,
           ROUND(SUM(dev_ten_k)::DOUBLE / (COUNT(*) * 10000.0), 4)
               AS avg_abs_dev,
           ROUND(MAX(dev_ten_k) / 10000.0, 4) AS max_abs_dev
    FROM full5 GROUP BY event_type
    """,
    doc="Streaming trailing-5 rolling median per user as a CUSTOM "
        "STATEFUL operator (applyInPandasWithState, O(1) 4-row state "
        "per user at any stream length) drained via availableNow and "
        "aggregated in batch — value-checked against the IDENTICAL "
        "oracle as the batch window twin q_events_rolling_median, so "
        "a pass proves the stateful streaming formulation reproduces "
        "the batch window semantics EXACTLY: same full-window rule, "
        "same order-statistic median (sorted[2] of 5 — no "
        "interpolation anywhere), same half-away-from-zero integer "
        "ten-thousandths emission. Beside q_stream_heavy_hitters "
        "(bounded-sketch state) this is the second custom-stateful "
        "surface: bounded PER-KEY buffer state, the per-entity "
        "feature-engineering shape (trailing aggregates for fraud/"
        "anomaly scoring) every production stream runs.",
)
def q_stream_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.streaming.ops import rolling_median_stream

    # Python-stateful shape: floor 8 (see tuning.STATE_FLOORS)
    drained = run_available_now(
        rolling_median_stream(events_stream(spark, sf_dir)), "append",
        state_partitions=tuning.width(spark, "state_python", tuning.dir_bytes(
            f"{sf_dir}/events.parquet")))
    n = F.count(F.lit(1))
    return (drained.groupBy("event_type")
            .agg(n.alias("n_windows"),
                 F.round(F.sum("med_ten_k").cast("double")
                         / (n * F.lit(10000.0)), 4)
                 .alias("avg_rolling_med"),
                 F.round(F.sum("dev_ten_k").cast("double")
                         / (n * F.lit(10000.0)), 4).alias("avg_abs_dev"),
                 F.round(F.max("dev_ten_k") / F.lit(10000.0), 4)
                 .alias("max_abs_dev")))


@register(
    "q_stream_psi_monitor",
    oracle="""
    WITH windows AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-07' THEN 'base'
                    WHEN CAST(ts AS DATE) >= DATE '2024-01-22' THEN 'cur'
               END AS win,
               LEAST(9, CAST(FLOOR(value / 50.0) AS INT)) AS bucket
        FROM events WHERE value IS NOT NULL),
    counts AS (
        SELECT w.event_type, w.win, b.bucket,
               (SELECT COUNT(*) FROM windows w2
                WHERE w2.event_type = w.event_type AND w2.win = w.win
                  AND w2.bucket = b.bucket) AS n
        FROM (SELECT DISTINCT event_type, win FROM windows
              WHERE win IS NOT NULL) w
        CROSS JOIN (SELECT unnest(range(0, 10)) AS bucket) b),
    tot AS (
        SELECT event_type, win, SUM(n) AS nt FROM counts GROUP BY 1, 2),
    sm AS (
        SELECT c.event_type, c.bucket,
               MAX(CASE WHEN c.win = 'base'
                   THEN (c.n + 0.5) / (t.nt + 5.0) END) AS pb,
               MAX(CASE WHEN c.win = 'cur'
                   THEN (c.n + 0.5) / (t.nt + 5.0) END) AS pc
        FROM counts c JOIN tot t ON t.event_type = c.event_type
                                AND t.win = c.win
        GROUP BY c.event_type, c.bucket)
    SELECT event_type,
           ROUND(SUM((pc - pb) * LN(pc / pb)), 6) AS psi,
           (SUM((pc - pb) * LN(pc / pb)) >= 0.2) AS drifted
    FROM sm GROUP BY event_type
    ORDER BY event_type
    """,
    doc="STREAMING drift monitor: the live value-bucket histogram is "
        "maintained by a streaming groupBy(type, bucket) aggregation "
        "over the current window (complete-mode availableNow drain - "
        "in production this state updates per micro-batch), then the "
        "PSI against the static first-week baseline is a <=100-row "
        "batch epilogue on the drained counts - the deploy-time twin "
        "of q_events_psi_drift (identical oracle semantics, same "
        "Laplace smoothing). The expensive part (bucket counting over "
        "the event firehose) is the part that streams; the PSI "
        "arithmetic never touches row-scale data. At 100 TB/day the "
        "streaming state is (types x 10 buckets) counters - constant "
        "memory however large the stream.",
)
def q_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.catalog import Catalog

    cur_stream = (events_stream(spark, sf_dir)
                  .where(F.col("value").isNotNull()
                         & (F.to_date("ts")
                            >= F.lit("2024-01-22").cast("date")))
                  .groupBy("event_type",
                           F.least(F.lit(9),
                                   F.floor(F.col("value") / 50.0)
                                   .cast("int")).alias("bucket"))
                  .agg(F.count(F.lit(1)).alias("n")))
    cur = run_available_now(
        cur_stream, "complete",
        state_partitions=tuning.width(spark, "state_agg", tuning.dir_bytes(
            f"{sf_dir}/events.parquet"))) \
        .withColumn("win", F.lit("cur"))
    base = (Catalog(spark, sf_dir).table("events")
            .where(F.col("value").isNotNull()
                   & (F.to_date("ts") <= F.lit("2024-01-07").cast("date")))
            .groupBy("event_type",
                     F.least(F.lit(9), F.floor(F.col("value") / 50.0)
                             .cast("int")).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("win", F.lit("base")))
    # tiny (types x buckets x 2) table, consumed twice (spine + join):
    # break the shared lineage so the self-referencing join resolves
    counts = cur.unionByName(base).localCheckpoint(eager=False)
    spine = (counts.select("event_type", "win").distinct()
             .crossJoin(F.broadcast(
                 spark.range(10).select(F.col("id").cast("int")
                                        .alias("bucket")))))
    full = (spine.join(counts, ["event_type", "win", "bucket"], "left")
            .select("event_type", "win", "bucket",
                    F.coalesce("n", F.lit(0)).alias("n")))
    tot = full.groupBy("event_type", "win").agg(F.sum("n").alias("nt"))
    sm = (full.join(F.broadcast(tot), ["event_type", "win"])
          .withColumn("p", (F.col("n") + 0.5) / (F.col("nt") + 5.0))
          .groupBy("event_type", "bucket")
          .agg(F.max(F.when(F.col("win") == "base", F.col("p"))).alias("pb"),
               F.max(F.when(F.col("win") == "cur", F.col("p"))).alias("pc")))
    psi = F.sum((F.col("pc") - F.col("pb"))
                * F.log(F.col("pc") / F.col("pb")))
    return (sm.groupBy("event_type")
            .agg(F.round(psi, 6).alias("psi"),
                 (psi >= 0.2).alias("drifted"))
            .orderBy("event_type"))


@register(
    "q_stream_chained_windows",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    hourly AS (
        SELECT DATE_TRUNC('day', ts) AS day, DATE_TRUNC('hour', ts) AS hr,
               event_type,
               COUNT(*) AS n, ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2, 3),
    daily AS (
        SELECT day, event_type,
               CAST(SUM(n) AS BIGINT) AS n_events,
               COUNT(*) AS n_hours,
               ROUND(SUM(v), 2) AS total_value,
               MAX(n) AS peak_hour_events
        FROM hourly GROUP BY 1, 2)
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, event_type,
           n_events, n_hours, total_value, peak_hour_events
    FROM daily, wm WHERE day + INTERVAL 1 DAY <= wm.w
    """,
    doc="CHAINED event-time window aggregations in one streaming query "
        "(hourly per-type counts/sums -> daily rollup with hour count "
        "and peak hour) — the multiple-stateful-operators surface "
        "Spark 3.5+/4.x added: the second groupBy windows directly "
        "over the first's window STRUCT column (F.window(col('hw'), "
        "'1 day')), which is how event-time and watermark propagate "
        "between stateful operators; chained aggs REQUIRE append "
        "mode, so unlike the complete-mode twins the watermark "
        "withholding rule is part of the semantics and the oracle "
        "states it verbatim: a day window is emitted iff its END <= "
        "final watermark (max ts - 10 min), which withholds exactly "
        "the last partial day. No hourly-level rule is needed — any "
        "day passing the day filter has every hourly window end "
        "before the day's end, hence before the watermark. At 100 TB "
        "this pattern replaces the two-job pipeline (hourly stream -> "
        "lake -> daily batch) with one query whose state is hour-"
        "window-scale, then day-scale — both bounded by the time "
        "domain, never the event count. The daily mean-hour decompose "
        "is q_events_seasonal_decompose's batch shape; this is its "
        "always-on form.",
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    hourly = (ev.groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 2).alias("v")))
    daily = (hourly
             .groupBy(F.window(F.col("hw"), "1 day").alias("dw"),
                      "event_type")
             .agg(F.sum("n").alias("n_events"),
                  F.count(F.lit(1)).alias("n_hours"),
                  F.round(F.sum("v"), 2).alias("total_value"),
                  F.max("n").alias("peak_hour_events")))
    out = daily.select(F.date_format("dw.start", "yyyy-MM-dd").alias("day"),
                       "event_type", "n_events", "n_hours", "total_value",
                       "peak_hour_events")
    return run_available_now(out, "append", state_partitions=tuning.width(
        spark, "state_agg", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_scd2_enrich",
    oracle="""
    WITH dim AS (
        SELECT c_custkey AS user_id, 1 AS version,
               TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
               TIMESTAMP '2024-01-16 00:00:00' AS valid_to,
               CASE WHEN c_acctbal >= 5000 THEN 'high' ELSE 'standard' END
                   AS tier
        FROM customer WHERE c_custkey <= 150
        UNION ALL
        SELECT c_custkey, 2,
               TIMESTAMP '2024-01-16 00:00:00',
               TIMESTAMP '2024-02-01 00:00:00',
               CASE WHEN c_acctbal >= 2500 THEN 'high' ELSE 'standard' END
        FROM customer WHERE c_custkey <= 150)
    SELECT CAST(d.version AS BIGINT) AS version, d.tier,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from AND e.ts < d.valid_to
    GROUP BY d.version, d.tier
    """,
    doc="Streaming POINT-IN-TIME enrichment against an SCD2 dimension "
        "— the temporal upgrade of q_stream_static_join's current-"
        "snapshot join: the customer-tier dim carries two validity-"
        "bounded versions (a mid-month re-segmentation at 2024-01-16 "
        "lowers the 'high' threshold 5000 -> 2500), and each event "
        "joins the version whose [valid_from, valid_to) interval "
        "contains its EVENT time, not the dim's latest state — the "
        "as-of discipline q_feature_point_in_time proves in batch, "
        "here on the always-on path. The static side is broadcast per "
        "micro-batch with the range predicate evaluated inside the "
        "broadcast hash join on the user_id equality (never a "
        "nested-loop: the equi-key anchors the join, the interval is "
        "a post-filter), so the stream shuffles only for the final "
        "aggregate. availableNow drain in complete mode equals the "
        "batch temporal join exactly.",
)
def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.catalog import Catalog

    ev = events_stream(spark, sf_dir)
    cust = (Catalog(spark, sf_dir).table("customer")
            .where(F.col("c_custkey") <= 150))
    versions = F.explode(F.array(
        F.struct(F.lit(1).cast("long").alias("version"),
                 F.lit("2024-01-01 00:00:00").cast("timestamp")
                 .alias("valid_from"),
                 F.lit("2024-01-16 00:00:00").cast("timestamp")
                 .alias("valid_to"),
                 F.when(F.col("c_acctbal") >= 5000, "high")
                 .otherwise("standard").alias("tier")),
        F.struct(F.lit(2).cast("long").alias("version"),
                 F.lit("2024-01-16 00:00:00").cast("timestamp")
                 .alias("valid_from"),
                 F.lit("2024-02-01 00:00:00").cast("timestamp")
                 .alias("valid_to"),
                 F.when(F.col("c_acctbal") >= 2500, "high")
                 .otherwise("standard").alias("tier")))).alias("v")
    dim = (cust.select(F.col("c_custkey").alias("user_id"), versions)
           .select("user_id", "v.version", "v.valid_from", "v.valid_to",
                   "v.tier"))
    joined = ev.join(
        F.broadcast(dim),
        (ev["user_id"] == dim["user_id"])
        & (ev["ts"] >= dim["valid_from"]) & (ev["ts"] < dim["valid_to"]))
    agg = (joined.groupBy("version", "tier")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value")))
    return run_available_now(agg, "complete", state_partitions=tuning.width(
        spark, "state_agg", tuning.dir_bytes(f"{sf_dir}/events.parquet")))


@register(
    "q_stream_incremental_topk",
    oracle="""
    SELECT event_id, value
    FROM events
    ORDER BY value DESC, event_id LIMIT 10
    """,
    doc="Incrementally-MAINTAINED top-k via foreachBatch: the sink "
        "state is exactly the current top-10 (event_id, value) rows, "
        "and each micro-batch folds in as state = top10(state UNION "
        "batch_top10) — sound because top-k of per-row scores is a "
        "monoid (unlike top-k of running per-key sums, which needs "
        "the full key state q_stream_merge_upsert maintains). The "
        "events fixture streams as two time-split files "
        "(maxFilesPerTrigger=1 -> two ordered micro-batches, the "
        "merge-upsert staging discipline), each batch contributes a "
        "TakeOrderedAndProject of itself, and the fold touches only "
        "2k rows — so the state a 100 TB stream carries is k rows, "
        "not a key table. Atomic state swap (write tmp, rename) "
        "keeps a crashed fold from truncating state. Final state "
        "equals the batch top-10 under the (value DESC, event_id) "
        "total order regardless of how rows split across batches.",
)
def q_stream_incremental_topk(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    import os
    import shutil

    from datalake_project_spark.catalog import Catalog
    from datalake_project_spark.scratch import scratch_dir

    K = 10
    root = scratch_dir("stream_topk", sf_dir)
    e = Catalog(spark, sf_dir).table("events")
    in_dir = _events_time_split(spark, sf_dir)

    state_dir = os.path.join(root, "state")
    shutil.rmtree(state_dir, ignore_errors=True)

    def fold(batch: DataFrame, batch_id: int) -> None:
        top = (batch.select("event_id", "value")
               .orderBy(F.desc("value"), "event_id").limit(K))
        if os.path.isdir(state_dir):
            prev = batch.sparkSession.read.parquet(state_dir)
            top = (prev.unionByName(top)
                   .orderBy(F.desc("value"), "event_id").limit(K))
        tmp = state_dir + "_tmp"
        top.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(tmp, state_dir)

    stream = (spark.readStream.schema(e.schema)
              .option("maxFilesPerTrigger", "1").parquet(in_dir))
    q = (stream.writeStream.foreachBatch(fold)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(state_dir)
            .select("event_id", "value")
            .orderBy(F.desc("value"), "event_id"))
