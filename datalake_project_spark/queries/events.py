"""Event/time-series queries over the `events` table: tumbling windows,
sessionization, as-of join, range join.

Batch formulations here (with DuckDB oracles); the streaming module
(`datalake_project_spark.streaming`) exposes the same window/dedup
semantics over Structured Streaming sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from datalake_project_spark.catalog import Catalog
from datalake_project_spark.operators.joins import asof_join, range_join
from datalake_project_spark.queries import local_df, register


@register(
    "q_events_tumbling_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)              AS n_events,
           ROUND(SUM(value), 2)  AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour window aggregation (batch form of the streaming "
        "windowed agg; F.window start == epoch-aligned hour truncation).",
)
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "total_value", "n_users",
        )
    )


@register(
    "q_events_sliding_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts)
                    + TO_MINUTES(CAST(FLOOR(minute(ts) / 15) * 15 AS BIGINT))
                    - TO_MINUTES(CAST(i * 15 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)             AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events, range(0, 4) t(i)
    GROUP BY 1, 2
    """,
    doc="Sliding 1-hour window, 15-minute slide: every event lands in "
        "exactly 4 windows (starts at the 4 preceding 15-min marks). "
        "F.window(ts, '1 hour', '15 minutes') expands to the same set.",
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


@register(
    "q_events_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Sessionization with a 30-minute inactivity gap (gaps-and-islands: "
        "lag -> new-session flag -> running sum -> per-session agg). One "
        "shuffle on user_id serves both windows and the final group-by. "
        "Streaming equivalent: F.session_window (streaming module).",
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 1800 * 1_000_000
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


@register(
    "q_events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS c_ts
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts >= s.s_ts
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
        GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after,
           (SELECT COUNT(*) FROM p) AS n_purchase_after
    """,
    doc="Ordered conversion funnel signup -> click -> purchase: per user, "
        "the first click at-or-after the first signup, then the first "
        "purchase at-or-after that click; output is the user count "
        "surviving each stage. ONE events scan + one shuffle on user_id: "
        "the per-user stage timestamps come from a single conditional "
        "aggregate (min signup ts + per-type ts lists, bounded by "
        "per-user event cardinality), then array_min(filter(...)) chains "
        "the at-or-after conditions without re-scanning — the chained "
        "three-join formulation recomputed stage 1 inside stages 2 and 3.",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one pivoted per-user pass: first signup, first click >= that
    # signup, first purchase >= that click, all from a single per-user
    # conditional-min aggregate — the events scan runs ONCE (the chained
    # three-join formulation recomputed stage 1 inside stages 2 and 3).
    e = Catalog(spark, sf_dir).table("events")
    per_user = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
             .alias("s_ts"),
             F.collect_list(
                 F.when(F.col("event_type") == "click", F.col("ts")))
             .alias("click_ts"),
             F.collect_list(
                 F.when(F.col("event_type") == "purchase", F.col("ts")))
             .alias("purchase_ts")))
    staged = (
        per_user
        .withColumn("c_ts", F.array_min(F.filter(
            "click_ts", lambda t: t >= F.col("s_ts"))))
        .withColumn("p_ts", F.array_min(F.filter(
            "purchase_ts", lambda t: t >= F.col("c_ts")))))
    return staged.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"))


@register(
    "q_events_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id)
    SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort_day,
           day_offset,
           COUNT(*) AS n_active
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
    doc="Cohort retention matrix: users grouped by first-seen day, "
        "counted distinct-active at each day offset 0..7 — the classic "
        "product-analytics triangle over the events table. One shuffle "
        "to build the per-user cohort day (a metadata-sized table that "
        "broadcasts), one distinct + group-by for the matrix.",
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    first_seen = (e.groupBy("user_id")
                  .agg(F.min(F.to_date("ts")).alias("cohort_day")))
    activity = (
        e.join(F.broadcast(first_seen), "user_id")
        .select("user_id", "cohort_day",
                F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"))
        .distinct())
    return (activity.where(F.col("day_offset") <= 7)
            .groupBy(F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
                     "day_offset")
            .agg(F.count(F.lit(1)).alias("n_active")))


@register(
    "q_asof_join",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           epoch_us(e.ts)              AS err_ts_us,
           s.event_id                  AS signup_event_id,
           epoch_us(s.ts)              AS signup_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    doc="Backward as-of join: each error event matched to the latest "
        "prior-or-equal signup of the same user. Implemented union+window "
        "(one shuffle on user_id) — not a nested-loop range join.",
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_event_id"), "ts")
    joined = asof_join(errors, signups, on=["user_id"], left_ts="ts", right_ts="ts",
                       right_cols=["signup_event_id", "ts"], suffix="_s")
    return joined.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("err_ts_us"),
        F.col("signup_event_id_s").alias("signup_event_id"),
        F.unix_micros("ts_s").alias("signup_ts_us"),
    )


@register(
    "q_asof_join_nearest",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'click' AND user_id % 20 = 0),
    purch AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    cand AS (
        SELECT c.event_id, c.user_id, c.ts, p.ts AS pts,
               ABS(epoch_us(c.ts) - epoch_us(p.ts)) AS d_us,
               CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END AS side
        FROM clicks c JOIN purch p USING (user_id)),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                     ORDER BY d_us, side) AS rn
        FROM cand)
    SELECT c.event_id, c.user_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(b.pts) AS purchase_ts_us,
           CAST(b.d_us AS BIGINT) AS dist_us
    FROM clicks c
    LEFT JOIN (SELECT * FROM best
               WHERE rn = 1 AND d_us <= CAST(86400 AS BIGINT) * 1000000) b
      USING (event_id)
    """,
    doc="NEAREST as-of join (pandas merge_asof direction='nearest'; "
        "q_asof_join is the backward variant): each sampled click "
        "matched to the same user's CLOSEST purchase in either time "
        "direction, within a 24 h tolerance — the feature-attachment "
        "shape when causality can run both ways (a purchase shortly "
        "BEFORE a click is as relevant as one after). Distance ties "
        "resolve backward (at-or-before wins), pinned identically in "
        "the oracle's (distance, side) ranking. One exchange on "
        "user_id serves both the backward and forward windows (they "
        "differ only in the tie-column sort direction); the oracle "
        "states the same nearest-row semantics as a candidate "
        "self-join + rank, which is O(clicks x purchases-per-user) — "
        "fine for DuckDB at sf0.01, while the engine's window form is "
        "the 100 TB-safe O(n log n). "
        "operators/joins.py:asof_join_nearest.",
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.operators.joins import asof_join_nearest

    e = Catalog(spark, sf_dir).table("events")
    clicks = (e.where((F.col("event_type") == "click")
                      & (F.col("user_id") % 20 == 0))
              .select("event_id", "user_id", "ts"))
    purch = (e.where(F.col("event_type") == "purchase")
             .select("user_id", "ts"))
    joined = asof_join_nearest(clicks, purch, on=["user_id"],
                               left_ts="ts", right_ts="ts",
                               right_cols=["ts"], suffix="_p",
                               tolerance_seconds=86400)
    return joined.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
        F.unix_micros("ts_p").alias("purchase_ts_us"),
        F.abs(F.unix_micros("ts_p") - F.unix_micros("ts"))
        .alias("dist_us"))


@register(
    "q_range_join",
    oracle="""
    SELECT s.event_id AS signup_event_id,
           COUNT(*)   AS n_follow,
           ROUND(SUM(f.value), 2) AS follow_value
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN events f
      ON f.user_id = s.user_id
     AND f.ts >= s.ts
     AND f.ts < s.ts + INTERVAL 1 HOUR
    GROUP BY s.event_id
    """,
    doc="Range join: activity within 1h after each signup. The user_id "
        "equality keeps it a hash join with the range as join filter.",
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    s = e.where(F.col("event_type") == "signup").alias("s")
    f = e.alias("f")
    joined = range_join(
        s, f,
        condition=(F.col("f.user_id") == F.col("s.user_id"))
        & (F.col("f.ts") >= F.col("s.ts"))
        & (F.col("f.ts") < F.col("s.ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.groupBy(F.col("s.event_id").alias("signup_event_id")).agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.round(F.sum(F.col("f.value")), 2).alias("follow_value"),
    )

@register(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="User-journey transition counts (the first-order Markov matrix of "
        "event sequences — funnel discovery, next-action modeling): lag "
        "over each user's (ts, event_id)-ordered stream, then one "
        "group-by over (prev, next). The sessionize shuffle on user_id "
        "serves the window; the transition matrix is event-type² rows — "
        "metadata-sized at any corpus scale.",
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_transitions(spark, sf_dir)
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n_transitions")))


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event after a user's first, with ``prev_type``: the type of
    the same user's previous event in (ts, event_id) order."""
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return seq.where(F.col("prev_type").isNotNull())


def _transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, t, n): how often a type-s event is followed by a type-t event
    of the same user."""
    return (_transitions(spark, sf_dir)
            .groupBy(F.col("prev_type").alias("s"),
                     F.col("event_type").alias("t"))
            .agg(F.count(F.lit(1)).alias("n")))


def _hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, bucket, n, v): per-type hourly event count and value
    sum, left-joined onto the dense (type x hour) spine between the first
    and last event, so empty hours carry NULLs."""
    e = Catalog(spark, sf_dir).table("events")
    counts = (e.groupBy("event_type",
                        F.date_trunc("hour", F.col("ts")).alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("value"), 2).alias("v")))
    bounds = e.agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
                   F.date_trunc("hour", F.max("ts")).alias("hi"))
    types = e.select("event_type").distinct()
    spine = (types.crossJoin(F.broadcast(bounds))
             .select("event_type",
                     F.explode(F.sequence(
                         "lo", "hi", F.expr("interval 1 hour"))).alias("bucket")))
    return spine.join(counts, ["event_type", "bucket"], "left")


@register(
    "q_events_gapfill",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                      COUNT(*) AS n, ROUND(SUM(value), 2) AS v
               FROM events GROUP BY 1, 2),
    bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                      date_trunc('hour', MAX(ts)) AS hi FROM events),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(bounds.lo, bounds.hi,
                                      INTERVAL 1 HOUR)) AS bucket
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds)
    SELECT s.event_type,
           STRFTIME(s.bucket, '%Y-%m-%d %H:00') AS bucket_s,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_events,
           COALESCE(b.v, 0.0) + 0.0 AS value_sum
    FROM spine s
    LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket
    """,
    doc="Time-bucket gap-fill (the hypertable/timescale rollup "
        "pattern): hourly counts and value sums per event type with "
        "EVERY bucket in [min, max] present — missing hours filled "
        "with zeros, the contract a downstream forecaster or anomaly "
        "detector needs. The dense spine is generated in-plan "
        "(1-row min/max aggregate broadcast-crossJoined to the "
        "distinct types, then sequence+explode — no driver action, no "
        "calendar table); the left join is spine-sized "
        "(types x hours, metadata-scale at any corpus size), so the "
        "only corpus-sized work is the one groupBy.",
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _hourly_gapfill(spark, sf_dir)
        .select("event_type",
                F.date_format("bucket", "yyyy-MM-dd HH:00").alias("bucket_s"),
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
                (F.coalesce(F.col("v"), F.lit(0.0)) + F.lit(0.0)).alias("value_sum"))
    )


@register(
    "q_events_gapfill_interpolate",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                      COUNT(*) AS n, ROUND(SUM(value), 2) AS v
               FROM events GROUP BY 1, 2),
    bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                      date_trunc('hour', MAX(ts)) AS hi FROM events),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(bounds.lo, bounds.hi,
                                      INTERVAL 1 HOUR)) AS bucket
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds),
    j AS (
        SELECT s.event_type, s.bucket,
               CAST(epoch(s.bucket) AS BIGINT) / 3600 AS hr,
               b.n, b.v
        FROM spine s
        LEFT JOIN b ON s.event_type = b.event_type AND s.bucket = b.bucket),
    ctx AS (
        SELECT event_type, bucket, hr, n, v,
               LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER wb AS ph,
               FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER wf AS nh
        FROM j
        WINDOW wb AS (PARTITION BY event_type ORDER BY hr
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY hr
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type,
           STRFTIME(bucket, '%Y-%m-%d %H:00') AS bucket_s,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           -- +1e-6 before ROUND: interpolated midpoints of 2-dec values
           -- land exactly on .005 boundaries, where Spark (decimal-repr
           -- HALF_UP) and DuckDB (binary-double) disagree by one cent;
           -- the epsilon pushes both engines off the boundary the same
           -- way and is invisible at any non-boundary value.
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (nv - pv) * (hr - ph) / (nh - ph)
                      END + 1e-6, 2) + 0.0 AS value_filled
    FROM ctx
    """,
    doc="Gap-fill with LINEAR INTERPOLATION (the TimescaleDB "
        "interpolate() mode, companion of q_events_gapfill's zero-fill): "
        "a missing hour takes pv + (nv-pv)*(t-p)/(n-p) between its "
        "nearest present neighbors; buckets outside a type's support "
        "stay NULL. Same in-plan dense spine; the neighbor lookup is "
        "last/first IGNORE NULLS over the per-type hour order — ONE "
        "shuffle on event_type serves both window directions, and the "
        "windows run over the spine (types x hours, metadata-scale), "
        "never the raw events.",
)
def q_events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = (_hourly_gapfill(spark, sf_dir)
         .withColumn("hr", (F.unix_timestamp("bucket") / 3600).cast("long")))
    wb = (Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("event_type").orderBy("hr")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    present_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    ctx = (j.withColumn("pv", F.last("v", ignorenulls=True).over(wb))
           .withColumn("ph", F.last(present_hr, ignorenulls=True).over(wb))
           .withColumn("nv", F.first("v", ignorenulls=True).over(wf))
           .withColumn("nh", F.first(present_hr, ignorenulls=True).over(wf)))
    interp = (F.col("pv")
              + (F.col("nv") - F.col("pv"))
              * (F.col("hr") - F.col("ph")) / (F.col("nh") - F.col("ph")))
    return ctx.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:00").alias("bucket_s"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        # +1e-6 pre-round: see oracle comment (cross-engine .005 ties)
        (F.round(F.when(F.col("v").isNotNull(), F.col("v"))
                 .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(),
                       interp) + F.lit(1e-6), 2) + F.lit(0.0))
        .alias("value_filled"))


@register(
    "q_events_anomaly_zscore",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                      ROUND(SUM(value), 2) AS v
               FROM events GROUP BY 1, 2),
    ctx AS (
        SELECT event_type, bucket, v,
               AVG(v) OVER w AS mu,
               STDDEV_SAMP(v) OVER w AS sigma,
               COUNT(*) OVER w AS n_prior
        FROM b
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type,
           STRFTIME(bucket, '%Y-%m-%d %H:00') AS bucket_s,
           v,
           ROUND((v - mu) / sigma, 3) + 0.0 AS zscore,
           ABS((v - mu) / sigma) > 3.0 AS is_anomaly
    FROM ctx
    WHERE n_prior >= 12 AND sigma > 0
    """,
    doc="Trailing-window anomaly detection: each hourly value scored "
        "against the mean/stddev of its own previous 24 buckets "
        "(self-exclusive frame), |z| > 3 flagged — the monitoring query "
        "a pipeline runs on every metric stream. One shuffle on "
        "event_type; the window frame is bounded (24 rows) so state is "
        "O(frame) per key at any history length. Warm-up rows "
        "(< 12 priors) and zero-variance frames are excluded on both "
        "sides.",
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    b = (e.groupBy("event_type",
                   F.date_trunc("hour", F.col("ts")).alias("bucket"))
         .agg(F.round(F.sum("value"), 2).alias("v")))
    w = (Window.partitionBy("event_type").orderBy("bucket")
         .rowsBetween(-24, -1))
    ctx = (b.withColumn("mu", F.avg("v").over(w))
           .withColumn("sigma", F.stddev_samp("v").over(w))
           .withColumn("n_prior", F.count("v").over(w)))
    z = (F.col("v") - F.col("mu")) / F.col("sigma")
    return (ctx.where((F.col("n_prior") >= 12) & (F.col("sigma") > 0))
            .select("event_type",
                    F.date_format("bucket", "yyyy-MM-dd HH:00").alias("bucket_s"),
                    "v",
                    (F.round(z, 3) + F.lit(0.0)).alias("zscore"),
                    (F.abs(z) > 3.0).alias("is_anomaly")))


_ZSCORE_SCHEMA = "event_id long, user_id long, z double"


def _zscore_group(pdf):
    # population std via the same two-moment formula as the oracle;
    # no type hints on purpose (applyInPandas passes schema explicitly)
    m = pdf["value"].mean()
    s = ((pdf["value"] ** 2).mean() - m * m) ** 0.5
    z = (pdf["value"] - m) / s if s > 0 else pdf["value"] * 0.0
    out = pdf[["event_id", "user_id"]].copy()
    out["z"] = z.round(4) + 0.0
    return out


@register(
    "q_group_zscore",
    oracle="""
    WITH st AS (
        SELECT user_id, AVG(value) AS m,
               SQRT(AVG(value * value) - AVG(value) * AVG(value)) AS s
        FROM events GROUP BY user_id)
    SELECT e.event_id, e.user_id,
           ROUND(CASE WHEN st.s > 0 THEN (e.value - st.m) / st.s
                      ELSE 0.0 END, 4) + 0.0 AS z
    FROM events e JOIN st USING (user_id)
    """,
    doc="Per-group z-score normalization via applyInPandas (grouped-map "
        "pandas UDF) — the remaining §2.8 API surface beside pandas_udf "
        "scalar, grouped-agg, mapInPandas, and the UDTF: each user's "
        "events arrive as ONE pandas frame (one shuffle on the group "
        "key, Arrow transfer), normalized against the group's own "
        "moments. This is the per-group-model-application template "
        "(per-entity scalers, per-group forecasters); for plain "
        "z-scoring a window/join formulation stays JVM-side — the "
        "grouped-map exists for logic that genuinely needs pandas. "
        "Population std via the two-moment formula on both engines; "
        "constant-valued groups z-score to 0.",
)
def q_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalake_project_spark.tuning import dir_bytes, width

    e = Catalog(spark, sf_dir).table("events").select(
        "event_id", "user_id", "value")
    # explicit width for the grouped-map exchange: AQE's byte-based
    # coalescing squeezed this KB-scale shuffle to ONE post-shuffle
    # partition, serializing every group's Python call in a single
    # task (r13 profile: 3.9 s wall, 0.2 s JVM cpu) — see
    # tuning.width's python_stage kind
    w = width(spark, "python_stage", dir_bytes(f"{sf_dir}/events.parquet"))
    return e.repartition(w, "user_id").groupBy("user_id").applyInPandas(
        _zscore_group, schema=_ZSCORE_SCHEMA)


@register(
    "q_events_active_users",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    b AS (SELECT MIN(d) AS mn, MAX(d) AS mx FROM pairs),
    exp AS (
        SELECT DISTINCT user_id, d + u.i::INT AS day
        FROM pairs, unnest(range(0, 7)) AS u(i)),
    wau AS (
        SELECT day, COUNT(DISTINCT user_id) AS wau
        FROM exp, b WHERE day BETWEEN b.mn AND b.mx GROUP BY day),
    dau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS dau
            FROM pairs GROUP BY d)
    SELECT dau.day, dau.dau, wau.wau
    FROM dau JOIN wau USING (day)
    """,
    doc="Rolling-distinct engagement metrics (DAU + exact 7-day WAU per "
        "day): COUNT DISTINCT is not re-associable across overlapping "
        "windows, so the scalable exact formulation EXPANDS each "
        "distinct (user, day) pair to the 7 target days it contributes "
        "to (sequence+explode, window-length-bounded blowup) and "
        "distinct-counts per target day — state is pairs x window "
        "length, never a day-range self-join of the event table, and "
        "every aggregate gets map-side partials. Day bounds arrive as "
        "a broadcast 1-row aggregate. The approximate alternative "
        "(mergeable HLL per day) is the q_approx_distinct pattern; "
        "this is the exact path.",
)
def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    pairs = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    b = pairs.agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
    expanded = (pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
        .alias("day")).distinct())
    wau = (expanded.crossJoin(F.broadcast(b))
           .where(F.col("day").between(F.col("mn"), F.col("mx")))
           .groupBy("day").agg(F.countDistinct("user_id").alias("wau")))
    dau = (pairs.groupBy(F.col("d").alias("day"))
           .agg(F.countDistinct("user_id").alias("dau")))
    return dau.join(wau, "day")


def _prev_event_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, ts, prev_ts) for every event after a user's first,
    prev_ts being the user's previous event in (ts, event_id) order."""
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
    return seq.where(F.col("prev_ts").isNotNull())


@register(
    "q_events_interarrival",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events),
    gaps AS (
        SELECT CAST(FLOOR(LOG2(
                   GREATEST(date_diff('second', prev_ts, ts), 1) + 1))
                    AS INT) AS gap_bucket
        FROM seq WHERE prev_ts IS NOT NULL)
    SELECT gap_bucket, COUNT(*) AS n_gaps
    FROM gaps GROUP BY gap_bucket
    """,
    doc="Inter-event-time distribution (log2-bucketed seconds between "
        "consecutive events per user): the engagement/latency profile "
        "that calibrates the sessionization gap threshold (the 30-min "
        "cut in q_events_sessionize should fall in this histogram's "
        "valley). One shuffle on user_id for the lag window — the "
        "partition key is the natural entity key, so no "
        "single-partition window; integer log2 bucketing keeps the "
        "histogram engine-exact. Deterministic lag order via "
        "(ts, event_id) total order.",
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    gaps = (_prev_event_ts(spark, sf_dir)
            .select(F.floor(F.log2(F.greatest(gap_s, F.lit(1)) + 1))
                    .cast("int").alias("gap_bucket")))
    return gaps.groupBy("gap_bucket").agg(F.count(F.lit(1)).alias("n_gaps"))


@register(
    "q_events_ab_ttest",
    oracle="""
    WITH g AS (
        SELECT CASE WHEN event_type IN ('click', 'view') THEN 'A'
                    ELSE 'B' END AS grp, value
        FROM events),
    st AS (
        SELECT grp, COUNT(*) AS n, AVG(value) AS m,
               (AVG(value * value) - AVG(value) * AVG(value))
                   * COUNT(*) / (COUNT(*) - 1) AS v
        FROM g GROUP BY grp),
    w AS (SELECT a.n AS na, a.m AS ma, a.v AS va,
                 b.n AS nb, b.m AS mb, b.v AS vb
          FROM st a JOIN st b ON a.grp = 'A' AND b.grp = 'B')
    SELECT na, nb,
           ROUND(ma - mb, 4) + 0.0 AS mean_diff,
           ROUND((ma - mb) / SQRT(va / na + vb / nb), 4) + 0.0 AS t_stat,
           ROUND(POW(va / na + vb / nb, 2)
                 / (POW(va / na, 2) / (na - 1)
                    + POW(vb / nb, 2) / (nb - 1)), 1) + 0.0 AS welch_df
    FROM w
    """,
    doc="Two-sample Welch t-test between event cohorts (A = click/view "
        "vs B = the rest, on value): the experimentation primitive — "
        "group means, unbiased variances (two-moment formula scaled by "
        "n/(n-1)), Welch t statistic and Satterthwaite degrees of "
        "freedom, ALL as one pass of closed-form aggregates with "
        "map-side partials. No per-row Python, no sort; at 100 TB an "
        "A/B readout costs exactly one aggregate over the assignment "
        "column. (p-value lookup is a driver-side constant-time "
        "transform of t and df — not part of the distributed plan.)",
)
def q_events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    g = e.select(
        F.when(F.col("event_type").isin("click", "view"), "A")
        .otherwise("B").alias("grp"), "value")
    n = F.count(F.lit(1))
    st = g.groupBy("grp").agg(
        n.alias("n"), F.avg("value").alias("m"),
        ((F.avg(F.col("value") * F.col("value"))
          - F.avg("value") * F.avg("value")) * n / (n - 1)).alias("v"))
    a = st.where(F.col("grp") == "A").select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("v").alias("va"))
    b = st.where(F.col("grp") == "B").select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("v").alias("vb"))
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    return (a.crossJoin(F.broadcast(b))
            .select("na", "nb",
                    (F.round(F.col("ma") - F.col("mb"), 4)
                     + F.lit(0.0)).alias("mean_diff"),
                    (F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 4)
                     + F.lit(0.0)).alias("t_stat"),
                    (F.round(F.pow(se2, 2)
                             / (F.pow(F.col("va") / F.col("na"), 2)
                                / (F.col("na") - 1)
                                + F.pow(F.col("vb") / F.col("nb"), 2)
                                / (F.col("nb") - 1)), 1)
                     + F.lit(0.0)).alias("welch_df")))


MARKOV_ITERS = 3


def _markov_oracle(n_iter: int) -> str:
    parts = ["""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    tc AS (SELECT prev_type AS s, event_type AS t, COUNT(*) AS n
           FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    tp AS (SELECT s, t, n::DOUBLE / SUM(n) OVER (PARTITION BY s) AS p
           FROM tc),
    states AS (SELECT DISTINCT s AS st FROM tc),
    ns AS (SELECT COUNT(*) AS k FROM states),
    p0 AS (SELECT st, 1.0 / ns.k AS pr FROM states CROSS JOIN ns)"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
    p{i} AS (
        SELECT tp.t AS st, ROUND(SUM(p.pr * tp.p), 6) AS pr
        FROM tp JOIN p{i-1} p ON tp.s = p.st GROUP BY tp.t)""")
    parts.append(f"""
    SELECT st AS event_type, ROUND(pr, 4) + 0.0 AS stationary_p
    FROM p{n_iter}""")
    return "".join(parts)


def _transition_probs(tc: DataFrame) -> DataFrame:
    """(s, t, p): the transition matrix, each row of counts normalized."""
    wn = Window.partitionBy("s")
    return tc.select("s", "t", (F.col("n").cast("double")
                                / F.sum("n").over(wn)).alias("p"))


def _stationary(tc: DataFrame, tp: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((st, pr), (k)): the stationary distribution after MARKOV_ITERS
    power steps from uniform over tc's k source states (rounded at 6 dp
    per step), and the 1-row state count."""
    states = tc.select(F.col("s").alias("st")).distinct()
    ns = states.agg(F.count(F.lit(1)).alias("k"))
    pr = (states.crossJoin(F.broadcast(ns))
          .select("st", (F.lit(1.0) / F.col("k")).alias("pr")))
    for _ in range(MARKOV_ITERS):
        pr = (tp.join(F.broadcast(pr), tp.s == pr.st)
              .groupBy(F.col("t").alias("st"))
              .agg(F.round(F.sum(F.col("pr") * F.col("p")), 6).alias("pr")))
    return pr, ns


@register(
    "q_events_markov_stationary",
    oracle=_markov_oracle(MARKOV_ITERS),
    doc=f"Stationary distribution of the user-journey Markov chain by "
        f"{MARKOV_ITERS} power iterations over the row-normalized "
        "transition matrix (q_events_transitions' counts): where user "
        "journeys settle — the long-run attention share per event "
        "type. The matrix is event-type^2 rows (metadata-sized at any "
        "corpus scale), so after ONE corpus pass for the lag counts "
        "the iterations run entirely on broadcast-size state as "
        "join+aggregate layers in the same lazy DAG (the PageRank/"
        "PCA-power pattern a third time: iterate on aggregated state, "
        "never re-touch the data). Per-step rounding at 6 dp keeps "
        "the trajectory engine-exact; the row-normalization window "
        "partitions by source state — never a single partition.",
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc = _transition_counts(spark, sf_dir)
    tp = _transition_probs(tc)
    pr, _ = _stationary(tc, tp)
    return pr.select(F.col("st").alias("event_type"),
                     (F.round("pr", 4) + F.lit(0.0)).alias("stationary_p"))


@register(
    "q_events_lateness_profile",
    oracle="""
    WITH arr AS (
        SELECT user_id, ts,
               MAX(ts) OVER (PARTITION BY user_id
                             ORDER BY md5(event_id::VARCHAR)
                             ROWS UNBOUNDED PRECEDING) AS high_water
        FROM events),
    late AS (
        SELECT CAST(FLOOR(LOG2(
                   GREATEST(date_diff('second', ts, high_water), 1) + 1))
                    AS INT) AS lateness_bucket
        FROM arr WHERE high_water > ts)
    SELECT lateness_bucket, COUNT(*) AS n_events
    FROM late GROUP BY lateness_bucket
    """,
    doc="Out-of-orderness profile (watermark calibration): per user, "
        "an event older than the running event-time high-water mark "
        "in ARRIVAL order is late by (high_water - ts); the "
        "log2-bucketed lateness histogram is the data that justifies "
        "a watermark delay — pick the bucket covering your loss "
        "tolerance and q_stream_* queries' withWatermark follows. The "
        "fixture carries no ingest timestamps (event_id order == "
        "event-time order), so arrival is SIMULATED as a "
        "deterministic hash shuffle of event_id — in production the "
        "arrival column is the ingest/offset sequence and the query "
        "is unchanged. One shuffle on user_id for the running-max "
        "window (entity-keyed, never single-partition), integer "
        "buckets keep it hash-exact.",
)
def q_events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.md5(F.col("event_id").cast("string")))
         .rowsBetween(Window.unboundedPreceding, 0))
    arr = e.select("user_id", "ts", F.max("ts").over(w).alias("high_water"))
    late_s = (F.unix_timestamp("high_water") - F.unix_timestamp("ts"))
    late = (arr.where(F.col("high_water") > F.col("ts"))
            .select(F.floor(F.log2(F.greatest(late_s, F.lit(1)) + 1))
                    .cast("int").alias("lateness_bucket")))
    return (late.groupBy("lateness_bucket")
            .agg(F.count(F.lit(1)).alias("n_events")))


@register(
    "q_feature_point_in_time",
    oracle="""
    WITH feat AS (
        SELECT event_id, user_id, event_type,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                   OVER w_prior AS n_prior_clicks,
               COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END)
                   OVER w_prior, 0.0) AS prior_click_value
        FROM events
        WINDOW w_prior AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id,
           CAST(n_prior_clicks AS BIGINT) AS n_prior_clicks,
           ROUND(prior_click_value, 2) + 0.0 AS prior_click_value
    FROM feat WHERE event_type = 'purchase'
    """,
    doc="Point-in-time feature computation (the feature-store "
        "correctness primitive): for every purchase event, the user's "
        "click count and click-value sum STRICTLY BEFORE that moment — "
        "no future leakage, the property that keeps training features "
        "consistent with what serving would have known. Realized as "
        "conditional running aggregates over ONE entity-keyed window "
        "(frame ends at 1 PRECEDING; (ts, event_id) total order makes "
        "same-timestamp behavior deterministic), then a filter to the "
        "label events — one shuffle on user_id, no range join, no "
        "per-label subquery. At 100 TB this is the as-of pattern "
        "q_asof_join uses, specialized to cumulative features.",
)
def q_feature_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    is_click = F.col("event_type") == "click"
    feat = e.select(
        "event_id", "user_id", "event_type",
        F.count(F.when(is_click, 1)).over(w).alias("n_prior_clicks"),
        F.coalesce(F.sum(F.when(is_click, F.col("value"))).over(w),
                   F.lit(0.0)).alias("prior_click_value"))
    return (feat.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id",
                    F.col("n_prior_clicks").cast("long")
                    .alias("n_prior_clicks"),
                    (F.round("prior_click_value", 2) + F.lit(0.0))
                    .alias("prior_click_value")))


BOT_CV_MAX = 0.3   # coefficient of variation below which gaps are "regular"
BOT_MIN_EVENTS = 30


@register(
    "q_events_bot_detection",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events),
    gaps AS (
        SELECT user_id,
               date_diff('second', prev_ts, ts)::DOUBLE AS g
        FROM seq WHERE prev_ts IS NOT NULL),
    st AS (
        SELECT user_id, COUNT(*) AS n_gaps, AVG(g) AS mean_gap,
               SQRT(GREATEST(AVG(g * g) - AVG(g) * AVG(g), 0)) AS std_gap
        FROM gaps GROUP BY user_id)
    SELECT user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           ROUND(mean_gap, 2) + 0.0 AS mean_gap_s,
           ROUND(CASE WHEN mean_gap > 0 THEN std_gap / mean_gap
                      ELSE 0.0 END, 4) + 0.0 AS gap_cv,
           (n_gaps >= {BOT_MIN_EVENTS}
            AND mean_gap > 0
            AND std_gap / mean_gap < {BOT_CV_MAX}) AS is_bot
    FROM st
    """,
    doc="Bot/automation detection by inter-arrival regularity: human "
        "activity has bursty gaps (coefficient of variation near or "
        "above 1, exponential-ish); schedulers and scrapers tick with "
        "CV near 0. Per user: gap count, mean gap, CV, and the "
        f"is_bot flag (>= {BOT_MIN_EVENTS} gaps and CV < {BOT_CV_MAX}) "
        "— the abuse/crawler filter a corpus ingest runs before "
        "trusting engagement-derived quality signals. One entity-keyed "
        "lag window + one grouped two-moment aggregate; the variance "
        "clamp guards float cancellation on metronomic gaps.",
)
def q_events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (e.select("user_id", "ts", F.lag("ts").over(w).alias("prev_ts"))
            .where(F.col("prev_ts").isNotNull())
            .select("user_id",
                    (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts"))
                    .cast("double").alias("g")))
    st = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("g").alias("mean_gap"),
        F.sqrt(F.greatest(F.avg(F.col("g") * F.col("g"))
                          - F.avg("g") * F.avg("g"), F.lit(0.0)))
        .alias("std_gap"))
    cv = F.when(F.col("mean_gap") > 0,
                F.col("std_gap") / F.col("mean_gap")).otherwise(0.0)
    return st.select(
        "user_id",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        (F.round("mean_gap", 2) + F.lit(0.0)).alias("mean_gap_s"),
        (F.round(cv, 4) + F.lit(0.0)).alias("gap_cv"),
        ((F.col("n_gaps") >= BOT_MIN_EVENTS) & (F.col("mean_gap") > 0)
         & (F.col("std_gap") / F.col("mean_gap") < BOT_CV_MAX))
        .alias("is_bot"))


@register(
    "q_events_attribution",
    oracle="""
    WITH seq AS (
        SELECT event_id, user_id, event_type, value,
               LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events)
    SELECT COALESCE(channel, 'direct') AS channel,
           COUNT(*) AS n_purchases,
           ROUND(SUM(value), 2) AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, 'direct')
    """,
    doc="Last-touch attribution: each purchase credits the user's most "
        "recent preceding touch event (click/view; none => 'direct') — "
        "the marketing-analytics primitive, realized as LAST_VALUE "
        "IGNORE NULLS over an entity-keyed window with a 1-PRECEDING "
        "frame (the same leakage-free frame as "
        "q_feature_point_in_time), then one small aggregate per "
        "channel. One shuffle on user_id; no per-purchase as-of "
        "subquery.",
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.when(F.col("event_type").isin("click", "view"),
                   F.col("event_type"))
    seq = e.select(
        "event_type", "value",
        F.last(touch, ignorenulls=True).over(w).alias("channel"))
    return (seq.where(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.round(F.sum("value"), 2).alias("attributed_value")))


@register(
    "q_events_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY d) AS INT) AS island
        FROM days),
    streaks AS (
        SELECT user_id, COUNT(*) AS len
        FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
    doc="Activity streaks per user (gaps-and-islands over active days): "
        "island id = day minus per-user day rank, so consecutive days "
        "share an island; per-user longest streak and streak count — "
        "the engagement metric behind habit/retention scoring, and the "
        "canonical gaps-and-islands template beside q_snapshot_scd2's "
        "validity intervals. One shuffle on user_id serves the rank "
        "window and both aggregates.",
)
def q_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        F.date_sub("d", F.row_number().over(w)).alias("island"))
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len"))
    return (streaks.groupBy("user_id")
            .agg(F.max("len").cast("long").alias("longest_streak"),
                 F.count(F.lit(1)).cast("long").alias("n_streaks")))


@register(
    "q_events_pmi",
    oracle="""
    WITH ctx AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        FROM events),
    n_ctx AS (SELECT COUNT(DISTINCT (user_id, d)) AS n FROM ctx),
    occ AS (SELECT event_type, COUNT(*) AS c FROM ctx GROUP BY event_type),
    co AS (
        SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS cab
        FROM ctx a JOIN ctx b
          ON a.user_id = b.user_id AND a.d = b.d
         AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type)
    SELECT co.ta, co.tb, CAST(co.cab AS BIGINT) AS n_contexts,
           ROUND(LN(co.cab::DOUBLE * n_ctx.n / (oa.c::DOUBLE * ob.c)), 4)
               + 0.0 AS pmi
    FROM co
    JOIN occ oa ON oa.event_type = co.ta
    JOIN occ ob ON ob.event_type = co.tb
    CROSS JOIN n_ctx
    """,
    doc="Pointwise mutual information between event types co-occurring "
        "in the same (user, day) context: PMI = ln(P(a,b)/(P(a)P(b))) "
        "— the association measure behind word2vec-era embeddings and "
        "behavioral affinity models, generalizing q_basket_pairs' raw "
        "co-occurrence counts with the independence-normalized score. "
        "Contexts deduplicate to (user, day, type) first, so the "
        "co-occurrence self-join is context-keyed (bounded by "
        "types-per-context, never events^2); marginals and the "
        "context total are type-sized and 1-row broadcast aggregates.",
)
def q_events_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    ctx = e.select("user_id", F.to_date("ts").alias("d"),
                   "event_type").distinct()
    n_ctx = (ctx.select("user_id", "d").distinct()
             .agg(F.count(F.lit(1)).alias("n")))
    occ = ctx.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ctx.select("user_id", "d", F.col("event_type").alias("ta"))
    b = ctx.select("user_id", "d", F.col("event_type").alias("tb"))
    co = (a.join(b, ["user_id", "d"])
          .where(F.col("ta") < F.col("tb"))
          .groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("cab")))
    oa = occ.select(F.col("event_type").alias("ta"), F.col("c").alias("ca"))
    ob = occ.select(F.col("event_type").alias("tb"), F.col("c").alias("cb"))
    return (co.join(F.broadcast(oa), "ta").join(F.broadcast(ob), "tb")
            .crossJoin(F.broadcast(n_ctx))
            .select("ta", "tb",
                    F.col("cab").cast("long").alias("n_contexts"),
                    (F.round(F.log(F.col("cab").cast("double") * F.col("n")
                                   / (F.col("ca").cast("double")
                                      * F.col("cb"))), 4)
                     + F.lit(0.0)).alias("pmi")))


@register(
    "q_events_markov_baseline_accuracy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    tc AS (SELECT prev_type AS s, event_type AS t, COUNT(*) AS n
           FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    best AS (
        SELECT s, t AS predicted FROM (
            SELECT s, t, ROW_NUMBER() OVER (
                PARTITION BY s ORDER BY n DESC, t ASC) AS rn
            FROM tc) WHERE rn = 1)
    SELECT CAST(SUM(tc.n) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN tc.t = best.predicted
                         THEN tc.n ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN tc.t = best.predicted THEN tc.n ELSE 0 END)
                 ::DOUBLE / SUM(tc.n), 4) + 0.0 AS accuracy
    FROM tc JOIN best USING (s)
    """,
    doc="Next-event prediction baseline: accuracy of always predicting "
        "the modal next type per current type (argmax row of the "
        "q_events_transitions matrix, ties to the lexicographically "
        "first type) — the floor any sequence model must beat, "
        "computed entirely on the types^2 transition table (the "
        "argmax window partitions by source type over <= n_types "
        "rows; the corpus is touched once for the lag counts).",
)
def q_events_markov_baseline_accuracy(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    tc = _transition_counts(spark, sf_dir)
    # argmax with count-desc, type-asc tie-break: max count per source
    # first, then the lexicographically smallest type at that count
    # (max-of-struct can't express a descending string tie-break)
    maxn = tc.groupBy("s").agg(F.max("n").alias("max_n"))
    best = (tc.join(maxn, "s")
            .where(F.col("n") == F.col("max_n"))
            .groupBy("s").agg(F.min("t").alias("predicted")))
    correct = F.when(F.col("t") == F.col("predicted"), F.col("n")).otherwise(0)
    return (tc.join(best, "s")
            .agg(F.sum("n").cast("long").alias("n_transitions"),
                 F.sum(correct).cast("long").alias("n_correct"),
                 (F.round(F.sum(correct).cast("double") / F.sum("n"), 4)
                  + F.lit(0.0)).alias("accuracy")))


_EWMA_ALPHA = 0.25
_EWMA_K = 16


def _ewma_terms_sql() -> tuple[str, str]:
    num = " + ".join(
        f"COALESCE(LAG(value, {i}) OVER w * {(1 - _EWMA_ALPHA) ** i!r}, 0)"
        for i in range(_EWMA_K))
    den = " + ".join(
        f"CASE WHEN LAG(value, {i}) OVER w IS NOT NULL "
        f"THEN {(1 - _EWMA_ALPHA) ** i!r} ELSE 0 END"
        for i in range(_EWMA_K))
    return num, den


def _ewma_oracle() -> str:
    num, den = _ewma_terms_sql()
    return f"""
    SELECT user_id, event_id,
           ROUND(({num}) / ({den}), 6) + 0.0 AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register(
    "q_events_ewma",
    oracle=_ewma_oracle(),
    doc=f"Exponentially-weighted moving average of the event value per "
        f"user (alpha={_EWMA_ALPHA}, truncated at the last {_EWMA_K} "
        "events, weights renormalized over the rows actually present "
        "so series heads and NULL values are well-defined) — the "
        "recency-weighted feature every behavioral model wants beside "
        "the plain sliding-window sums. The truncated EWMA is "
        "expressed as a fixed bank of LAG terms sharing ONE "
        "(user, ts, event_id)-ordered window, so the whole feature "
        "costs a single user-keyed shuffle and WindowExec evaluates "
        "the weight bank in codegen — no per-row Python and no "
        "unbounded running state; the truncation error is (1-a)^k "
        "~= 1e-2 of the mass, the standard engineering cut.",
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    decay = 1 - _EWMA_ALPHA
    num = None
    den = None
    for i in range(_EWMA_K):
        lag_i = F.lag("value", i).over(w)
        term = F.coalesce(lag_i * F.lit(decay ** i), F.lit(0.0))
        present = F.when(lag_i.isNotNull(), F.lit(decay ** i)).otherwise(
            F.lit(0.0))
        num = term if num is None else num + term
        den = present if den is None else den + present
    return e.select(
        "user_id", "event_id",
        (F.round(num / den, 6) + F.lit(0.0)).alias("ewma"))


@register(
    "q_events_chi_squared",
    oracle="""
    WITH ct AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS h, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
           FROM ct GROUP BY 1),
    colt AS (SELECT h, CAST(SUM(o) AS BIGINT) AS c FROM ct GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct),
    cells AS (
        SELECT ct.o, rt.r * colt.c / tot.n::DOUBLE AS e
        FROM ct JOIN rt USING (event_type) JOIN colt USING (h)
        CROSS JOIN tot)
    SELECT COUNT(*) AS n_cells,
           (SELECT (COUNT(DISTINCT event_type) - 1) FROM ct)
           * (SELECT (COUNT(DISTINCT h) - 1) FROM ct) AS dof,
           ROUND(SUM((o - e) * (o - e) / e), 4) + 0.0 AS chi2
    FROM cells
    """,
    doc="Chi-squared test of independence between event type and "
        "hour-of-day (is activity mix time-stationary?): the "
        "categorical drift test beside the KS length drift and the "
        "A/B t-test. ONE pass over events builds the (type, hour) "
        "contingency table; row/column marginals and the grand total "
        "are re-aggregated from that tiny table (never from the base "
        "scan) and broadcast back, so the fact-table cost is a single "
        "groupBy with map-side partials regardless of corpus size. "
        "Expected counts e = r*c/n, statistic = sum (o-e)^2/e over "
        "~|types|x24 cells, rounded at 4 dp on both engines.",
)
def q_events_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    ct = (e.groupBy("event_type", F.hour("ts").alias("h"))
          .agg(F.count(F.lit(1)).alias("o")))
    rt = ct.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    colt = ct.groupBy("h").agg(F.sum("o").cast("long").alias("c"))
    tot = ct.agg(F.sum("o").cast("long").alias("n"))
    cells = (ct.join(F.broadcast(rt), "event_type")
             .join(F.broadcast(colt), "h")
             .crossJoin(F.broadcast(tot))
             .select("o", (F.col("r") * F.col("c")
                           / F.col("n").cast("double")).alias("e")))
    dims = ct.agg(
        ((F.countDistinct("event_type") - 1)
         * (F.countDistinct("h") - 1)).alias("dof"))
    return (cells.agg(
                F.count(F.lit(1)).alias("n_cells"),
                (F.round(F.sum((F.col("o") - F.col("e"))
                               * (F.col("o") - F.col("e")) / F.col("e")), 4)
                 + F.lit(0.0)).alias("chi2"))
            .crossJoin(F.broadcast(dims))
            .select("n_cells", "dof", "chi2"))


@register(
    "q_events_time_to_convert",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
        FROM events GROUP BY user_id),
    pp AS (
        SELECT e.user_id, MIN(e.ts) AS p_ts
        FROM events e JOIN pu ON pu.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= pu.s_ts
        GROUP BY e.user_id),
    conv AS (
        SELECT pu.user_id, STRFTIME(pu.s_ts, '%Y-%m') AS cohort,
               epoch_us(pp.p_ts) - epoch_us(pu.s_ts) AS delta_us
        FROM pu JOIN pp USING (user_id)),
    rk AS (
        SELECT cohort, delta_us,
               ROW_NUMBER() OVER (
                   PARTITION BY cohort ORDER BY delta_us, user_id) AS rk,
               COUNT(*) OVER (PARTITION BY cohort) AS n
        FROM conv)
    SELECT cohort,
           CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(FLOOR(MAX(CASE WHEN rk = CAST(FLOOR((n - 1) * 0.5)
                                             AS BIGINT) + 1
                               THEN delta_us END) / 1000000.0) AS BIGINT)
               AS median_s,
           ROUND(AVG(delta_us) / 1000000.0, 2) + 0.0 AS mean_s
    FROM rk GROUP BY cohort
    """,
    doc="Median and mean time from first signup to first subsequent "
        "purchase, per signup-month cohort: the duration statistic the "
        "funnel counts (q_events_funnel) don't expose — medians resist "
        "the long-tail skew that makes conversion means lie. The "
        "median is an EXACT order statistic via the winsorize rank "
        "technique (k = floor((n-1)/2)+1, per-cohort row_number with "
        "(delta, user_id) total order) — windows are COHORT-"
        "partitioned, never global, so the plan scales with the "
        "largest cohort, not the corpus; per-user firsts come from one "
        "conditional-min pass over events.",
)
def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    per_user = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
             .alias("s_ts"),
             F.collect_list(
                 F.when(F.col("event_type") == "purchase", F.col("ts")))
             .alias("p_list")))
    conv = (per_user
            .withColumn("p_ts", F.array_min(F.filter(
                "p_list", lambda t: t >= F.col("s_ts"))))
            .where(F.col("s_ts").isNotNull() & F.col("p_ts").isNotNull())
            .select("user_id",
                    F.date_format("s_ts", "yyyy-MM").alias("cohort"),
                    (F.unix_micros("p_ts") - F.unix_micros("s_ts"))
                    .alias("delta_us")))
    w = Window.partitionBy("cohort").orderBy("delta_us", "user_id")
    wn = Window.partitionBy("cohort")
    ranked = conv.select(
        "cohort", "delta_us",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"))
    k = F.floor((F.col("n") - 1) * 0.5).cast("long") + 1
    return (ranked.groupBy("cohort")
            .agg(F.max("n").cast("long").alias("n_converted"),
                 F.floor(F.max(F.when(F.col("rk") == k, F.col("delta_us")))
                         / 1000000.0).cast("long").alias("median_s"),
                 (F.round(F.avg("delta_us") / 1000000.0, 2)
                  + F.lit(0.0)).alias("mean_s")))


@register(
    "q_events_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY event_type, day),
    m AS (SELECT event_type, AVG(n) AS mu FROM daily GROUP BY event_type),
    cu AS (
        SELECT d.event_type, d.day,
               ROUND(SUM(d.n - m.mu) OVER (
                   PARTITION BY d.event_type ORDER BY d.day
                   ROWS UNBOUNDED PRECEDING), 6) AS cusum
        FROM daily d JOIN m USING (event_type)),
    best AS (
        SELECT event_type, day, ABS(cusum) AS a,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(cusum) DESC, day) AS rk
        FROM cu)
    SELECT event_type,
           STRFTIME(day, '%Y-%m-%d') AS change_day,
           ROUND(a, 6) + 0.0 AS max_abs_cusum
    FROM best WHERE rk = 1
    """,
    doc="CUSUM change-point detection over per-type daily event counts: "
        "the cumulative sum of deviations from the series mean peaks "
        "(in absolute value) at the most likely level-shift day — the "
        "classic monitoring statistic for 'did this event stream change "
        "behavior, and when'. The running sum is a KEYED window "
        "(partitioned by event_type, ordered by day — never a "
        "single-partition window), the per-type mean joins back from a "
        "type-sized aggregate, and the arg-max day is a min-struct "
        "aggregate. The sequential summation order is the day order on "
        "both engines, so the 6-dp-rounded trajectory is cross-engine "
        "exact.",
)
def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = Catalog(spark, sf_dir).table("events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("n")))
    m = daily.groupBy("event_type").agg(F.avg("n").alias("mu"))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    cu = (daily.join(F.broadcast(m), "event_type")
          .withColumn("cusum",
                      F.round(F.sum(F.col("n") - F.col("mu")).over(w), 6)))
    best = (cu.groupBy("event_type")
            .agg(F.min(F.struct((-F.abs(F.col("cusum"))).alias("neg"),
                                F.col("day").alias("day"),
                                F.abs(F.col("cusum")).alias("a"))).alias("p")))
    return best.select(
        "event_type",
        F.date_format("p.day", "yyyy-MM-dd").alias("change_day"),
        (F.round("p.a", 6) + F.lit(0.0)).alias("max_abs_cusum"))


@register(
    "q_events_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*)::DOUBLE AS n
        FROM events GROUP BY event_type, day),
    paired AS (
        SELECT event_type, day, n,
               LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n,
               LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day
        FROM daily)
    SELECT event_type,
           COUNT(*) AS n_pairs,
           ROUND(CORR(n, prev_n), 6) + 0.0 AS acf_lag1
    FROM paired
    WHERE prev_day IS NOT NULL AND day = prev_day + INTERVAL 1 DAY
    GROUP BY event_type
    """,
    doc="Lag-1 autocorrelation of per-type daily event counts over "
        "CALENDAR-adjacent day pairs (gaps excluded): the first ACF "
        "coefficient — the statistic that says whether a series is "
        "momentum-driven or mean-reverting, and the cheap test run "
        "before fitting any forecaster (cf. q_forecast_seasonal_naive). "
        "One keyed LAG window over the type-sized daily table, then "
        "CORR as a closed-form grouped aggregate (the regr_* family "
        "convention of q_price_trend_regression), rounded at 6 dp.",
)
def q_events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = Catalog(spark, sf_dir).table("events")
    daily = (e.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).cast("double").alias("n")))
    w = Window.partitionBy("event_type").orderBy("day")
    paired = (daily
              .withColumn("prev_n", F.lag("n").over(w))
              .withColumn("prev_day", F.lag("day").over(w)))
    return (paired
            .where(F.col("prev_day").isNotNull()
                   & (F.datediff("day", "prev_day") == 1))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 (F.round(F.corr("n", "prev_n"), 6)
                  + F.lit(0.0)).alias("acf_lag1")))


@register(
    "q_events_ab_cuped",
    oracle="""
    WITH peruser AS (
        SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN value ELSE 0 END) AS x,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        THEN value ELSE 0 END) AS y
        FROM events GROUP BY user_id),
    stats AS (SELECT covar_pop(x, y) AS cxy, var_pop(x) AS vx,
                     AVG(x) AS mx
              FROM peruser),
    adj AS (SELECT user_id % 2 AS arm_i, y,
                   y - (CASE WHEN stats.vx > 0 THEN stats.cxy / stats.vx
                             ELSE 0 END) * (x - stats.mx) AS yc
            FROM peruser CROSS JOIN stats)
    SELECT CASE WHEN arm_i = 0 THEN 'A' ELSE 'B' END AS arm,
           COUNT(*) AS n_users,
           ROUND(AVG(y), 6) + 0.0 AS mean_raw,
           ROUND(AVG(yc), 6) + 0.0 AS mean_cuped,
           ROUND(1.0 - var_pop(yc) / var_pop(y), 6) + 0.0 AS var_reduction
    FROM adj GROUP BY arm
    """,
    doc="CUPED variance reduction for A/B readouts (Deng et al., WSDM "
        "2013): per-user post-period value adjusted by the pre-period "
        "covariate, theta = cov(pre, post)/var(pre) — the industry-"
        "standard trick that shrinks experiment confidence intervals "
        "using data from BEFORE the experiment, beside the raw Welch "
        "t-test (q_events_ab_ttest). Deterministic arm assignment by "
        "user_id parity, pre/post split at the fixture mid-month. One "
        "per-user aggregate pass; theta/means are a broadcast 1-row "
        "aggregate crossJoin'd in — one DAG, no driver actions; the "
        "per-arm variance-reduction column shows CUPED working (or "
        "not) per arm. Rounded at 6 dp on both engines.",
)
def q_events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    cut = F.lit("2024-01-16").cast("timestamp")
    peruser = (e.groupBy("user_id")
               .agg(F.sum(F.when(F.col("ts") < cut, F.col("value"))
                          .otherwise(0.0)).alias("x"),
                    F.sum(F.when(F.col("ts") >= cut, F.col("value"))
                          .otherwise(0.0)).alias("y")))
    stats = peruser.agg(F.covar_pop("x", "y").alias("cxy"),
                        F.var_pop("x").alias("vx"),
                        F.avg("x").alias("mx"))
    adj = (peruser.crossJoin(F.broadcast(stats))
           .select((F.col("user_id") % 2).alias("arm_i"), "y",
                   # theta degenerates to 0 (raw readout) when the
                   # pre-period has zero variance — regenerated
                   # fixtures must not turn this into DIVIDE_BY_ZERO
                   (F.col("y") - F.when(F.col("vx") > 0,
                                        F.col("cxy") / F.col("vx"))
                    .otherwise(0.0)
                    * (F.col("x") - F.col("mx"))).alias("yc")))
    return (adj.groupBy(F.when(F.col("arm_i") == 0, "A").otherwise("B")
                        .alias("arm"))
            .agg(F.count(F.lit(1)).alias("n_users"),
                 (F.round(F.avg("y"), 6) + F.lit(0.0)).alias("mean_raw"),
                 (F.round(F.avg("yc"), 6) + F.lit(0.0)).alias("mean_cuped"),
                 (F.round(1.0 - F.var_pop("yc") / F.var_pop("y"), 6)
                  + F.lit(0.0)).alias("var_reduction")))


@register(
    "q_events_power_analysis",
    oracle="""
    WITH peruser AS (
        SELECT user_id, SUM(value) AS y
        FROM events GROUP BY user_id),
    s AS (SELECT AVG(y) AS mu, var_pop(y) AS v, COUNT(*) AS n
          FROM peruser)
    SELECT ROUND(mu, 6) + 0.0 AS mean_metric,
           ROUND(v, 6) + 0.0 AS variance,
           n AS n_users,
           CAST(CEIL(2.0 * v * POW((1.959964 + 0.841621), 2)
                     / POW(0.05 * mu, 2)) AS BIGINT) AS n_per_arm_mde5pct,
           CAST(CEIL(2.0 * v * POW((1.959964 + 0.841621), 2)
                     / POW(0.10 * mu, 2)) AS BIGINT) AS n_per_arm_mde10pct
    FROM s
    """,
    doc="A/B sample-size (power) calculation from observed metric "
        "variance: n per arm = 2*sigma^2*(z_{1-a/2}+z_{power})^2 / "
        "delta^2 for 5% alpha / 80% power (z constants 1.959964, "
        "0.841621) at 5% and 10% minimum detectable effects — the "
        "planning step BEFORE q_events_ab_ttest / q_events_ab_cuped "
        "run, completing the experimentation arc (power -> assign -> "
        "test -> variance-reduce). One per-user aggregate pass, then a "
        "1-row closed-form projection; identical operation order on "
        "both engines before the 6-dp round, ceil'd sample sizes "
        "integer-exact.",
)
def q_events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    peruser = e.groupBy("user_id").agg(F.sum("value").alias("y"))
    s = peruser.agg(F.avg("y").alias("mu"), F.var_pop("y").alias("v"),
                    F.count(F.lit(1)).alias("n"))
    z2 = F.pow(F.lit(1.959964 + 0.841621), 2)

    def n_arm(mde: float):
        return F.ceil(2.0 * F.col("v") * z2
                      / F.pow(mde * F.col("mu"), 2)).cast("long")

    return s.select(
        (F.round("mu", 6) + F.lit(0.0)).alias("mean_metric"),
        (F.round("v", 6) + F.lit(0.0)).alias("variance"),
        F.col("n").alias("n_users"),
        n_arm(0.05).alias("n_per_arm_mde5pct"),
        n_arm(0.10).alias("n_per_arm_mde10pct"))


@register(
    "q_events_journey_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type, 2) OVER w AS t2,
               LAG(event_type, 1) OVER w AS t1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (
        SELECT t2 || '>' || t1 || '>' || event_type AS trigram
        FROM seq WHERE t2 IS NOT NULL)
    SELECT trigram, COUNT(*) AS n
    FROM tri GROUP BY trigram
    ORDER BY n DESC, trigram LIMIT 20
    """,
    doc="User-journey trigram mining: the top-20 three-step event-type "
        "sequences across all users — the pattern table behind funnel "
        "design and next-event modeling, sitting between the pairwise "
        "transition matrix (q_events_transitions) and the full Markov "
        "chain (q_events_markov_stationary): order-2 structure the "
        "order-1 views cannot show. One keyed window (user_id "
        "partitions, (ts, event_id) total order — no single-partition "
        "window), a type^3-bounded count table, TakeOrderedAndProject "
        "for the top-20. Integer counts, hash-exact.",
)
def q_events_journey_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_type", 1).over(w).alias("t1"))
    tri = (seq.where(F.col("t2").isNotNull())
           .select(F.concat_ws(">", "t2", "t1", "event_type")
                   .alias("trigram")))
    return (tri.groupBy("trigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "trigram").limit(20))


@register(
    "q_bitmap_distinct_users",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE ts < TIMESTAMP '2024-01-08'
    GROUP BY day
    UNION ALL
    SELECT 'TOTAL', COUNT(DISTINCT user_id)
    FROM events WHERE ts < TIMESTAMP '2024-01-08'
    """,
    doc="EXACT mergeable distinct counts via bitmap aggregates "
        "(bitmap_construct_agg / bitmap_or_agg / bitmap_count — the "
        "roaring-bitmap pattern): per-day distinct users come from "
        "per-(day, bucket) bitmap partials, and the week TOTAL merges "
        "those SAME partials with bitmap_or_agg — no second scan and "
        "no re-shuffle of raw events, which is the property "
        "COUNT(DISTINCT) lacks (not re-aggregable) and HLL only "
        "approximates (q_approx_distinct / the DAU family). At 100 TB "
        "this is how a rollup table serves exact distincts at every "
        "granularity from one materialization. The oracle states both "
        "levels as plain COUNT(DISTINCT) — a pass proves bitmap "
        "exactness end-to-end.",
)
def q_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("ts") < F.lit("2024-01-08").cast("timestamp")))
    partials = (e.select(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                         .alias("day"),
                         F.expr("bitmap_bucket_number(user_id)").alias("bk"),
                         F.expr("bitmap_bit_position(user_id)").alias("bp"))
                .groupBy("day", "bk")
                .agg(F.expr("bitmap_construct_agg(bp)").alias("bm"))
                .localCheckpoint(eager=False))  # partials feed BOTH levels
    per_day = (partials.groupBy("day")
               .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users")))
    total = (partials.groupBy("bk")
             .agg(F.expr("bitmap_or_agg(bm)").alias("m"))
             .agg(F.sum(F.expr("bitmap_count(m)")).alias("n_users"))
             .select(F.lit("TOTAL").alias("day"), "n_users"))
    return per_day.unionByName(total)


@register(
    "q_hll_mergeable_distinct",
    oracle="""
    SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_5pct
    FROM events WHERE ts < TIMESTAMP '2024-01-08'
    GROUP BY day
    UNION ALL
    SELECT 'TOTAL', COUNT(DISTINCT user_id), TRUE
    FROM events WHERE ts < TIMESTAMP '2024-01-08'
    """,
    doc="Approximate mergeable distinct counts via Datasketches HLL "
        "(hll_sketch_agg / hll_union_agg / hll_sketch_estimate) — the "
        "constant-size twin of q_bitmap_distinct_users: per-day "
        "sketches estimate daily distincts, and the week TOTAL merges "
        "the SAME sketches (union-agg), never re-scanning raw events. "
        "A bitmap is exact but proportional to the key universe; the "
        "HLL sketch is ~KB at ANY cardinality — the trade a 100 TB "
        "rollup chooses per column. Checked with the recall-floor "
        "discipline: the engine emits the EXACT count (value-checked) "
        "plus a within-5% flag for the estimate (default lgK=12 has "
        "~1.6% standard error, so 5% is a >3-sigma floor); the "
        "engine-specific estimate itself stays out of the hash.",
)
def q_hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("ts") < F.lit("2024-01-08").cast("timestamp")))
    base = e.select(F.date_format(F.to_date("ts"), "yyyy-MM-dd")
                    .alias("day"), "user_id")
    sk = (base.groupBy("day")
          .agg(F.expr("hll_sketch_agg(user_id)").alias("s"),
               F.countDistinct("user_id").alias("n_exact"))
          .localCheckpoint(eager=False))  # sketches feed both levels
    ok = (F.abs(F.expr("hll_sketch_estimate(s)")
                - F.col("n_exact")).cast("double")
          / F.col("n_exact") <= 0.05)
    per_day = sk.select("day", "n_exact", ok.alias("within_5pct"))
    tot = (sk.agg(F.expr("hll_union_agg(s)").alias("m"))
           .crossJoin(F.broadcast(
               base.agg(F.countDistinct("user_id").alias("n_exact"))))
           .select(F.lit("TOTAL").alias("day"), "n_exact",
                   (F.abs(F.expr("hll_sketch_estimate(m)")
                          - F.col("n_exact")).cast("double")
                    / F.col("n_exact") <= 0.05).alias("within_5pct")))
    return per_day.unionByName(tot)


@register(
    "q_events_reactivation",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events),
    gaps AS (
        SELECT user_id,
               COUNT(CASE WHEN date_diff('second', prev_ts, ts)
                               > 7 * 86400 THEN 1 END) AS n_reactivations
        FROM seq WHERE prev_ts IS NOT NULL
        GROUP BY user_id)
    SELECT COUNT(*) AS n_users,
           CAST(COUNT(CASE WHEN n_reactivations > 0 THEN 1 END) AS BIGINT)
               AS n_reactivated_users,
           CAST(SUM(n_reactivations) AS BIGINT) AS n_reactivation_events
    FROM gaps
    """,
    doc="Dormancy/reactivation metric: users whose event stream "
        "contains a gap of more than 7 days and came BACK — the growth "
        "counterpart of churn (a reactivated user is cheaper than a "
        "new one), built on the same user-keyed LAG window as the "
        "inter-arrival histogram and the streak islands. One shuffle "
        "on user_id, integer gap threshold in seconds on both engines "
        "— hash-exact.",
)
def q_events_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    gaps = (_prev_event_ts(spark, sf_dir)
            .groupBy("user_id")
            .agg(F.count(F.when(gap_s > 7 * 86400, 1))
                 .alias("n_reactivations")))
    return gaps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("n_reactivations") > 0, 1)).cast("long")
        .alias("n_reactivated_users"),
        F.sum("n_reactivations").cast("long").alias("n_reactivation_events"))


@register(
    "q_events_cms_frequency",
    oracle="""
    WITH rows_r AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
    cells AS (
        SELECT r,
               ('0x' || substr(md5(user_id::VARCHAR || ':cms:'
                                   || r::VARCHAR), 1, 8))::BIGINT % 512 AS bk,
               COUNT(*) AS c
        FROM events, rows_r
        GROUP BY r, bk
    ),
    exact AS (
        SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
    ),
    top AS (
        SELECT user_id, n_exact FROM exact
        ORDER BY n_exact DESC, user_id LIMIT 20
    ),
    probes AS (
        SELECT t.user_id, t.n_exact, rows_r.r,
               ('0x' || substr(md5(t.user_id::VARCHAR || ':cms:'
                                   || rows_r.r::VARCHAR), 1, 8))::BIGINT
                   % 512 AS bk
        FROM top t, rows_r
    )
    SELECT p.user_id, p.n_exact,
           MIN(c.c) AS cms_estimate,
           MIN(c.c) - p.n_exact AS overcount
    FROM probes p JOIN cells c ON c.r = p.r AND c.bk = p.bk
    GROUP BY p.user_id, p.n_exact
    """,
    doc="Count-min sketch frequency estimation, cross-engine EXACT: a "
        "d=4 x w=512 CMS over event user frequencies built with the "
        "repo's engine-portable hash (md5 hex substring -> int, the "
        "q_split_train_test discipline), probed at the true top-20 "
        "users — output is (exact count, CMS estimate, overcount), and "
        "because BOTH engines compute the identical sketch the "
        "estimate itself is value-checked, not floor-checked (unlike "
        "the opaque-binary Datasketches HLL next door). The sketch "
        "table is O(d*w) = 2048 cells regardless of data volume and "
        "merges by cell-wise + — the mergeability that lets 1000 "
        "executors sketch partitions independently; estimates only "
        "ever OVERcount (min over d rows bounds collision inflation). "
        "Two corpus passes (cell build, exact counts), each one "
        "map-side-combined shuffle; the probe join broadcasts 80 rows "
        "against the 2048-cell table.",
)
def q_events_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    d_rows = F.array(*[F.lit(i) for i in range(4)])

    def bucket(key_col, r_col):
        h = F.md5(F.concat(key_col.cast("string"), F.lit(":cms:"),
                           r_col.cast("string")))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
                % 512).alias("bk")

    tagged = e.select("user_id", F.explode(d_rows).alias("r"))
    cells = (tagged.select("r", bucket(F.col("user_id"), F.col("r")))
             .groupBy("r", "bk").agg(F.count(F.lit(1)).alias("c")))
    top = (e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
           .orderBy(F.desc("n_exact"), "user_id").limit(20))
    probes = (top.select("user_id", "n_exact", F.explode(d_rows).alias("r"))
              .select("user_id", "n_exact", "r",
                      bucket(F.col("user_id"), F.col("r"))))
    return (F.broadcast(probes)
            .join(cells, ["r", "bk"])
            .groupBy("user_id", "n_exact")
            .agg(F.min("c").alias("cms_estimate"))
            .withColumn("overcount",
                        F.col("cms_estimate") - F.col("n_exact")))


@register(
    "q_events_kaplan_meier",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS st FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.st
        WHERE e.event_type = 'purchase' GROUP BY e.user_id),
    g AS (SELECT MAX(ts) AS end_ts FROM events),
    obs AS (
        SELECT CASE WHEN p.pt IS NOT NULL
                    THEN datediff('hour', s.st, p.pt)
                    ELSE datediff('hour', s.st, g.end_ts) END AS dur,
               CASE WHEN p.pt IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM s LEFT JOIN p ON s.user_id = p.user_id, g),
    byday AS (
        SELECT dur, COUNT(*) AS n_all,
               COUNT(CASE WHEN ev = 1 THEN 1 END) AS n_ev
        FROM obs GROUP BY dur),
    risk AS (
        SELECT dur, n_ev,
               CAST((SELECT COUNT(*) FROM obs)
               - COALESCE(SUM(n_all) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS at_risk
        FROM byday),
    km AS (
        SELECT dur, n_ev, at_risk,
               EXP(SUM(LN(GREATEST(1.0 - n_ev::DOUBLE / at_risk, 1e-300)))
                   OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)) AS s
        FROM risk)
    SELECT dur AS hour, at_risk, n_ev AS n_converted,
           ROUND(s, 6) + 0.0 AS survival
    FROM km WHERE n_ev > 0
    """,
    doc="Kaplan-Meier time-to-event estimator over signup-to-first-"
        "purchase latency (hour granularity): users whose stream never "
        "purchases after signup are CENSORED at observation end rather "
        "than dropped — the survival-analysis correction a naive "
        "conversion-latency histogram lacks (dropping censored users "
        "biases conversion fast). S(t) = prod_(d<=t) (1 - e_d / r_d) "
        "over the per-duration histogram (bounded by span hours, "
        "corpus-size-independent); BOTH prefix passes — exclusive "
        "at-risk counts and the inclusive cumulative log-factor — run "
        "with the sharded-window discipline (monotone shard + "
        "intra-shard windows + broadcast cross-shard offsets, the "
        "histogram_auc pattern), so no single-partition WindowExec "
        "at any scale. Hour diffs are computed as hour-boundary "
        "crossings (date_trunc subtraction) to match DuckDB's "
        "datediff semantics exactly; the product is exp(sum(ln)) with "
        "a floor guard so an all-convert terminal hour yields 0, not "
        "ln(0).",
)
def q_events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    s = (e.where(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("st")))
    p = (e.where(F.col("event_type") == "purchase").alias("e")
         .join(s.alias("s"), (F.col("e.user_id") == F.col("s.user_id"))
               & (F.col("e.ts") >= F.col("s.st")))
         .groupBy(F.col("e.user_id").alias("user_id"))
         .agg(F.min("e.ts").alias("pt")))
    end = e.agg(F.max("ts").alias("end_ts"))

    def hours_between(a, b):
        return ((F.unix_timestamp(F.date_trunc("hour", b))
                 - F.unix_timestamp(F.date_trunc("hour", a))) / 3600
                ).cast("long")

    obs = (s.join(p, "user_id", "left")
           .crossJoin(F.broadcast(end))
           .select(
               F.when(F.col("pt").isNotNull(),
                      hours_between(F.col("st"), F.col("pt")))
               .otherwise(hours_between(F.col("st"), F.col("end_ts")))
               .alias("dur"),
               F.col("pt").isNotNull().cast("int").alias("ev")))
    byday = (obs.groupBy("dur")
             .agg(F.count(F.lit(1)).alias("n_all"),
                  F.count(F.when(F.col("ev") == 1, 1)).alias("n_ev")))
    total = byday.agg(F.sum("n_all").alias("n_total"))

    # Prefix pass 1 (exclusive): observations with duration < d -> at_risk.
    sharded = byday.withColumn("shard",
                               F.floor(F.col("dur") / 64).cast("int"))
    w_ex = (Window.partitionBy("shard").orderBy("dur")
            .rowsBetween(Window.unboundedPreceding, -1))
    intra = sharded.withColumn(
        "cnt_intra", F.coalesce(F.sum("n_all").over(w_ex), F.lit(0)))
    stot = sharded.groupBy("shard").agg(F.sum("n_all").alias("s_all"))
    below = (stot.alias("a")
             .join(F.broadcast(stot.alias("b")),
                   F.col("b.shard") < F.col("a.shard"), "left")
             .groupBy(F.col("a.shard").alias("shard"))
             .agg(F.coalesce(F.sum("b.s_all"), F.lit(0)).alias("cnt_shards")))
    risk = (intra.join(F.broadcast(below), "shard")
            .crossJoin(F.broadcast(total))
            .withColumn("at_risk", F.col("n_total") - F.col("cnt_shards")
                        - F.col("cnt_intra")))

    # Prefix pass 2 (inclusive): cumulative sum of ln(1 - e/r).
    lf = F.log(F.greatest(
        F.lit(1.0) - F.col("n_ev").cast("double") / F.col("at_risk"),
        F.lit(1e-300)))
    risk = risk.withColumn("lf", lf)
    w_in = (Window.partitionBy("shard").orderBy("dur")
            .rowsBetween(Window.unboundedPreceding, 0))
    intra2 = risk.withColumn("lf_intra", F.sum("lf").over(w_in))
    ltot = risk.groupBy("shard").agg(F.sum("lf").alias("s_lf"))
    lbelow = (ltot.alias("a")
              .join(F.broadcast(ltot.alias("b")),
                    F.col("b.shard") < F.col("a.shard"), "left")
              .groupBy(F.col("a.shard").alias("shard"))
              .agg(F.coalesce(F.sum("b.s_lf"), F.lit(0.0)).alias("lf_shards")))
    km = (intra2.join(F.broadcast(lbelow), "shard")
          .withColumn("s", F.exp(F.col("lf_shards") + F.col("lf_intra"))))
    return (km.where(F.col("n_ev") > 0)
            .select(F.col("dur").alias("hour"),
                    F.col("at_risk").cast("long").alias("at_risk"),
                    F.col("n_ev").alias("n_converted"),
                    (F.round("s", 6) + F.lit(0.0)).alias("survival")))


@register(
    "q_events_anova",
    oracle="""
    WITH g AS (
        SELECT event_type AS grp, value FROM events
        WHERE value IS NOT NULL),
    st AS (
        SELECT grp, COUNT(*) AS n, AVG(value) AS m
        FROM g GROUP BY grp),
    tot AS (
        SELECT COUNT(*) AS n_all, AVG(value) AS gm,
               SUM(value * value) AS ss
        FROM g),
    parts AS (
        SELECT (SELECT COUNT(*) FROM st) AS k,
               tot.n_all,
               SUM(st.n * (st.m - tot.gm) * (st.m - tot.gm)) AS ssb,
               MAX(tot.ss) - SUM(st.n * st.m * st.m) AS ssw
        FROM st, tot GROUP BY tot.n_all)
    SELECT CAST(k AS BIGINT) AS k_groups, n_all,
           ROUND(ssb / (k - 1), 4) + 0.0 AS ms_between,
           ROUND(ssw / (n_all - k), 4) + 0.0 AS ms_within,
           ROUND((ssb / (k - 1)) / (ssw / (n_all - k)), 4) + 0.0
               AS f_stat
    FROM parts
    """,
    doc="One-way ANOVA F-test of event value across event types: "
        "between-group and within-group mean squares from the "
        "standard decomposition (SSW = SS_total - sum n_g*m_g^2, "
        "SSB = sum n_g*(m_g - grand_mean)^2), completing the "
        "hypothesis-test battery beside the two-sample t-test, "
        "chi-squared, and KS drift checks. Two aggregates (per-group "
        "and grand), both map-side-combined single exchanges over one "
        "scan; the k-group statistics table is k rows, so the F "
        "assembly is driver-scale arithmetic kept in-plan via a "
        "broadcast crossJoin — no action, no Python. An F >> 1 says "
        "the value distribution genuinely differs by type (here "
        "'purchase' carries order values) — the screening test before "
        "any per-segment modeling.",
)
def q_events_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select(F.col("event_type").alias("grp"), "value"))
    st = e.groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                              F.avg("value").alias("m"))
    tot = e.agg(F.count(F.lit(1)).alias("n_all"),
                F.avg("value").alias("gm"),
                F.sum(F.col("value") * F.col("value")).alias("ss"))
    parts = (st.crossJoin(F.broadcast(tot))
             .groupBy("n_all")
             .agg(F.count(F.lit(1)).cast("long").alias("k_groups"),
                  F.sum(F.col("n") * (F.col("m") - F.col("gm"))
                        * (F.col("m") - F.col("gm"))).alias("ssb"),
                  (F.max("ss") - F.sum(F.col("n") * F.col("m") * F.col("m")))
                  .alias("ssw")))
    msb = F.col("ssb") / (F.col("k_groups") - 1)
    msw = F.col("ssw") / (F.col("n_all") - F.col("k_groups"))
    return parts.select(
        "k_groups", "n_all",
        (F.round(msb, 4) + F.lit(0.0)).alias("ms_between"),
        (F.round(msw, 4) + F.lit(0.0)).alias("ms_within"),
        (F.round(msb / msw, 4) + F.lit(0.0)).alias("f_stat"))


@register(
    "q_events_session_window_native",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
        FROM flagged)
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           STRFTIME(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS window_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Sessionization via the NATIVE F.session_window aggregate in "
        "BATCH mode — the one-groupBy formulation of what "
        "q_events_sessionize builds from lag/cumsum windows, pinning "
        "that Spark's built-in session merge agrees with the islands "
        "spec. Boundary semantics differ at EXACTLY the gap: "
        "session_window treats windows as [start, last+gap) — an "
        "event landing exactly at last+gap starts a NEW session — so "
        "the oracle's new-session rule is >= gap where the islands "
        "query's is > gap; the returned window_end is last_event + "
        "gap (the native struct's end), not last_event. One exchange "
        "on user_id, session merge inside the aggregate — at scale "
        "this is strictly cheaper than the two-window islands plan "
        "(no per-row lag pass before the groupBy).",
)
def q_events_session_window_native(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    return (e.groupBy("user_id",
                      F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("session_value"))
            .select("user_id",
                    F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_end"),
                    "n_events", "session_value"))


@register(
    "q_quantile_rollup",
    oracle="""
    WITH m AS (SELECT MIN(value) AS lo, MAX(value) AS hi
               FROM events WHERE value IS NOT NULL),
    b AS (SELECT CASE WHEN m.hi = m.lo THEN 0
                 ELSE LEAST(CAST(FLOOR((value - m.lo) / (m.hi - m.lo) * 256)
                            AS INT), 255) END AS bk
          FROM events, m WHERE value IS NOT NULL),
    h AS (SELECT bk, COUNT(*) AS c FROM b GROUP BY bk),
    n AS (SELECT COUNT(*) AS nn FROM b),
    cum AS (SELECT h1.bk, CAST(SUM(h2.c) AS BIGINT) AS cc
            FROM h h1 JOIN h h2 ON h2.bk <= h1.bk
            GROUP BY h1.bk),
    qs AS (SELECT unnest([50, 90, 99]) AS qp),
    pick AS (SELECT qs.qp, MIN(cum.bk) AS bk
             FROM qs, cum, n
             WHERE cum.cc >= CEIL(qs.qp / 100.0 * n.nn)
             GROUP BY qs.qp)
    SELECT p.qp AS percentile, p.bk AS bucket,
           ROUND(m.lo + p.bk * (m.hi - m.lo) / 256, 4) + 0.0 AS bucket_lo,
           ROUND(m.lo + (p.bk + 1) * (m.hi - m.lo) / 256, 4) + 0.0
               AS bucket_hi
    FROM pick p, m
    """,
    doc="Mergeable quantile estimation via histogram partials — the "
        "rollup-cascade property for ORDER STATISTICS, which exact "
        "percentiles lack entirely: per-day 256-bucket equi-width "
        "histograms (the materialization a rollup table stores) merge "
        "by cell-wise addition into the full-range histogram, and "
        "p50/p90/p99 read off the merged cumulative as the first "
        "bucket crossing ceil(q*n) — error bounded by one bucket "
        "width, zero re-scan of raw data. The engine builds the "
        "day-grain partials and merges them (proving the cascade); "
        "the oracle histograms the raw directly — equality IS the "
        "re-aggregability proof. The cumulative runs as a bounded "
        "256-row self-join (window-free); range bounds enter as a "
        "broadcast 1-row aggregate, bucket arithmetic is one shared "
        "expression tree -> bit-identical bucket assignment.",
)
def q_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull()))
    m = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # Degenerate-range guard (all values equal => hi == lo): everything
    # maps to bucket 0 on BOTH engine and oracle sides, instead of a
    # divide-by-zero NULL/NaN with engine-specific null semantics.
    bk = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(F.least(
        F.floor((F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo")) * 256).cast("int"),
        F.lit(255)))
    tagged = (e.crossJoin(F.broadcast(m))
              .select(F.to_date("ts").alias("day"), bk.alias("bk")))
    daily = tagged.groupBy("day", "bk").agg(F.count(F.lit(1)).alias("c"))
    hist = daily.groupBy("bk").agg(F.sum("c").alias("c"))
    n = hist.agg(F.sum("c").alias("nn"))
    cum = (hist.alias("h1")
           .join(hist.alias("h2"), F.col("h2.bk") <= F.col("h1.bk"))
           .groupBy(F.col("h1.bk").alias("bk"))
           .agg(F.sum("h2.c").cast("long").alias("cc")))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("qp"))
    pick = (F.broadcast(qs).crossJoin(cum).crossJoin(F.broadcast(n))
            .where(F.col("cc") >= F.ceil(F.col("qp") / 100.0 * F.col("nn")))
            .groupBy("qp").agg(F.min("bk").alias("bk")))
    w = (F.col("hi") - F.col("lo")) / 256
    return (pick.crossJoin(F.broadcast(m))
            .select(F.col("qp").alias("percentile"),
                    F.col("bk").alias("bucket"),
                    (F.round(F.col("lo") + F.col("bk") * w, 4)
                     + F.lit(0.0)).alias("bucket_lo"),
                    (F.round(F.col("lo") + (F.col("bk") + 1) * w, 4)
                     + F.lit(0.0)).alias("bucket_hi")))


@register(
    "q_asof_tolerance_join",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           CASE WHEN e.ts - s.ts <= INTERVAL 30 MINUTES
                THEN s.event_id END AS signup_event_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    doc="As-of join with a TOLERANCE bound (pandas merge_asof's "
        "tolerance= / kdb wj semantics): each error event matches the "
        "latest prior-or-equal signup of its user ONLY if that signup "
        "is within 30 minutes — older matches become NULL, "
        "distinguishing 'no recent context' from 'no context ever'. "
        "Same union + last-value-window plan as q_asof_join (ONE "
        "shuffle on user_id, no nested-loop range join); the "
        "tolerance is a post-match null-out, which is exactly how the "
        "oracle states it over DuckDB's native ASOF JOIN — proving "
        "the window formulation and a native as-of executor agree on "
        "the bounded-staleness contract.",
)
def q_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    errors = e.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_event_id"), "ts")
    joined = asof_join(errors, signups, on=["user_id"], left_ts="ts",
                       right_ts="ts", right_cols=["signup_event_id", "ts"],
                       suffix="_s", tolerance_seconds=1800.0)
    return joined.select("event_id", "user_id",
                         F.col("signup_event_id_s").alias("signup_event_id"))


# --------------------------------------------------------------------------
# Count-Min sketch — fixed-memory frequency estimation, audited vs exact
# --------------------------------------------------------------------------

@register(
    "q_sketch_countmin",
    oracle="""
    WITH hp(j, a, b) AS (VALUES (0, 1103515245, 12345),
                                (1, 69069, 362437),
                                (2, 1664525, 1013904223)),
    ex AS (SELECT user_id, COUNT(*) AS exact_n FROM events
           GROUP BY user_id),
    counters AS (
        SELECT hp.j,
               ((hp.a * e.user_id + hp.b) % 2147483647) % 64 AS bucket,
               COUNT(*) AS cnt
        FROM events e CROSS JOIN hp
        GROUP BY hp.j, bucket),
    top20 AS (
        SELECT user_id, exact_n FROM ex
        ORDER BY exact_n DESC, user_id LIMIT 20),
    est AS (
        SELECT t.user_id, t.exact_n, MIN(c.cnt) AS cm_estimate
        FROM top20 t CROSS JOIN hp
        JOIN counters c
          ON c.j = hp.j
         AND c.bucket = ((hp.a * t.user_id + hp.b) % 2147483647) % 64
        GROUP BY t.user_id, t.exact_n)
    SELECT user_id, CAST(exact_n AS BIGINT) AS exact_n,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(cm_estimate - exact_n AS BIGINT) AS overcount,
           cm_estimate >= exact_n AS never_undercounts
    FROM est
    ORDER BY exact_n DESC, user_id
    """,
    doc="Count-Min sketch frequency estimation, audited against exact "
        "counts. The sketch is d=3 rows x w=64 counters (three LCG "
        "hashes mod prime mod w); building it is ONE group-by over "
        "(hash_fn, bucket) — 192 cells of fixed memory no matter how "
        "many rows flow through, and the cells are sums, so partial "
        "sketches merge associatively across partitions/days exactly "
        "like the rollup cascade. Point estimate = min over the d "
        "counters (Cormode-Muthukrishnan); the audit pins the two CM "
        "guarantees on the 20 heaviest users: estimates NEVER "
        "undercount (one-sided error, proven per-row) and the "
        "overcount column measures collision noise at w=64 against "
        "150 distinct keys — the deliberate under-provisioning that "
        "makes the error visible and value-checked. Complements the "
        "Misra-Gries heavy-hitter sketch (q_events_heavy_hitters): MG "
        "answers 'who is frequent', CM answers 'how frequent is X' "
        "for ANY x with eps*N additive error in O(d*w) memory. All "
        "integer arithmetic — hash-exact across engines.",
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    P, W = 2147483647, 64
    hp = local_df(spark, 
        [(0, 1103515245, 12345), (1, 69069, 362437), (2, 1664525, 1013904223)],
        "j int, a long, b long")
    bucket = ((F.col("a") * F.col("user_id") + F.col("b")) % P) % W
    counters = (e.select("user_id").crossJoin(F.broadcast(hp))
                .groupBy("j", bucket.alias("bucket"))
                .agg(F.count(F.lit(1)).alias("cnt")))
    ex = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    top20 = ex.orderBy(F.desc("exact_n"), "user_id").limit(20)
    est = (top20.crossJoin(F.broadcast(hp))
           .withColumn("bucket", bucket)
           .join(F.broadcast(counters), ["j", "bucket"])
           .groupBy("user_id", "exact_n")
           .agg(F.min("cnt").alias("cm_estimate")))
    return (est.select(
                "user_id",
                F.col("exact_n").cast("long").alias("exact_n"),
                F.col("cm_estimate").cast("long").alias("cm_estimate"),
                (F.col("cm_estimate") - F.col("exact_n")).cast("long")
                .alias("overcount"),
                (F.col("cm_estimate") >= F.col("exact_n"))
                .alias("never_undercounts"))
            .orderBy(F.desc("exact_n"), "user_id"))


# --------------------------------------------------------------------------
# Lagged cross-correlation between two event-type series
# --------------------------------------------------------------------------

@register(
    "q_events_cross_correlation",
    oracle="""
    WITH he AS (
        SELECT epoch_us(ts) // 3600000000 AS he, event_type FROM events
        WHERE event_type IN ('click', 'purchase')),
    bounds AS (SELECT MIN(he) AS lo, MAX(he) AS hi FROM he),
    spine AS (SELECT UNNEST(range(lo, hi + 1)) AS he FROM bounds),
    hs AS (
        SELECT s.he,
               COALESCE(SUM(CASE WHEN e.event_type = 'click'
                                 THEN 1 END), 0) AS x,
               COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                                 THEN 1 END), 0) AS y
        FROM spine s LEFT JOIN he e USING (he) GROUP BY s.he),
    lags AS (SELECT UNNEST(range(0, 7)) AS lag),
    pairs AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN hs a ON TRUE
        JOIN hs b ON b.he = a.he + l.lag),
    sums AS (
        SELECT lag, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM pairs GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                THEN NULL
                ELSE ROUND((n * sxy - sx * sy) /
                           SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS r
    FROM sums ORDER BY lag
    """,
    doc="Lagged cross-correlation between the hourly click series and "
        "the hourly purchase series (does click volume LEAD purchase "
        "volume, and by how many hours?) — the signal behind "
        "conversion-latency dashboards and Granger-style lead/lag "
        "screens. A dense hour spine (integer epoch-hours via "
        "``sequence``, zero-filled left join) makes gaps explicit "
        "zeros rather than silently skipped rows; for each lag "
        "L in 0..6 the Pearson r between x(t) and y(t+L) is computed "
        "from BIGINT power sums (n, Sx, Sy, Sxy, Sxx, Syy) so every "
        "aggregate is integer-exact and order-independent — the one "
        "float op is the final normalization, identical on both "
        "engines. Scale shape: the series table is hours-sized (tiny "
        "next to the event table), so the lag fan-out self-join is a "
        "broadcast over an already-aggregated relation; the heavy "
        "input scan happens exactly once. Zero-variance windows yield "
        "NULL (guarded identically on both sides).",
)
def q_events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (Catalog(spark, sf_dir).table("events")
         .where(F.col("event_type").isin("click", "purchase"))
         .select(F.expr("unix_micros(ts) div 3600000000").alias("he"),
                 "event_type"))
    counts = e.groupBy("he").agg(
        F.sum(F.when(F.col("event_type") == "click", 1)).alias("cx"),
        F.sum(F.when(F.col("event_type") == "purchase", 1)).alias("cy"))
    bounds = e.agg(F.min("he").alias("lo"), F.max("he").alias("hi"))
    spine = (bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("he")))
    hs = (spine.join(counts, "he", "left")
          .select("he",
                  F.coalesce("cx", F.lit(0)).alias("x"),
                  F.coalesce("cy", F.lit(0)).alias("y"))
          .localCheckpoint(eager=False))
    lags = spark.range(7).select(F.col("id").cast("int").alias("lag"))
    a = hs.select(F.col("he").alias("a_he"), F.col("x"))
    b = hs.select(F.col("he").alias("b_he"), F.col("y"))
    pairs = (a.crossJoin(F.broadcast(lags))
             .join(F.broadcast(b),
                   F.col("b_he") == F.col("a_he") + F.col("lag")))
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (sums.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.when(vx * vy == 0, F.lit(None).cast("double"))
         .otherwise(F.round(cov / F.sqrt(vx.cast("double")
                                         * vy.cast("double")), 6))
         .alias("r"))
        .orderBy("lag"))


# --------------------------------------------------------------------------
# Time-weighted average — irregular-sampling aggregation done right
# --------------------------------------------------------------------------

@register(
    "q_events_time_weighted_avg",
    oracle="""
    WITH v AS (
        SELECT user_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
    seg AS (
        SELECT user_id, cents,
               (epoch_us(LEAD(ts) OVER w) - epoch_us(ts)) // 1000000
                   AS dur_s
        FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, cents)),
    agg AS (
        SELECT user_id,
               COUNT(*) AS n_segments,
               SUM(cents * dur_s) AS wsum,
               SUM(dur_s) AS wtot
        FROM seg WHERE dur_s IS NOT NULL AND dur_s > 0
        GROUP BY user_id)
    SELECT user_id, CAST(n_segments AS BIGINT) AS n_segments,
           CAST(wtot AS BIGINT) AS held_seconds,
           ROUND(wsum / (wtot * 100.0), 4) AS twa_value
    FROM agg
    ORDER BY twa_value DESC, user_id
    LIMIT 20
    """,
    doc="Time-weighted average of an irregularly sampled value per user "
        "— the correct aggregation for last-observation-carried-forward "
        "signals (account balance, price, sensor level) where a plain "
        "AVG over-weights bursts of rapid updates. Each observation "
        "holds until the user's next one (LEAD over the per-user "
        "time-ordered window — partitioned, never global); its weight "
        "is the hold duration in whole seconds. Weighted sums "
        "accumulate as BIGINT cents*seconds so the aggregate is "
        "integer-exact and summation-order-free; the single float "
        "division happens once per user at the end. The final ranked "
        "top-20 is a TakeOrderedAndProject, not a global sort. The "
        "tie-break inside the window (ts, then cents) is a total "
        "order, so LEAD pairs identically on both engines even with "
        "duplicate timestamps.",
)
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select("user_id", "ts",
                 F.round(F.col("value") * 100).cast("long").alias("cents")))
    w = Window.partitionBy("user_id").orderBy("ts", "cents")
    seg = (v.withColumn("lead_ts", F.lead("ts").over(w))
           .select("user_id", "cents",
                   ((F.unix_micros("lead_ts") - F.unix_micros("ts"))
                    / 1000000).cast("long").alias("dur_s")))
    agg = (seg.where(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
           .groupBy("user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_segments"),
                F.sum(F.col("cents") * F.col("dur_s")).alias("wsum"),
                F.sum("dur_s").cast("long").alias("held_seconds")))
    return (agg.select(
        "user_id", "n_segments", "held_seconds",
        F.round(F.col("wsum") / (F.col("held_seconds") * 100.0), 4)
         .alias("twa_value"))
        .orderBy(F.desc("twa_value"), "user_id").limit(20))


# --------------------------------------------------------------------------
# Equi-width histogram sketch — quantile estimation with a rank-error proof
# --------------------------------------------------------------------------

@register(
    "q_sketch_quantile_histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL),
    bounds AS (SELECT MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n FROM v),
    binned AS (
        -- // (integer floor division): CAST(double AS BIGINT) ROUNDS in
        -- DuckDB while Spark's cast truncates — never mix the two.
        SELECT ((v.c - b.lo) * 32) // (b.hi - b.lo + 1) AS bucket,
               COUNT(*) AS cnt
        FROM v CROSS JOIN bounds b GROUP BY 1),
    cum AS (
        SELECT bucket, cnt,
               SUM(cnt) OVER (ORDER BY bucket) AS cum_n
        FROM binned),
    targets AS (SELECT UNNEST([50, 90, 99]) AS pct),
    est AS (
        SELECT t.pct,
               CAST(CEIL(t.pct * b.n / 100.0) AS BIGINT) AS target_rank,
               MIN(c.bucket) AS est_bucket
        FROM targets t CROSS JOIN bounds b
        JOIN cum c ON c.cum_n >= CEIL(t.pct * b.n / 100.0)
        GROUP BY t.pct, b.n),
    audit AS (
        SELECT e.pct, e.target_rank, e.est_bucket,
               b.lo + (e.est_bucket * (b.hi - b.lo + 1)) // 32
                   AS est_lo_cents,
               (SELECT COALESCE(SUM(cnt), 0) FROM cum
                WHERE bucket < e.est_bucket) AS rank_below,
               (SELECT cnt FROM cum WHERE bucket = e.est_bucket)
                   AS bucket_n
        FROM est e CROSS JOIN bounds b)
    SELECT CAST(pct AS INT) AS pct,
           CAST(target_rank AS BIGINT) AS target_rank,
           CAST(est_bucket AS INT) AS est_bucket,
           CAST(est_lo_cents AS BIGINT) AS est_lo_cents,
           CAST(rank_below AS BIGINT) AS rank_below,
           CAST(bucket_n AS BIGINT) AS bucket_n,
           rank_below < target_rank
               AND target_rank <= rank_below + bucket_n AS rank_bounded
    FROM audit ORDER BY pct
    """,
    doc="Equi-width histogram quantile sketch with a per-target "
        "rank-error PROOF — the fixed-memory quantile path (32 integer "
        "counters, mergeable across partitions/days by plain addition, "
        "like the Count-Min and Misra-Gries companions). Values enter "
        "as integer cents; bucket id is pure BIGINT arithmetic "
        "((c-lo)*32/(hi-lo+1)), so binning is bit-identical on both "
        "engines. For each target percentile (P50/P90/P99) the sketch "
        "answers with the first bucket whose cumulative count reaches "
        "ceil(q*n); the audit then proves the guarantee the sketch "
        "ships with: the true target rank lies strictly inside the "
        "returned bucket (rank_below < k <= rank_below + bucket_n), "
        "i.e. the estimate is off by at most one bucket width — the "
        "eps=1/32 rank bound, value-checked rather than asserted. The "
        "cumulative window runs over 32 rows (bounded by sketch width, "
        "not data), so the single-partition sort is constant-size.",
)
def q_sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    B = 32
    v = (Catalog(spark, sf_dir).table("events")
         .where(F.col("value").isNotNull())
         .select(F.round(F.col("value") * 100).cast("long").alias("c")))
    bounds = v.agg(F.min("c").alias("lo"), F.max("c").alias("hi"),
                   F.count(F.lit(1)).alias("n"))
    width = F.col("hi") - F.col("lo") + 1
    binned = (v.crossJoin(F.broadcast(bounds))
              .groupBy(((F.col("c") - F.col("lo")) * B / width)
                       .cast("long").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("cnt"))
              .localCheckpoint(eager=False))
    # Cumulative counts via a bounded broadcast self-join (32x32 cells),
    # NOT a global window — an un-partitioned Window would force an
    # Exchange SinglePartition even though the sketch is 32 rows.
    prior = binned.select(F.col("bucket").alias("pb"),
                          F.col("cnt").alias("pcnt"))
    cum = (binned.join(F.broadcast(prior), F.col("pb") <= F.col("bucket"))
           .groupBy("bucket", "cnt").agg(F.sum("pcnt").alias("cum_n")))
    targets = local_df(spark, [(50,), (90,), (99,)], "pct int")
    k = F.ceil(F.col("pct") * F.col("n") / 100.0).cast("long")
    est = (targets.crossJoin(F.broadcast(bounds))
           .join(F.broadcast(cum), F.col("cum_n") >= k)
           .groupBy("pct", "n", "lo", "hi")
           .agg(F.min("bucket").alias("est_bucket"))
           .withColumn("target_rank", k))
    below = (est.join(F.broadcast(cum.select(F.col("bucket").alias("bb"),
                                             F.col("cnt").alias("bcnt"))),
                      F.col("bb") < F.col("est_bucket"), "left")
             .groupBy("pct", "target_rank", "est_bucket", "lo", "hi")
             .agg(F.coalesce(F.sum("bcnt"), F.lit(0)).alias("rank_below")))
    withn = below.join(
        F.broadcast(cum.select(F.col("bucket").alias("est_bucket"),
                               F.col("cnt").alias("bucket_n"))),
        "est_bucket")
    return (withn.select(
        "pct",
        F.col("target_rank").cast("long").alias("target_rank"),
        F.col("est_bucket").cast("int").alias("est_bucket"),
        (F.col("lo") + F.floor(F.col("est_bucket")
                               * (F.col("hi") - F.col("lo") + 1) / B))
        .cast("long").alias("est_lo_cents"),
        F.col("rank_below").cast("long").alias("rank_below"),
        F.col("bucket_n").cast("long").alias("bucket_n"),
        ((F.col("rank_below") < F.col("target_rank"))
         & (F.col("target_rank") <= F.col("rank_below") + F.col("bucket_n")))
        .alias("rank_bounded"))
        .orderBy("pct"))


# --------------------------------------------------------------------------
# Poisson overdispersion — is arrival traffic bursty or homogeneous?
# --------------------------------------------------------------------------

@register(
    "q_events_overdispersion",
    oracle="""
    WITH he AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c
        FROM events GROUP BY user_id, h),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi
               FROM (SELECT epoch_us(ts) // 3600000000 AS h FROM events)),
    g AS (
        SELECT user_id,
               COUNT(*) AS n_active_hours,
               SUM(c) AS n_events,
               SUM(c * c) AS s2
        FROM he GROUP BY user_id),
    d AS (
        SELECT g.user_id, g.n_events,
               (b.hi - b.lo + 1) AS n_hours,
               g.s2,
               CAST(g.n_events AS DOUBLE) / (b.hi - b.lo + 1) AS mean_c,
               (CAST(g.s2 AS DOUBLE)
                - 2.0 * (CAST(g.n_events AS DOUBLE) / (b.hi - b.lo + 1))
                  * g.n_events
                + (b.hi - b.lo + 1)
                  * (CAST(g.n_events AS DOUBLE) / (b.hi - b.lo + 1))
                  * (CAST(g.n_events AS DOUBLE) / (b.hi - b.lo + 1)))
               / ((b.hi - b.lo + 1) - 1) AS var_c
        FROM g CROSS JOIN bounds b)
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_hours AS BIGINT) AS n_hours,
           ROUND(mean_c, 6) AS mean_per_hour,
           ROUND(var_c, 6) AS var_per_hour,
           ROUND(var_c / mean_c, 4) AS dispersion_index,
           ROUND(var_c / mean_c, 4) > 1.5 AS bursty
    FROM d
    ORDER BY dispersion_index DESC, user_id
    LIMIT 20
    """,
    doc="Poisson overdispersion screen per user: the variance/mean "
        "ratio (index of dispersion) of hourly event counts over the "
        "FULL hour range — a homogeneous Poisson process has index 1; "
        "index >> 1 is burstiness (sessions, retries, bots — the "
        "cheap statistical precursor to q_events_bot_detection). The "
        "zero-hour problem is solved WITHOUT materializing the dense "
        "user x hour grid: with z empty hours contributing zeros, "
        "variance over all H hours derives from the active-hour "
        "aggregates alone — sum c, sum c^2, and H — so the per-user "
        "state is three integers (the same sparse-moments trick the "
        "power-sum skewness query uses). One (user, hour) group-by "
        "plus one per-user fold; closed-form identical doubles on "
        "both engines.",
)
def q_events_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    h = F.expr("unix_micros(ts) div 3600000000")
    he = (e.select("user_id", h.alias("h"))
          .groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("c")))
    bounds = (e.select(h.alias("h"))
              .agg(F.min("h").alias("lo"), F.max("h").alias("hi")))
    g = he.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_active_hours"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).alias("s2"))
    j = g.crossJoin(F.broadcast(bounds))
    nh = F.col("hi") - F.col("lo") + 1
    mean_c = F.col("n_events").cast("double") / nh
    var_c = ((F.col("s2").cast("double")
              - 2.0 * mean_c * F.col("n_events")
              + nh * mean_c * mean_c) / (nh - 1))
    return (j.select("user_id",
                     F.col("n_events").cast("long").alias("n_events"),
                     nh.cast("long").alias("n_hours"),
                     F.round(mean_c, 6).alias("mean_per_hour"),
                     F.round(var_c, 6).alias("var_per_hour"),
                     F.round(var_c / mean_c, 4).alias("dispersion_index"),
                     (F.round(var_c / mean_c, 4) > 1.5).alias("bursty"))
            .orderBy(F.desc("dispersion_index"), "user_id").limit(20))


# --------------------------------------------------------------------------
# Session-gap sensitivity sweep — choosing the inactivity threshold
# --------------------------------------------------------------------------

@register(
    "q_events_session_gap_sweep",
    oracle="""
    WITH g AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000
                   AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    th AS (SELECT UNNEST([900, 1800, 3600, 7200]) AS threshold_s),
    m AS (
        SELECT t.threshold_s,
               (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
               SUM(CASE WHEN g.gap_s > t.threshold_s
                        THEN 1 ELSE 0 END) AS n_breaks
        FROM th t CROSS JOIN g
        WHERE g.gap_s IS NOT NULL
        GROUP BY t.threshold_s)
    SELECT CAST(threshold_s AS INT) AS threshold_s,
           CAST(n_users + n_breaks AS BIGINT) AS n_sessions,
           CAST(n_breaks AS BIGINT) AS n_breaks,
           ROUND((n_users + n_breaks)::DOUBLE / n_users, 4)
               AS sessions_per_user
    FROM m ORDER BY threshold_s
    """,
    doc="Inactivity-threshold sensitivity sweep for sessionization: "
        "session counts at 15/30/60/120-minute gaps from ONE pass over "
        "the per-user gap sequence (sessions(t) = users + #gaps > t — "
        "no re-sessionization per threshold, just a conditional count "
        "over the same LAG output). This is the analysis that picks "
        "the gap the production sessionizer (q_events_sessionize, the "
        "streaming session windows) then hardcodes: the elbow where "
        "sessions_per_user stops falling is the natural inactivity "
        "scale. Integer gaps (epoch-microsecond floor division), "
        "per-user windows only, threshold fan-out over an already-"
        "derived gap relation.",
)
def q_events_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (e.withColumn("prev_ts", F.lag("ts").over(w))
         .select(((F.unix_micros("ts") - F.unix_micros("prev_ts"))
                  / 1000000).cast("long").alias("gap_s"))
         .where(F.col("gap_s").isNotNull())
         .localCheckpoint(eager=False))
    th = local_df(spark, [(900,), (1800,), (3600,), (7200,)],
                               "threshold_s int")
    nu = e.agg(F.countDistinct("user_id").alias("n_users"))
    m = (g.crossJoin(F.broadcast(th))
         .groupBy("threshold_s")
         .agg(F.sum(F.when(F.col("gap_s") > F.col("threshold_s"), 1)
                    .otherwise(0)).alias("n_breaks"))
         .crossJoin(F.broadcast(nu)))
    return (m.select("threshold_s",
                     (F.col("n_users") + F.col("n_breaks")).cast("long")
                      .alias("n_sessions"),
                     F.col("n_breaks").cast("long").alias("n_breaks"),
                     F.round((F.col("n_users") + F.col("n_breaks"))
                             .cast("double") / F.col("n_users"), 4)
                      .alias("sessions_per_user"))
            .orderBy("threshold_s"))


# --------------------------------------------------------------------------
# DAU / MAU stickiness — the product-engagement ratio
# --------------------------------------------------------------------------

@register(
    "q_events_dau_mau",
    oracle="""
    WITH d AS (
        SELECT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
            FROM d GROUP BY day),
    mau AS (SELECT COUNT(DISTINCT user_id) AS mau FROM d),
    wk AS (
        SELECT day // 7 AS week, day, dau FROM dau)
    SELECT CAST(week AS BIGINT) AS week,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MIN(dau) AS BIGINT) AS min_dau,
           CAST(MAX(dau) AS BIGINT) AS max_dau,
           ROUND(AVG(dau), 2) AS avg_dau,
           CAST((SELECT mau FROM mau) AS BIGINT) AS mau,
           ROUND(AVG(dau) / (SELECT mau FROM mau), 4) AS stickiness
    FROM wk GROUP BY week ORDER BY week
    """,
    doc="DAU/MAU stickiness per week — the canonical product-engagement "
        "ratio (what fraction of the monthly audience shows up on an "
        "average day; 0.2 is the folk 'good', 1.0 is a daily-habit "
        "product). Daily actives are COUNT(DISTINCT user) per integer "
        "epoch-day (at 100 TB swap in the mergeable HLL twin "
        "q_hll_mergeable_distinct — the ratio tolerates approximate "
        "cardinalities), the monthly base is one distinct over the "
        "fixture's single-month span, and week = day // 7 keeps the "
        "bucketing pure integer arithmetic. Counts exact; one rounded "
        "ratio.",
)
def q_events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    d = e.select(F.expr("unix_micros(ts) div 86400000000").alias("day"),
                 "user_id")
    dau = (d.groupBy("day").agg(F.countDistinct("user_id").alias("dau")))
    mau = d.agg(F.countDistinct("user_id").alias("mau"))
    wk = dau.select(F.expr("day div 7").alias("week"), "dau")
    return (wk.groupBy("week")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.min("dau").cast("long").alias("min_dau"),
                 F.max("dau").cast("long").alias("max_dau"),
                 F.avg("dau").alias("avg_raw"))
            .crossJoin(F.broadcast(mau))
            .select(F.col("week").cast("long").alias("week"),
                    "n_days", "min_dau", "max_dau",
                    F.round("avg_raw", 2).alias("avg_dau"),
                    F.col("mau").cast("long").alias("mau"),
                    # divide the UNROUNDED average (the oracle does) —
                    # round-then-divide flips the 4th decimal
                    F.round(F.col("avg_raw") / F.col("mau"), 4)
                     .alias("stickiness"))
            .orderBy("week"))


# --------------------------------------------------------------------------
# Periodogram probe — is there a daily/weekly cycle in the traffic?
# --------------------------------------------------------------------------

@register(
    "q_events_periodogram",
    oracle="""
    WITH he AS (
        SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS c
        FROM events GROUP BY h),
    b AS (SELECT MIN(h) AS lo FROM he),
    x AS (SELECT h - lo AS t, c FROM he CROSS JOIN b),
    st AS (SELECT COUNT(*) AS n, SUM(c) AS s FROM x),
    periods AS (SELECT UNNEST([6, 12, 24, 168]) AS period_h),
    dft AS (
        SELECT p.period_h,
               SUM((x.c - CAST(st.s AS DOUBLE) / st.n)
                   * COS(2 * PI() * x.t / p.period_h)) AS re,
               SUM((x.c - CAST(st.s AS DOUBLE) / st.n)
                   * SIN(2 * PI() * x.t / p.period_h)) AS im,
               MAX(st.n) AS n
        FROM x CROSS JOIN periods p CROSS JOIN st
        GROUP BY p.period_h),
    pw AS (SELECT period_h, n,
                  ROUND((re * re + im * im) / n, 2) AS power
           FROM dft),
    tot AS (SELECT SUM(power) AS tp, MAX(power) AS mx FROM pw)
    SELECT CAST(period_h AS INT) AS period_h,
           CAST(n AS BIGINT) AS n_hours,
           power,
           ROUND(power / tp, 4) AS power_share,
           power = mx AS dominant
    FROM pw, tot ORDER BY period_h
    """,
    doc="Periodogram probe of the hourly event-count series at the "
        "periods that matter operationally (6 h, 12 h, 24 h, weekly): "
        "P(f) = |sum (c_t - mean) e^{-2pi i t/T}|^2 / n, the discrete "
        "Fourier power that makes seasonality a NUMBER instead of a "
        "plot — the screen that says whether the seasonal-decompose / "
        "seasonal-naive forecasters (q_events_seasonal_decompose, "
        "q_forecast_seasonal_naive) have a cycle to model at all, and "
        "at which period. Mean-centering kills the DC term; cos/sin "
        "of integer t over literal periods are identical doubles on "
        "both engines and each power is one rounded sum. Scale shape: "
        "the heavy input collapses to the hour histogram first; the "
        "DFT is 4 x hours fused multiply-adds in one aggregate pass "
        "(frequency fan-out over an already-aggregated relation).",
)
def q_events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = Catalog(spark, sf_dir).table("events")
    he = (e.select(F.expr("unix_micros(ts) div 3600000000").alias("h"))
          .groupBy("h").agg(F.count(F.lit(1)).alias("c")))
    b = he.agg(F.min("h").alias("lo"))
    x = (he.crossJoin(F.broadcast(b))
         .select((F.col("h") - F.col("lo")).alias("t"), "c")
         .localCheckpoint(eager=False))
    st = x.agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
    periods = local_df(spark, [(6,), (12,), (24,), (168,)],
                                    "period_h int")
    ang = 2 * math.pi * F.col("t") / F.col("period_h")
    dev = F.col("c") - F.col("s").cast("double") / F.col("n")
    dft = (x.crossJoin(F.broadcast(periods)).crossJoin(F.broadcast(st))
           .groupBy("period_h")
           .agg(F.sum(dev * F.cos(ang)).alias("re"),
                F.sum(dev * F.sin(ang)).alias("im"),
                F.max("n").alias("n")))
    # Powers are ROUNDED before the argmax/share — an unrounded float
    # argmax can flip between engines on near-ties (the rounded-argmax
    # discipline, cf. q_embed_farthest_point_init).
    pw = (dft.select("period_h", "n",
                     F.round((F.col("re") * F.col("re")
                              + F.col("im") * F.col("im")) / F.col("n"),
                             2).alias("power"))
          .localCheckpoint(eager=False))
    tot = pw.agg(F.sum("power").alias("tp"),
                 F.max("power").alias("mx"))
    return (pw.crossJoin(F.broadcast(tot))
            .select("period_h",
                    F.col("n").cast("long").alias("n_hours"),
                    "power",
                    F.round(F.col("power") / F.col("tp"), 4)
                     .alias("power_share"),
                    (F.col("power") == F.col("mx")).alias("dominant"))
            .orderBy("period_h"))


# --------------------------------------------------------------------------
# Burstiness coefficient — Goh–Barabási B per user from interarrival gaps
# --------------------------------------------------------------------------

@register(
    "q_events_burstiness_coefficient",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000
                   AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(gap_s) AS s1, SUM(gap_s * gap_s) AS s2
        FROM seq WHERE gap_s IS NOT NULL GROUP BY user_id
        HAVING COUNT(*) >= 10),
    m AS (
        SELECT user_id, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                    / n) AS sd
        FROM g)
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           ROUND(mu, 2) AS mean_gap_s,
           ROUND(sd, 2) AS sd_gap_s,
           CASE WHEN sd + mu = 0 THEN NULL
                ELSE ROUND((sd - mu) / (sd + mu), 4) END AS burstiness
    FROM m
    ORDER BY burstiness DESC, user_id
    LIMIT 20
    """,
    doc="Goh-Barabasi burstiness coefficient B = (sigma - mu) / "
        "(sigma + mu) of each user's interarrival gaps — the bounded "
        "[-1, 1] signature of temporal behavior: B ~ -1 periodic "
        "(cron/bot heartbeat), B ~ 0 Poisson (memoryless human "
        "background), B -> 1 bursty (sessions, cascades). Complements "
        "the dispersion index (q_events_overdispersion measures count "
        "variance over clock hours; B measures GAP variance, immune "
        "to rate differences) and the gap histogram "
        "(q_events_interarrival). Gaps are integer seconds from the "
        "per-user LAG (partitioned window); mean/sd from BIGINT power "
        "sums (population sd, same closed form both engines); users "
        "need >= 10 gaps for a meaningful estimate.",
)
def q_events_burstiness_coefficient(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.withColumn("prev_ts", F.lag("ts").over(w))
           .select("user_id",
                   ((F.unix_micros("ts") - F.unix_micros("prev_ts"))
                    / 1000000).cast("long").alias("gap_s"))
           .where(F.col("gap_s").isNotNull()))
    g = (seq.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("gap_s").alias("s1"),
              F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"))
         .where(F.col("n") >= 10))
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    sd = F.sqrt((F.col("s2").cast("double")
                 - F.col("s1").cast("double") * F.col("s1") / n) / n)
    return (g.select("user_id", n.cast("long").alias("n_gaps"),
                     F.round(mu, 2).alias("mean_gap_s"),
                     F.round(sd, 2).alias("sd_gap_s"),
                     F.when(sd + mu == 0, F.lit(None).cast("double"))
                      .otherwise(F.round((sd - mu) / (sd + mu), 4))
                      .alias("burstiness"))
            .orderBy(F.desc("burstiness"), "user_id").limit(20))


# --------------------------------------------------------------------------
# Markov entropy rate — bits per step of the user-journey process
# --------------------------------------------------------------------------

@register(
    "q_events_markov_entropy_rate",
    oracle=_markov_oracle(MARKOV_ITERS).rsplit("SELECT st AS", 1)[0] + f"""
    , hrow AS (
        SELECT p.st, p.pr,
               SUM(tp.p * LN(1.0 / tp.p) / LN(2.0)) AS hs
        FROM p{MARKOV_ITERS} p JOIN tp ON tp.s = p.st
        GROUP BY p.st, p.pr)
    SELECT CAST((SELECT k FROM ns) AS BIGINT) AS n_states,
           ROUND(SUM(pr * hs), 4) AS entropy_rate_bits,
           ROUND(LN((SELECT k FROM ns)::DOUBLE) / LN(2.0), 4)
               AS max_entropy_bits,
           ROUND(1 - SUM(pr * hs)
                     / (LN((SELECT k FROM ns)::DOUBLE) / LN(2.0)), 4)
               AS redundancy
    FROM hrow
    """,
    doc="Entropy rate of the user-journey Markov chain: "
        "H = sum_s pi(s) sum_t P(s,t) log2(1/P(s,t)) bits per step — "
        "how unpredictable the NEXT event is given the current one, "
        "under the same stationary distribution and per-step-rounded "
        "power iterations as q_events_markov_stationary (one shared "
        "trajectory; cf. q_text_conditional_entropy, which asks the "
        "same question of word bigrams). redundancy = 1 - H/log2(k) "
        "is the share of the journey a first-order model already "
        "explains — the ceiling on what a next-event recommender can "
        "gain from longer context. All state is event-type^2-sized "
        "after one corpus pass; per-row transition probabilities are "
        "identical integer-count ratios on both engines.",
)
def q_events_markov_entropy_rate(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    import math

    tc = _transition_counts(spark, sf_dir)
    tp = _transition_probs(tc).localCheckpoint(eager=False)
    pr, ns = _stationary(tc, tp)
    hrow = (tp.groupBy(F.col("s").alias("st"))
            .agg(F.sum(F.col("p") * F.log(1.0 / F.col("p"))
                       / math.log(2.0)).alias("hs")))
    h = (pr.join(hrow, "st")
         .agg(F.sum(F.col("pr") * F.col("hs")).alias("h")))
    return (h.crossJoin(F.broadcast(ns))
            .select(F.col("k").cast("long").alias("n_states"),
                    F.round("h", 4).alias("entropy_rate_bits"),
                    F.round(F.log(F.col("k").cast("double"))
                            / math.log(2.0), 4).alias("max_entropy_bits"),
                    F.round(1 - F.col("h")
                            / (F.log(F.col("k").cast("double"))
                               / math.log(2.0)), 4).alias("redundancy")))


# --------------------------------------------------------------------------
# Second-order context gain — does one more step of history help?
# --------------------------------------------------------------------------

@register(
    "q_events_context_gain",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e,
               LAG(event_type, 1) OVER w AS p1,
               LAG(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (SELECT p2, p1, e FROM seq
            WHERE p1 IS NOT NULL AND p2 IS NOT NULL),
    c3 AS (SELECT p2, p1, e, COUNT(*) AS c FROM tri GROUP BY p2, p1, e),
    c2a AS (SELECT p2, p1, SUM(c) AS cx FROM c3 GROUP BY p2, p1),
    c2b AS (SELECT p1, e, SUM(c) AS c FROM c3 GROUP BY p1, e),
    c1 AS (SELECT p1, SUM(c) AS cx FROM c2b GROUP BY p1),
    n_ AS (SELECT SUM(c) AS n FROM c3),
    h1 AS (
        SELECT SUM((b.c::DOUBLE / n) * LN(u.cx::DOUBLE / b.c)
                   / LN(2.0)) AS h
        FROM c2b b JOIN c1 u USING (p1) CROSS JOIN n_),
    h2 AS (
        SELECT SUM((c3.c::DOUBLE / n) * LN(a.cx::DOUBLE / c3.c)
                   / LN(2.0)) AS h
        FROM c3 JOIN c2a a USING (p2, p1) CROSS JOIN n_)
    SELECT CAST(n AS BIGINT) AS n_trigrams,
           ROUND(h1.h, 4) AS h_given_1,
           ROUND(h2.h, 4) AS h_given_2,
           ROUND(h1.h - h2.h, 4) AS context_gain_bits,
           ROUND((h1.h - h2.h) / h1.h, 4) AS gain_share
    FROM h1, h2, n_
    """,
    doc="Second-order context gain of the user journey: "
        "H(next | prev) - H(next | prev2, prev) in bits — how much a "
        "SECOND step of history buys a next-event model beyond the "
        "first-order chain (whose per-step entropy is "
        "q_events_markov_entropy_rate). Near-zero gain certifies the "
        "journey as first-order Markov and caps what sequence models "
        "can extract; both conditional entropies derive from ONE "
        "trigram count table (integer cells) and its marginals, "
        "evaluated on the shared trigram support so the difference is "
        "a true conditional-information quantity. Per-user LAG "
        "windows only; aggregate state is event-type^3-bounded.",
)
def q_events_context_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(F.col("event_type").alias("e"),
                   F.lag("event_type", 1).over(w).alias("p1"),
                   F.lag("event_type", 2).over(w).alias("p2"))
    c3 = (seq.where(F.col("p1").isNotNull() & F.col("p2").isNotNull())
          .groupBy("p2", "p1", "e").agg(F.count(F.lit(1)).alias("c"))
          .localCheckpoint(eager=False))
    c2a = c3.groupBy("p2", "p1").agg(F.sum("c").alias("cx"))
    c2b = c3.groupBy("p1", "e").agg(F.sum("c").alias("c2"))
    c1 = c2b.groupBy("p1").agg(F.sum("c2").alias("c1x"))
    n_ = c3.agg(F.sum("c").alias("n"))
    h1 = (c2b.join(c1, "p1").crossJoin(F.broadcast(n_))
          .agg(F.sum((F.col("c2").cast("double") / F.col("n"))
                     * F.log(F.col("c1x").cast("double") / F.col("c2"))
                     / math.log(2.0)).alias("h1")))
    h2 = (c3.join(c2a, ["p2", "p1"]).crossJoin(F.broadcast(n_))
          .agg(F.sum((F.col("c").cast("double") / F.col("n"))
                     * F.log(F.col("cx").cast("double") / F.col("c"))
                     / math.log(2.0)).alias("h2")))
    return (n_.crossJoin(F.broadcast(h1)).crossJoin(F.broadcast(h2))
            .select(F.col("n").cast("long").alias("n_trigrams"),
                    F.round("h1", 4).alias("h_given_1"),
                    F.round("h2", 4).alias("h_given_2"),
                    F.round(F.col("h1") - F.col("h2"), 4)
                     .alias("context_gain_bits"),
                    F.round((F.col("h1") - F.col("h2")) / F.col("h1"), 4)
                     .alias("gain_share")))


# --------------------------------------------------------------------------
# Retention half-life — exponential-decay fit on the return curve
# --------------------------------------------------------------------------

@register(
    "q_events_retention_halflife",
    oracle="""
    WITH d AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
    f AS (SELECT user_id, MIN(day) AS d0 FROM d GROUP BY user_id),
    cohort AS (SELECT COUNT(*) AS n0 FROM f),
    act AS (
        SELECT DISTINCT d.user_id, d.day - f.d0 AS k
        FROM d JOIN f USING (user_id)
        WHERE d.day - f.d0 BETWEEN 1 AND 14),
    ret AS (
        SELECT k, COUNT(*) AS n_active FROM act GROUP BY k),
    pts AS (
        SELECT r.k, r.n_active,
               LN(r.n_active::DOUBLE / c.n0) AS y
        FROM ret r CROSS JOIN cohort c WHERE r.n_active > 0),
    fit AS (
        SELECT COUNT(*) AS m, SUM(k) AS sx, SUM(y) AS sy,
               SUM(k * y) AS sxy, SUM(k * k) AS sxx
        FROM pts),
    sl AS (
        SELECT m,
               (m * sxy - sx * sy) / (m * sxx - sx * sx) AS slope
        FROM fit)
    SELECT CAST((SELECT n0 FROM cohort) AS BIGINT) AS cohort_size,
           CAST(m AS BIGINT) AS n_days_fit,
           ROUND(slope, 6) AS decay_per_day,
           CASE WHEN slope >= 0 THEN NULL
                ELSE ROUND(-LN(2.0) / slope, 2) END AS half_life_days
    FROM sl
    """,
    doc="Retention half-life: fit ln(retention_k) = a + b*k over days "
        "1..14 since each user's first event and report "
        "t_half = ln2 / |b| — the single growth number that summarizes "
        "the whole retention triangle (q_events_retention) the way a "
        "half-life summarizes a decay curve; product teams trade "
        "acquisition cost against exactly this constant. "
        "retention_k = distinct users active k days after their first "
        "day over the cohort size; first-day resolution is one min-"
        "aggregate (no window), the curve is day-bounded, and the "
        "log-linear OLS is closed-form from five sums. A non-negative "
        "slope (retention not decaying — possible on synthetic "
        "uniform traffic) yields NULL half-life identically on both "
        "engines.",
)
def q_events_retention_halflife(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    import math

    e = Catalog(spark, sf_dir).table("events")
    d = e.select("user_id",
                 F.expr("unix_micros(ts) div 86400000000").alias("day"))
    f = d.groupBy("user_id").agg(F.min("day").alias("d0"))
    cohort = f.agg(F.count(F.lit(1)).alias("n0"))
    act = (d.join(f, "user_id")
           .select("user_id", (F.col("day") - F.col("d0")).alias("k"))
           .where(F.col("k").between(1, 14)).distinct())
    ret = act.groupBy("k").agg(F.count(F.lit(1)).alias("n_active"))
    pts = (ret.crossJoin(F.broadcast(cohort))
           .where(F.col("n_active") > 0)
           .select("k", F.log(F.col("n_active").cast("double")
                              / F.col("n0")).alias("y")))
    fit = pts.agg(F.count(F.lit(1)).alias("m"),
                  F.sum("k").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("k") * F.col("y")).alias("sxy"),
                  F.sum(F.col("k") * F.col("k")).alias("sxx"))
    slope = ((F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return (fit.crossJoin(F.broadcast(cohort))
            .select(F.col("n0").cast("long").alias("cohort_size"),
                    F.col("m").cast("long").alias("n_days_fit"),
                    F.round(slope, 6).alias("decay_per_day"),
                    F.when(slope >= 0, F.lit(None).cast("double"))
                     .otherwise(F.round(-math.log(2.0) / slope, 2))
                     .alias("half_life_days")))


# --------------------------------------------------------------------------
# AMS second-moment sketch — estimating join/self-join size in fixed memory
# --------------------------------------------------------------------------

@register(
    "q_sketch_ams_f2",
    oracle="""
    WITH hp AS (SELECT UNNEST(range(0, 16)) AS j),
    signs AS (
        SELECT e.user_id, hp.j,
               CASE WHEN ((1103515245 * (e.user_id * 16 + hp.j) + 12345)
                          % 2147483648) % 2 = 1
                    THEN 1 ELSE -1 END AS sgn
        FROM (SELECT DISTINCT user_id FROM events) e CROSS JOIN hp),
    z AS (
        SELECT s.j, SUM(s.sgn * c.n) AS zj
        FROM (SELECT user_id, COUNT(*) AS n FROM events
              GROUP BY user_id) c
        JOIN signs s USING (user_id)
        GROUP BY s.j),
    est AS (SELECT CAST(SUM(zj * zj) AS DOUBLE) / 16 AS f2_est FROM z),
    exact AS (
        SELECT SUM(n * n) AS f2
        FROM (SELECT COUNT(*) AS n FROM events GROUP BY user_id)),
    n_ AS (SELECT COUNT(*) AS nrows FROM events)
    SELECT CAST(nrows AS BIGINT) AS n_rows,
           CAST(f2 AS BIGINT) AS f2_exact,
           ROUND(f2_est, 1) AS f2_estimate,
           ROUND(ABS(f2_est - f2) / f2, 4) AS rel_error,
           ROUND(f2_est / (nrows::DOUBLE * nrows), 6)
               AS self_join_selectivity_est
    FROM est, exact, n_
    """,
    doc="AMS (Alon-Matias-Szegedy) second-moment sketch, audited "
        "against the exact F2 = sum c_k^2 of the user-id frequency "
        "vector — the THIRD classic sketch beside Count-Min (point "
        "frequency) and Misra-Gries (heavy hitters): F2 IS the "
        "self-join size, the quantity a join-size estimator needs "
        "before picking a strategy (cf. q_stats_join_cardinality_"
        "audit, which uses exact per-key counts). 16 four-wise-ish "
        "sign functions from LCG parity (deterministic, bit-identical "
        "both engines); each sketch counter z_j = sum sgn_j(k) c_k is "
        "ONE grouped integer sum, mergeable across partitions by "
        "addition, and E[z_j^2] = F2 exactly — the estimate, the "
        "exact value, and the relative error are all value-checked "
        "integers until the final ratios. Fixed memory: 16 counters "
        "regardless of key cardinality.",
)
def q_sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, P = 16, 2147483648
    e = Catalog(spark, sf_dir).table("events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hp = spark.range(K).select(F.col("id").alias("j"))
    sgn = F.when(((F.lit(1103515245)
                   * (F.col("user_id") * K + F.col("j")) + 12345)
                  % P) % 2 == 1, 1).otherwise(-1)
    z = (c.crossJoin(F.broadcast(hp))
         .groupBy("j")
         .agg(F.sum(sgn * F.col("n")).alias("zj")))
    est = z.agg((F.sum(F.col("zj") * F.col("zj")).cast("double") / K)
                .alias("f2_est"))
    exact = c.agg(F.sum(F.col("n") * F.col("n")).alias("f2"))
    n_ = e.agg(F.count(F.lit(1)).alias("nrows"))
    return (est.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(n_))
            .select(F.col("nrows").cast("long").alias("n_rows"),
                    F.col("f2").cast("long").alias("f2_exact"),
                    F.round("f2_est", 1).alias("f2_estimate"),
                    F.round(F.abs(F.col("f2_est") - F.col("f2"))
                            / F.col("f2"), 4).alias("rel_error"),
                    F.round(F.col("f2_est")
                            / (F.col("nrows").cast("double")
                               * F.col("nrows")), 6)
                     .alias("self_join_selectivity_est")))


# --------------------------------------------------------------------------
# Bloom filter — membership sketch with a measured-vs-expected FPR audit
# --------------------------------------------------------------------------

@register(
    "q_sketch_bloom_fpr",
    oracle="""
    WITH members AS (
        SELECT DISTINCT user_id AS x FROM events WHERE user_id % 2 = 0),
    probes AS (
        SELECT DISTINCT user_id AS x FROM events WHERE user_id % 2 = 1),
    hf AS (
        SELECT i, (1103515245 * i + 12345) % 2147483647 AS a,
               (69069 * i + 362437) % 2147483647 AS b
        FROM (SELECT unnest(range(0, 4)) AS i)),
    bits AS (
        SELECT DISTINCT ((a * x + b) % 2147483647) % 4096 AS pos
        FROM members CROSS JOIN hf),
    z AS (SELECT COUNT(*) AS bits_set FROM bits),
    fp AS (
        SELECT p.x
        FROM probes p CROSS JOIN hf
        JOIN bits ON bits.pos = ((hf.a * p.x + hf.b) % 2147483647) % 4096
        GROUP BY p.x HAVING COUNT(DISTINCT hf.i) = 4)
    SELECT (SELECT COUNT(*) FROM members)::BIGINT AS n_members,
           (SELECT COUNT(*) FROM probes)::BIGINT AS n_probes,
           (SELECT bits_set FROM z)::BIGINT AS bits_set,
           ROUND((SELECT COUNT(*) FROM fp)::DOUBLE
                 / (SELECT COUNT(*) FROM probes), 6) AS fpr_measured,
           ROUND(((SELECT bits_set FROM z)::DOUBLE / 4096)
                 * ((SELECT bits_set FROM z)::DOUBLE / 4096)
                 * ((SELECT bits_set FROM z)::DOUBLE / 4096)
                 * ((SELECT bits_set FROM z)::DOUBLE / 4096), 6)
               AS fpr_expected
    """,
    doc="Bloom-filter membership sketch, audited end to end — the "
        "mergeable structure behind shuffle-free distributed semi-joins "
        "(build per partition, OR the bit arrays, broadcast the result; "
        "Spark's own runtime bloom join is the engine-internal twin, "
        "q_join_bloom_prune). k=4 LCG-derived universal hashes "
        "((a_i x + b_i) mod p mod m) into one m=4096-bit array, built "
        "from the even user_ids; every odd user_id probes it. Reported "
        "against each other: the MEASURED false-positive rate (probes "
        "with all 4 bits set / probes — exact integer counting, both "
        "engines bit-identical) and the occupancy-conditional EXPECTED "
        "rate (z/m)^k computed by explicit multiplication (no pow(), "
        "so the doubles match bit-for-bit). At 100 TB the build is one "
        "distinct over (member x k) hash positions — map-side "
        "combinable — and the probe is a broadcast-bit-array lookup; "
        "the audit itself is the sketch contract: measured FPR tracks "
        "(z/m)^k, the number a capacity planner sizes m and k from.",
)
def q_sketch_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, M, P = 4, 4096, 2147483647
    ev = Catalog(spark, sf_dir).table("events")
    members = (ev.where(F.col("user_id") % 2 == 0)
               .select(F.col("user_id").alias("x")).distinct()
               .localCheckpoint(eager=False))
    probes = (ev.where(F.col("user_id") % 2 == 1)
              .select(F.col("user_id").alias("x")).distinct()
              .localCheckpoint(eager=False))
    hf = (spark.range(K).select(
        F.col("id").alias("i"),
        ((1103515245 * F.col("id") + 12345) % P).alias("a"),
        ((69069 * F.col("id") + 362437) % P).alias("b")))
    pos = ((F.col("a") * F.col("x") + F.col("b")) % P) % M
    bits = (members.crossJoin(F.broadcast(hf))
            .select(pos.alias("pos")).distinct()
            .localCheckpoint(eager=False))
    fp = (probes.crossJoin(F.broadcast(hf))
          .select("x", "i", pos.alias("pos"))
          .join(bits, "pos")
          .groupBy("x")
          .agg(F.countDistinct("i").alias("nh"))
          .where(F.col("nh") == K))
    one = lambda df, nm: F.broadcast(
        df.agg(F.count(F.lit(1)).cast("long").alias(nm)))
    zfrac = F.col("bits_set").cast("double") / M
    return (one(members, "n_members").crossJoin(one(probes, "n_probes"))
            .crossJoin(one(bits, "bits_set"))
            .crossJoin(one(fp, "n_fp"))
            .select("n_members", "n_probes", "bits_set",
                    F.round(F.col("n_fp").cast("double")
                            / F.col("n_probes"), 6).alias("fpr_measured"),
                    F.round(zfrac * zfrac * zfrac * zfrac, 6)
                    .alias("fpr_expected")))


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — estimator value-checked
# --------------------------------------------------------------------------

@register(
    "q_sketch_kmv_distinct",
    oracle="""
    WITH ids AS (SELECT DISTINCT user_id AS x FROM events),
    hs AS (
        SELECT x, (1103515245 * x + 12345) % 2147483647 AS h FROM ids),
    kth AS (
        SELECT MAX(h) AS hk, COUNT(*) AS m
        FROM (SELECT h FROM hs ORDER BY h ASC, x ASC LIMIT 256)),
    est AS (
        SELECT CASE WHEN m < 256 THEN m
                    ELSE CAST(FLOOR(255.0 * 2147483647 / hk) AS BIGINT)
               END AS kmv
        FROM kth)
    SELECT (SELECT COUNT(*) FROM ids)::BIGINT AS exact_distinct,
           (SELECT kmv FROM est) AS kmv_estimate,
           ROUND(ABS((SELECT kmv FROM est)
                     - (SELECT COUNT(*) FROM ids))::DOUBLE
                 / (SELECT COUNT(*) FROM ids), 4) AS rel_err,
           ABS((SELECT kmv FROM est) - (SELECT COUNT(*) FROM ids))::DOUBLE
               / (SELECT COUNT(*) FROM ids) <= 0.2 AS within_20pct
    """,
    doc="KMV (k-minimum-values, Bar-Yossef et al.) distinct-count "
        "sketch with the ESTIMATE itself value-checked — the third "
        "mergeable cardinality structure beside the HLL register table "
        "(q_hll_mergeable_distinct) and the exact bitmap "
        "(q_bitmap_distinct_users), and the one whose estimator is "
        "simplest to audit cross-engine: hash every key with the "
        "portable LCG into (0, p), keep the k=256 smallest (a "
        "TakeOrdered — mergeable: the k smallest of a union are among "
        "the union of per-partition k smallest), and estimate "
        "D ~ (k-1) * p / h_(k), the order-statistics estimator (the "
        "k-th smallest of D uniforms sits near k/D * p). FLOOR keeps "
        "the comparison integer-exact; rel_err and a 20% acceptance "
        "flag (k=256 gives ~1/sqrt(254) ~ 6.3% standard error) are "
        "reported against the exact count computed in the same query "
        "(when fewer than k keys exist the sketch holds them all and "
        "reports the exact count, the standard KMV degenerate case). "
        "At 100 TB: one map-side partial TakeOrdered per partition, "
        "k longs per partition to the driver — the sketch IS the "
        "shuffle payload, like the HLL registers.",
)
def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, P = 256, 2147483647
    ev = Catalog(spark, sf_dir).table("events")
    ids = ev.select(F.col("user_id").alias("x")).distinct()
    hs = ids.select("x", ((1103515245 * F.col("x") + 12345) % P).alias("h"))
    kth = (hs.orderBy(F.asc("h"), F.asc("x")).limit(K)
           .agg(F.max("h").alias("hk"),
                F.count(F.lit(1)).alias("m")))
    exact = F.broadcast(ids.agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")))
    est = F.when(F.col("m") < K, F.col("m").cast("long")).otherwise(
        F.floor(F.lit(float(K - 1)) * P / F.col("hk")).cast("long"))
    rel = (F.abs(F.col("kmv_estimate") - F.col("exact_distinct"))
           .cast("double") / F.col("exact_distinct"))
    return (exact.crossJoin(F.broadcast(kth))
            .select("exact_distinct", est.alias("kmv_estimate"))
            .select("exact_distinct", "kmv_estimate",
                    F.round(rel, 4).alias("rel_err"),
                    (rel <= 0.2).alias("within_20pct")))


# --------------------------------------------------------------------------
# Keyless interval join via bucketization — the non-equi join scale path
# --------------------------------------------------------------------------

@register(
    "q_interval_bucket_join",
    oracle="""
    WITH campaigns AS (
        SELECT DISTINCT date_trunc('month', ts) AS start_ts,
               date_trunc('month', ts) + INTERVAL 10 DAY AS end_ts,
               strftime(date_trunc('month', ts), '%Y-%m') AS campaign
        FROM events),
    hits AS (
        SELECT c.campaign, e.user_id, e.value
        FROM events e JOIN campaigns c
          ON e.ts >= c.start_ts AND e.ts < c.end_ts)
    SELECT campaign,
           COUNT(*)::BIGINT AS n_events,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           ROUND(SUM(value), 2) AS total_value
    FROM hits GROUP BY campaign ORDER BY campaign
    """,
    doc="Interval join WITHOUT any equi key — the join shape Catalyst "
        "can only plan as a nested loop — rewritten as the bucketized "
        "equi-join that scales: quantize time into fixed 7-day buckets, "
        "explode each campaign interval into the buckets it covers "
        "(bounded: ceil(len/width)+1 rows per interval), map each event "
        "to its SINGLE point-bucket, hash-join on the bucket key, and "
        "apply the exact range predicate as the residual filter. Every "
        "true (event, interval) pair shares the event's bucket, so the "
        "rewrite is lossless and duplicate-free by construction (the "
        "event appears in one bucket; no post-join distinct). This is "
        "the generic 100 TB recipe for keyless temporal/range overlap "
        "joins (and what q_geo_radius_join does in 2-D with grid "
        "cells); the oracle runs the direct non-equi join. Campaigns "
        "here are the first 10 days of each month present in the data "
        "— derived deterministically, no fixture dependency.",
)
def q_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = 604800  # 7-day bucket, seconds
    ev = Catalog(spark, sf_dir).table("events")
    camp = (ev.select(F.date_trunc("month", "ts").alias("start_ts"))
            .distinct()
            .select("start_ts",
                    (F.col("start_ts") + F.expr("INTERVAL 10 DAYS"))
                    .alias("end_ts"),
                    F.date_format("start_ts", "yyyy-MM").alias("campaign")))
    b0 = F.floor(F.unix_timestamp("start_ts") / W)
    b1 = F.floor((F.unix_timestamp("end_ts") - 1) / W)
    camp_b = camp.select(
        "campaign", "start_ts", "end_ts",
        F.explode(F.sequence(b0, b1)).alias("bucket"))
    ev_b = ev.select("ts", "user_id", "value",
                     F.floor(F.unix_timestamp("ts") / W).alias("bucket"))
    hits = (ev_b.join(F.broadcast(camp_b), "bucket")
            .where((F.col("ts") >= F.col("start_ts"))
                   & (F.col("ts") < F.col("end_ts"))))
    return (hits.groupBy("campaign")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("campaign"))


@register(
    "q_events_peak_concurrency",
    oracle="""
    WITH iv AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               ts AS s,
               LEAST(ts + INTERVAL 15 MINUTE,
                     date_trunc('day', ts) + INTERVAL 1 DAY) AS e
        FROM events WHERE event_type = 'click'),
    pts AS (
        SELECT day, s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT day, e AS t, -1 AS delta FROM iv),
    sweep AS (
        SELECT day,
               SUM(delta) OVER (PARTITION BY day
                                ORDER BY t, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS conc
        FROM pts)
    SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrency
    FROM sweep GROUP BY day ORDER BY day
    """,
    doc="Peak CONCURRENCY per day by sweep-line: every click opens a "
        "15-minute presence interval (clipped at midnight so each "
        "day's sweep is self-contained), intervals become +1/-1 "
        "boundary points, and the running sum's maximum is the "
        "highest number of simultaneously-open intervals — the "
        "capacity-planning number sessionize's per-user view cannot "
        "give. Half-open intervals pin the tie order (an end at time "
        "t sorts before a start at t, so touching intervals never "
        "count as concurrent) — deterministic in both engines. The "
        "sweep window is PARTITIONED BY DAY, never global: at 100 TB "
        "each day's boundary points sort within their partition, and "
        "the midnight clip is exactly what makes that partitioning "
        "sound (an unclipped interval would need cross-partition "
        "carry state).",
)
def q_events_peak_concurrency(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    iv = (e.where(F.col("event_type") == "click")
          .select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                  .alias("day"),
                  F.col("ts").alias("s"),
                  F.least(F.col("ts") + F.expr("INTERVAL 15 MINUTES"),
                          F.date_trunc("day", "ts")
                          + F.expr("INTERVAL 1 DAY")).alias("e")))
    pts = (iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta"))
           .unionByName(iv.select("day", F.col("e").alias("t"),
                                  F.lit(-1).alias("delta"))))
    w = (Window.partitionBy("day").orderBy("t", "delta")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (pts.withColumn("conc", F.sum("delta").over(w))
            .groupBy("day")
            .agg(F.max("conc").cast("long").alias("peak_concurrency"))
            .orderBy("day"))


@register(
    "q_events_hour_dow_profile",
    oracle="""
    SELECT CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           COUNT(*) AS n_events,
           ROUND(COUNT(*)::DOUBLE
                 / (SELECT COUNT(*) FROM events)::DOUBLE, 6) AS frac
    FROM events
    GROUP BY 1, 2
    HAVING COUNT(*) >= 10
    ORDER BY dow, hour
    """,
    doc="Hour-of-day x day-of-week traffic PROFILE — the seasonality "
        "fingerprint (168 cells max) that q_events_seasonal_decompose "
        "reads one axis of and every anomaly baseline conditions on. "
        "ISO day numbering (Mon=1) pinned identically on both "
        "engines; the >= 10 support floor keeps the profile "
        "publishable under the same small-cell discipline as the "
        "privacy queries. One groupBy of extracted keys — map-side "
        "combinable to 168 partial cells per task, so the shuffle is "
        "constant-width no matter the corpus size; the corpus total "
        "rides the same pass as a broadcast scalar.",
)
def q_events_hour_dow_profile(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    tot = e.agg(F.count(F.lit(1)).alias("_tot"))
    return (e.groupBy(F.dayofweek("ts").alias("_dw"),
                      F.hour("ts").cast("long").alias("hour"))
            # Spark dayofweek: Sun=1..Sat=7 -> ISO Mon=1..Sun=7
            .agg(F.count(F.lit(1)).alias("n_events"))
            .where(F.col("n_events") >= 10)
            .crossJoin(F.broadcast(tot))
            .select(((F.col("_dw") + 5) % 7 + 1).cast("long").alias("dow"),
                    "hour", "n_events",
                    F.round(F.col("n_events").cast("double")
                            / F.col("_tot").cast("double"), 6).alias("frac"))
            .orderBy("dow", "hour"))


@register(
    "q_events_surprisal_outliers",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events),
    trans AS (SELECT prev AS a, event_type AS b FROM seq
              WHERE prev IS NOT NULL),
    cnt AS (SELECT a, b, COUNT(*) AS n FROM trans GROUP BY a, b),
    froms AS (SELECT a, SUM(n) AS na FROM cnt GROUP BY a),
    model AS (
        SELECT c.a, c.b, -ln(c.n::DOUBLE / f.na::DOUBLE) AS surprisal
        FROM cnt c JOIN froms f USING (a)),
    per_user AS (
        SELECT s.user_id, COUNT(*) AS n_trans,
               AVG(m.surprisal) AS mean_surprisal
        FROM seq s JOIN model m
          ON m.a = s.prev AND m.b = s.event_type
        WHERE s.prev IS NOT NULL
        GROUP BY s.user_id
        HAVING COUNT(*) >= 5)
    SELECT user_id, CAST(n_trans AS BIGINT) AS n_trans,
           ROUND(mean_surprisal, 6) AS mean_surprisal
    FROM per_user
    ORDER BY mean_surprisal DESC, user_id LIMIT 10
    """,
    doc="SURPRISAL outlier users: each transition in a user's "
        "(ts, event_id)-ordered event sequence scores -ln P(b|a) "
        "under the GLOBAL first-order Markov model, and users with "
        ">= 5 transitions rank by mean surprisal — the "
        "sequence-level anomaly readout the Markov family was "
        "missing (entropy rate scores the MODEL, baseline-accuracy "
        "scores prediction; this scores each USER against the crowd, "
        "the bot/fraud-shaped question). The model is a 25-cell "
        "broadcast; per-user sequencing is one user-keyed lag "
        "window; surprisals are -ln of ratios of integer counts, so "
        "both engines average identical doubles in identical "
        "(within-user) order. Top-10 via the (surprisal, user) total "
        "order.",
)
def q_events_surprisal_outliers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (e.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev"))
           .where(F.col("prev").isNotNull())
           .localCheckpoint(eager=False))  # feeds model + scoring
    cnt = (seq.groupBy(F.col("prev").alias("a"),
                       F.col("event_type").alias("b"))
           .agg(F.count(F.lit(1)).alias("n")))
    froms = cnt.groupBy("a").agg(F.sum("n").alias("na"))
    model = (cnt.join(froms, "a")
             .select("a", "b",
                     (-F.log(F.col("n").cast("double")
                             / F.col("na").cast("double")))
                     .alias("surprisal")))
    return (seq.join(F.broadcast(model),
                     (seq["prev"] == model["a"])
                     & (seq["event_type"] == model["b"]))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_trans"),
                 F.avg("surprisal").alias("mean_surprisal"))
            .where(F.col("n_trans") >= 5)
            .select("user_id",
                    F.col("n_trans").cast("long").alias("n_trans"),
                    F.round("mean_surprisal", 6).alias("mean_surprisal"))
            .orderBy(F.desc("mean_surprisal"), "user_id").limit(10))
