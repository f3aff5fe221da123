"""Event-stream core: sessionization, funnels, windowed aggregations, as-of/temporal shapes, streaming twins."""

from __future__ import annotations

import tempfile
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..operators.asof import asof_join_backward
from ..sources.readers import source_fingerprint, table_scan
from ..sources.writers import session_workspace, staged_dir

from .qshared import (
    _QUARTILE_RANKS,
    _dsum,
    _exact_rank_cutoffs,
    register,
)


# serializes streaming_file_sink_exactly_once's restarts over its sink
_FILE_SINK_LOCK = threading.Lock()


def _staged_events(spark: SparkSession, sf_dir: str) -> Path:
    """events re-landed once per session as 4 parquet files with µs
    timestamps (streaming scans reject the raw ns files)."""
    return staged_dir(
        spark,
        "stream_events:" + source_fingerprint(sf_dir, "events"),
        lambda out: table_scan(spark, sf_dir, "events").repartition(4).write.parquet(str(out)),
    )


# ---------------------------------------------------------------------------
# events (time-series extension)
# ---------------------------------------------------------------------------

@register(
    "events_tumbling_window_hourly",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window aggregation (batch form; the streaming twin
    is streaming/events.py). F.window('1 hour') starts align with
    date_trunc('hour'); raw ts is never emitted (nanos vs micros)."""
    e = table_scan(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            _dsum(F.col("value"), 4, "value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "event_cnt", "value_sum"
        )
    )


@register(
    "events_type_stats",
    """
    SELECT event_type,
           COUNT(*) AS event_cnt,
           COUNT(DISTINCT user_id) AS user_cnt,
           MIN(value) AS value_min,
           MAX(value) AS value_max,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events GROUP BY event_type
    """,
)
def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type event stats incl. a distinct aggregate (COUNT DISTINCT plans
    as expand+two-phase agg in Spark; exact, shuffle on (type, user))."""
    e = table_scan(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_cnt"),
        F.countDistinct("user_id").alias("user_cnt"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        _dsum(F.col("value"), 4, "value_sum"),
    )


# ---------------------------------------------------------------------------
# event-time windows: sliding + session (batch form; streaming twins in
# streaming/events.py)
# ---------------------------------------------------------------------------

@register(
    "events_sliding_window",
    """
    WITH w AS (
      SELECT event_type, value,
             CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP)
               - (INTERVAL '15 minutes' * o) AS window_start
      FROM events, UNNEST([0, 1, 2, 3]) AS t(o)
    )
    SELECT window_start, event_type, COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM w GROUP BY window_start, event_type
    """,
)
def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min: each event lands in 4 windows
    (Expand operator). The oracle derives the same 4 starts per event from
    the 15-minute bucket grid."""
    e = table_scan(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_cnt"), _dsum(F.col("value"), 4, "value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "event_cnt", "value_sum")
    )


@register(
    "events_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) via
    F.session_window; the oracle is the classic gaps-and-islands rewrite.
    Session start is second-truncated so ns-vs-µs storage cannot diverge."""
    e = table_scan(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("event_cnt"), _dsum(F.col("value"), 4, "value_sum"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("w.start")).cast("timestamp_ntz").alias("session_start"),
            "event_cnt",
            "value_sum",
        )
    )


# ---------------------------------------------------------------------------
# as-of join, percentiles, streaming, multimodal
# ---------------------------------------------------------------------------

@register(
    "events_asof_join",
    """
    WITH u AS (
      SELECT user_id, CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS uts,
             0 AS tag, event_id AS pid, CAST(NULL AS BIGINT) AS click_id
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, CAST(date_trunc('microseconds', ts) AS TIMESTAMP) AS uts,
             1 AS tag, CAST(NULL AS BIGINT) AS pid, event_id
      FROM events WHERE event_type = 'click'
    ),
    w AS (
      SELECT user_id, tag, click_id,
             LAST_VALUE(pid IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY uts, tag, pid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_purchase_id
      FROM u
    )
    SELECT click_id AS event_id, user_id, prev_purchase_id
    FROM w WHERE tag = 1
    """,
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's latest at-or-before purchase.
    Union + running last_value — ONE shuffle on the key, same cost as an
    equi-join (operators/asof.py); the oracle is the identical rewrite
    (DuckDB's native ASOF JOIN leaves ties unspecified, so the explicit
    form is used on both sides)."""
    e = table_scan(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    return asof_join_backward(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload="purchase_id",
        left_cols=["event_id"],
        payload_out="prev_purchase_id",
    ).select("event_id", "user_id", "prev_purchase_id")


@register(
    "streaming_tumbling_window",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def q_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed through Structured Streaming
    (readStream → window agg → complete-mode memory sink, AvailableNow) and
    checked against the SAME batch oracle — proving the streaming path
    computes identical results. Events are re-landed once per session as
    µs-timestamp parquet (streaming scans reject the raw ns files)."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import stream_events

    stream = stream_events(spark, str(staging))
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_cnt"), _dsum(F.col("value"), 4, "value_sum"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "event_cnt", "value_sum"
        )
    )
    qname = f"bdec_stream_tumble_{staging.name}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "streaming_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
           COUNT(*) AS event_cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization executed through STRUCTURED STREAMING
    (readStream → session_window aggregation, merging state across
    micro-batches → complete-mode memory sink, AvailableNow), checked
    against the same gaps-and-islands batch oracle as
    events_session_window — proving the streaming session-merge state
    machine converges to the exact batch result even when a user's session
    spans micro-batch boundaries. Complete mode keeps session state
    unbounded (right for a finite replay); the production continuous shape
    adds a watermark + append mode so closed sessions flush and state is
    GC'd — same aggregation, different output trigger."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import stream_events

    stream = stream_events(spark, str(staging))
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("event_cnt"), _dsum(F.col("value"), 4, "value_sum"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("w.start"))
            .cast("timestamp_ntz")
            .alias("session_start"),
            "event_cnt",
            "value_sum",
        )
    )
    qname = f"bdec_stream_sess_{staging.name}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "events_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON extraction from a string column (get_json_object) — the
    semi-structured accessor the reference's read_json_auto scan cannot
    provide post-load."""
    e = table_scan(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k_value")
    )


@register(
    "streaming_dedup_watermark",
    """
    SELECT DISTINCT event_id, event_type,
           CAST(value AS DOUBLE) AS value
    FROM events
    """,
)
def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state: readStream over the staged events
    plus a planted exact-duplicate file, watermark on ts,
    ``dropDuplicatesWithinWatermark`` on event_id — state for a key is
    dropped once the watermark passes it, so memory is bounded by the
    watermark horizon instead of growing with the whole stream (the scale
    fix over plain ``dropDuplicates``). Duplicates are full-row copies, so
    the surviving row is well-defined and the batch oracle is DISTINCT."""
    def build(out: Path) -> None:
        ev = table_scan(spark, sf_dir, "events")
        ev.repartition(4).write.parquet(str(out))
        # plant exact duplicates: every 100th event re-delivered
        ev.filter(F.col("event_id") % 100 == 0).write.mode("append").parquet(str(out))

    staging = staged_dir(spark, "stream_dedup:" + source_fingerprint(sf_dir, "events"), build)
    from ..streaming.events import stream_events, streaming_dedup

    stream = stream_events(spark, str(staging))
    deduped = streaming_dedup(stream, ["event_id"], watermark="1 hour").select(
        "event_id", "event_type", "value"
    )
    qname = f"bdec_stream_dedup_{staging.name}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "events_time_rollup",
    """
    WITH e AS (
      SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
             CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
             CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
             value
      FROM events
    )
    SELECT y, m, d, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
           CAST(GROUPING_ID(y, m, d) AS BIGINT) AS lvl
    FROM e GROUP BY ROLLUP(y, m, d)
    """,
)
def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (the hypertable continuous-aggregate shape):
    day → month → year → grand total in ONE grouped pass over the events
    stream table; grouping_id disambiguates subtotal levels. At scale this
    is the materialized-rollup feeding query — partial aggregation means
    each executor emits at most one row per (day-bucket × level)."""
    e = table_scan(spark, sf_dir, "events").select(
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        "value",
    )
    return e.rollup("y", "m", "d").agg(
        F.count(F.lit(1)).alias("cnt"),
        _dsum(F.col("value"), 4, "value_sum"),
        F.grouping_id().cast("long").alias("lvl"),
    )


@register(
    "events_range_frame_avg",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
             AS sum_1h,
           COUNT(*) OVER w AS cnt_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def q_events_range_frame_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (trailing 1-hour per-user aggregate) — a VALUE
    range over event time, not a row count: every event aggregates all of
    the same user's events within the preceding hour, however many there
    are. Spark expresses time ranges as rangeBetween over epoch MICROS —
    whole-second epochs (unix_timestamp) truncate, so an event 3599.5 s
    back lands inside the seconds-window but outside the oracle's exact
    INTERVAL hour; invisible at sf0.01, caught by the sf0.1 sweep. One sort
    per user partition serves both aggregates. Distinct surface from the
    rows-frame `window_running_agg`."""
    e = table_scan(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias(
            "sum_1h"
        ),
        F.count(F.lit(1)).over(w).alias("cnt_1h"),
    )


@register(
    "streaming_stateful_tracker",
    """
    SELECT user_id, COUNT(*) AS event_cnt,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
             AS value_sum,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_tracker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful streaming operator (applyInPandasWithState
    per-user tracker, streaming/stateful.py) proven equal to its
    declarative batch twin: run over the staged events with AvailableNow,
    keep each user's LAST update-mode emission, compare against the plain
    groupBy oracle. count/max are order-exact; the float running sum is
    rounded to 2 decimals on both sides (accumulation-order error ~1e-10,
    five orders below the rounding step, so the round is stable)."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import stream_events
    from ..streaming.stateful import user_activity_tracker

    tracked = user_activity_tracker(stream_events(spark, str(staging)))
    qname = f"bdec_stateful_{staging.name}"
    q = (
        tracked.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table(qname)
    w = Window.partitionBy("user_id").orderBy(F.desc("event_cnt"))
    return (
        emissions.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_cnt",
            F.round("value_sum", 2).alias("value_sum"),
            "max_value",
        )
    )


@register(
    "streaming_stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — attribution (each purchase joined to the
    same user's clicks within the preceding hour), state buffered on BOTH
    sides. The watermark plus the event-time range condition is what lets
    Spark evict state: a click older than watermark - 1 h can never match a
    future purchase, so the buffers stay bounded however long the streams
    run. AvailableNow + memory sink, checked against the batch self-join
    oracle (ids only in the output — never raw ns timestamps)."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import stream_events

    purchases = (
        stream_events(spark, str(staging))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, str(staging))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id")
    qname = f"bdec_ss_join_{staging.name}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "events_gap_fill",
    """
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
    spine AS (
      SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
    )
    SELECT spine.h AS hour, COALESCE(hourly.cnt, 0) AS cnt
    FROM spine LEFT JOIN hourly ON spine.h = hourly.h
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly spine (sequence over the
    observed min/max, generated DISTRIBUTED via explode — never a driver
    loop) left-joined to the hourly aggregate, empty buckets zero-filled.
    The spine side is one row until explode, so the join broadcasts the
    aggregate, not the fact table."""
    e = table_scan(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    spine = (
        hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour")
        )
    )
    return (
        spine.join(hourly, spine["hour"] == hourly["h"], "left")
        .select("hour", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )


@register(
    "events_sessionize_by_gap",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTES
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS session_seq
      FROM g
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS session_events
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_events_sessionize_by_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as pure window algebra: a new-session flag
    (LAG gap > 30 min) cumulatively summed into a per-user session sequence
    number, then aggregated per session. Same one-sort-per-user shape as
    F.session_window but yields stable ORDINAL session ids — the form
    downstream joins want. Tie-break includes event_id so equal timestamps
    sessionize deterministically."""
    e = table_scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # epoch MICROS, not seconds: the 30-min cut must use the same precision
    # as the oracle's exact INTERVAL arithmetic (sub-second gaps exist)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    s = e.select(
        "user_id",
        "event_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("session_seq"),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("session_events")
    )


@register(
    "events_variant_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_str
    FROM events
    """,
)
def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4 VariantType: parse_json once into
    a variant (binary-encoded, field-indexed), then typed variant_get path
    extraction — the scale path for JSON-heavy event streams, ~an order of
    magnitude cheaper than re-parsing strings per field (and unlike
    from_json it needs no schema up front). Same semantics as the string
    json_extract in `events_json_extract`; different engine surface."""
    e = table_scan(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_value"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
    )


@register(
    "events_funnel_match",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
    ), s1 AS (
      SELECT user_id, MIN(us) AS t1_us FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(us) AS t2_us FROM e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND us > t1_us GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(us) AS t3_us FROM e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND us > t2_us GROUP BY e.user_id
    )
    SELECT s1.user_id, t1_us, t2_us, t3_us, t3_us IS NOT NULL AS completed
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
)
def q_events_funnel_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel matching (view → click → purchase), the
    MATCH_RECOGNIZE-class sequence operator Spark lacks natively. The
    oracle states the textbook correlated form — three join-back-and-
    re-aggregate passes. The Spark plan is a SINGLE window pass: sort each
    user's events once, then chain prefix conditional minimums
    (run1 = earliest view so far; a click qualifies iff it is later than
    run1; run2 = earliest qualifying click so far; a purchase qualifies
    iff later than run2) — provably equivalent to the correlated form
    because prefix-min ≥ global-min and time order = us order. One shuffle
    on user_id instead of three fact-fact joins; at 100 TB the funnel
    never rescans events and state per user is three longs."""
    e = table_scan(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-01").cast("timestamp_ntz"))
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp_ntz"))
    ).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us")
    run1 = F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    q2 = F.when(
        (F.col("event_type") == "click") & (F.col("us") > run1), F.col("us")
    )
    stage = e.withColumn("__q2", q2)
    run2 = F.min("__q2").over(w)
    q3 = F.when(
        (F.col("event_type") == "purchase") & (F.col("us") > run2), F.col("us")
    )
    g = (
        stage.withColumn("__q3", q3)
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t1_us"),
            F.min("__q2").alias("t2_us"),
            F.min("__q3").alias("t3_us"),
        )
        .filter(F.col("t1_us").isNotNull())
    )
    return g.select(
        "user_id", "t1_us", "t2_us", "t3_us",
        F.col("t3_us").isNotNull().alias("completed"),
    )


@register(
    "events_running_total",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value
    FROM events
    """,
)
def q_events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total over event time — the cumulative-metric window
    (ROWS frame, unlike the value-RANGE frame of events_range_frame_avg).
    Exact-decimal accumulation makes every prefix sum bit-deterministic;
    event_id breaks timestamp ties so both engines accumulate in the same
    order. One shuffle on user_id, one sort per partition."""
    e = table_scan(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias(
            "running_value"
        ),
    )


@register(
    "events_scd2_intervals",
    """
    WITH sg AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS attr
      FROM events WHERE event_type = 'signup'
    ), chg AS (
      SELECT user_id, event_id, us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev_attr
      FROM sg
    ), kept AS (
      SELECT user_id, event_id, us, attr FROM chg
      WHERE prev_attr IS NULL OR attr <> prev_attr
    )
    SELECT user_id, attr, us AS valid_from_us,
           LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
             AS valid_to_us,
           LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
             AS is_current
    FROM kept
    """,
)
def q_events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change-event stream:
    consecutive duplicate attribute values collapse (lag), each surviving
    change opens an interval closed by the next change (lead), latest row
    flagged current. This is the warehouse dimension-maintenance pattern the
    reference's overwrite-only silver stage cannot express. One shuffle on
    user_id shared by both window passes; event_id breaks timestamp ties so
    lag/lead agree cross-engine. Epoch-micros out (never raw ns timestamps)."""
    e = table_scan(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    sg = e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.get_json_object("props", "$.k").cast("bigint").alias("attr"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    kept = (
        sg.withColumn("__prev", F.lag("attr").over(w))
        .filter(F.col("__prev").isNull() | (F.col("attr") != F.col("__prev")))
        .drop("__prev")
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    nxt = F.lead("us").over(w2)
    return kept.select(
        "user_id",
        "attr",
        F.col("us").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "events_dau_hll_mergeable",
    """
    SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                // 7 AS BIGINT) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_weekly_users,
           TRUE AS within_bound
    FROM events GROUP BY 1
    """,
)
def q_events_dau_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the pre-aggregation pattern exact
    COUNT(DISTINCT) cannot give you at 100 TB: per-DAY HyperLogLog sketches
    (Datasketches HLL, `hll_sketch_agg`) are built once in a partial-agg
    pass, persisted small, then UNION-MERGED (`hll_union_agg`) into weekly
    uniques WITHOUT touching raw events again — re-aggregation over sketch
    state, the property approx_count_distinct lacks (its estimate is final,
    not mergeable). ``events_bitmap_distinct`` oracle-checks the same
    build-daily-partials → OR-merge → count pipeline EXACTLY with bitmap
    aggregates (the deterministic sibling of this sketch).

    Bounded oracle (VERDICT r8 #1): sketch binaries/estimates differ per
    engine, so the emitted columns are the deterministic witness — an exact
    weekly COUNT(DISTINCT) (a correctness witness only, NOT part of the
    sketch pipeline, which never re-touches raw events) broadcast-joined
    in, plus ``within_bound`` asserting |est − exact| ≤ max(2, 5% · exact)
    (default lgConfigK=12 ⇒ ~1.6% relative error). The oracle recomputes
    the exact weekly distinct and asserts the bound per week, so rows +
    schema + value-hash are all checkable while the sketch still runs;
    tests/test_sketch_anchors.py additionally bounds the raw estimate."""
    e = table_scan(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = e.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    week = F.floor(
        F.datediff("day", F.lit("2024-01-01").cast("date")) / F.lit(7)
    ).cast("long")
    est = (
        daily.select(week.alias("week"), "sk")
        .groupBy("week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_weekly_users")
        )
    )
    week_raw = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / F.lit(7)
    ).cast("long")
    exact = (
        table_scan(spark, sf_dir, "events")
        .select(week_raw.alias("week"), "user_id")
        .groupBy("week")
        .agg(F.countDistinct("user_id").alias("exact_weekly_users"))
    )
    return (
        est.join(F.broadcast(exact), on="week")
        .select(
            "week",
            "exact_weekly_users",
            (
                F.abs(F.col("approx_weekly_users") - F.col("exact_weekly_users"))
                <= F.greatest(
                    F.lit(2.0), F.col("exact_weekly_users") * 0.05
                )
            ).alias("within_bound"),
        )
        .orderBy("week")
    )


@register(
    "events_user_lifecycle",
    """
    WITH wk AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    lagged AS (
      SELECT user_id, week,
             LAG(week)  OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
             LEAD(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
      FROM wk
    ),
    act AS (
      SELECT week,
             CASE WHEN prev_week IS NULL THEN 'new'
                  WHEN week = prev_week + 7 THEN 'retained'
                  ELSE 'resurrected' END AS status,
             user_id
      FROM lagged
    ),
    churn AS (
      SELECT week + 7 AS week, 'churned' AS status, user_id
      FROM lagged
      WHERE next_week IS NULL OR next_week > week + 7
    )
    SELECT week, status, COUNT(*) AS users
    FROM (SELECT * FROM act UNION ALL SELECT * FROM churn)
    GROUP BY week, status
    """,
)
def q_events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: each active (user, week) is classified
    new / retained / resurrected via LAG over the user's distinct activity
    weeks, and a churn row lands in the first inactive week via LEAD (a user
    whose last activity is the corpus tail churns one week after it —
    deterministic, no wall clock). All window work runs over the DISTINCT
    (user, week) table — one shuffle to build it, then per-user partitions;
    the raw event fan-in never reaches a window. The weekly new+retained+
    resurrected−churned telescope is the standard DAU/WAU accounting
    identity product teams track."""
    e = table_scan(spark, sf_dir, "events")
    wk = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = wk.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_week"),
        F.lead("week").over(w).alias("next_week"),
    )
    act = lagged.select(
        "week",
        F.when(F.col("prev_week").isNull(), F.lit("new"))
        .when(F.col("week") == F.date_add("prev_week", 7), F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("status"),
        "user_id",
    )
    churn = lagged.filter(
        F.col("next_week").isNull()
        | (F.col("next_week") > F.date_add("week", 7))
    ).select(
        F.date_add("week", 7).alias("week"),
        F.lit("churned").alias("status"),
        "user_id",
    )
    return (
        act.unionByName(churn)
        .groupBy("week", "status")
        .agg(F.count(F.lit(1)).alias("users"))
    )


@register(
    "events_interval_overlap_join",
    """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 21600000000
                  OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS ns
      FROM events WHERE user_id < 30
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id) AS seq
      FROM g
    ),
    sess AS (
      SELECT user_id, seq, MIN(us) AS s_us, MAX(us) AS e_us
      FROM s GROUP BY user_id, seq
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           COUNT(*) AS overlap_sessions
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    GROUP BY user_a, user_b
    """,
)
def q_events_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which users' activity sessions (6 h gap
    sessionization) overlap in time, and how often. The naive form is an
    inequality self-join (the oracle runs exactly that); the Spark plan
    instead EXPLODES each session into the calendar days it covers and
    EQUI-joins on the day bucket before applying the precise overlap
    predicate — candidate pairs are bounded by per-day co-activity, the join
    parallelizes on the bucket key, and no BroadcastNestedLoop/cartesian
    appears at any scale (plan-asserted in tests). Day-spanning sessions are
    counted once via distinct session-pair ids. All time math is integer
    MICROSECONDS (events carry sub-second precision; see NOTES.md)."""
    e = table_scan(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 6 * 3600 * 1_000_000), 1).otherwise(0)
    s = e.select(
        "user_id",
        us.alias("us"),
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("seq"),
    )
    sess = s.groupBy("user_id", "seq").agg(
        F.min("us").alias("s_us"), F.max("us").alias("e_us")
    )
    # day-bucket explosion: micros → days since epoch. Integral `div`, not
    # double division + cast: double-divide truncates toward zero, which
    # mis-buckets pre-1970 (negative-micros) timestamps and can lose pairs.
    day = lambda c: F.expr(f"{c} div 86400000000")  # noqa: E731
    buckets = sess.select(
        "user_id",
        "seq",
        "s_us",
        "e_us",
        F.explode(F.sequence(day("s_us"), day("e_us"))).alias("bucket"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s_us") <= F.col("b.e_us"))
            & (F.col("b.s_us") <= F.col("a.e_us")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.seq").alias("seq_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.seq").alias("seq_b"),
        )
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("overlap_sessions")
    )


@register(
    "events_count_min_sketch",
    """
    WITH ex AS (
      SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT user_id, exact_cnt, i,
             CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':'
                    || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 256
               AS bucket
      FROM ex, UNNEST(range(4)) AS u(i)
    ),
    sketch AS (
      SELECT i, bucket, SUM(exact_cnt) AS cell_total
      FROM cells GROUP BY i, bucket
    ),
    est AS (
      SELECT c.user_id, MIN(s.cell_total) AS cms_est
      FROM cells c JOIN sketch s ON c.i = s.i AND c.bucket = s.bucket
      GROUP BY c.user_id
    )
    SELECT ex.user_id, ex.exact_cnt, CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - ex.exact_cnt AS BIGINT) AS overcount
    FROM ex JOIN est e ON ex.user_id = e.user_id
    """,
)
def q_events_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows × w=256 buckets) over per-user event
    frequencies, with the estimate replayed against the exact count —
    `overcount` is the sketch's collision error, provably ≥ 0. The sketch is
    built from the PRE-AGGREGATED (user, count) table, not the raw event
    stream: hash cells depend only on the key, so partial-agg first means the
    4× hash fan-out touches |users| rows, not |events| (at 100 TB that is
    the difference between a broadcast-sized sketch build and a full-corpus
    reshuffle). Cell totals are a (4×256)-row table that merges across
    shards by plain SUM — the mergeability that makes CMS the standard
    distributed heavy-hitter sketch. Hashes are the engine-portable md5
    prefix (functions/hashing.py), so DuckDB rebuilds the identical sketch
    bit-for-bit."""
    from ..functions.hashing import portable_hash64

    e = table_scan(spark, sf_dir, "events")
    ex = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cells = ex.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    ).select(
        "user_id",
        "exact_cnt",
        "i",
        F.pmod(
            portable_hash64(
                F.concat(F.col("i").cast("string"), F.lit(":"),
                         F.col("user_id").cast("string"))
            ),
            F.lit(256),
        ).alias("bucket"),
    )
    sketch = cells.groupBy("i", "bucket").agg(
        F.sum("exact_cnt").alias("cell_total")
    )
    est = (
        cells.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell_total").alias("cms_est"))
    )
    return ex.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


@register(
    "events_longest_streak",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    isl AS (
      SELECT user_id, day,
             date_diff('day', DATE '1970-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM ud
    ),
    runs AS (
      SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start_day
      FROM isl GROUP BY user_id, grp
    ),
    best AS (
      SELECT user_id, len, start_day,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY len DESC, start_day) AS rn
      FROM runs
    )
    SELECT user_id, CAST(len AS BIGINT) AS best_streak,
           start_day AS streak_start
    FROM best WHERE rn = 1
    """,
)
def q_events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the gaps-and-
    islands idiom: on the DISTINCT (user, day) grid, `epoch_day − row_number`
    is constant exactly within a consecutive run, so one window + one groupBy
    finds every streak without self-joins or iteration. All window work runs
    over the distinct day grid (≤ |users|×|days| rows, partitioned by user),
    never the raw event fan-in. Ties (two equal-length streaks) break to the
    earliest start date — fully deterministic."""
    e = table_scan(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = ud.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wb = Window.partitionBy("user_id").orderBy(F.desc("len"), "start_day")
    return (
        runs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("best_streak"),
            F.col("start_day").alias("streak_start"),
        )
    )


@register(
    "streaming_transform_with_state",
    """
    SELECT user_id, event_type, COUNT(*) AS event_cnt
    FROM events GROUP BY user_id, event_type
    """,
)
def q_streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-event-type running counts as an arbitrary-stateful
    streaming op, proven equal to the batch GROUP BY twin: AvailableNow over
    the staged events, keep each (user, type)'s LAST update-mode emission
    (= max count — counts only grow). The accumulation is order-insensitive,
    so micro-batch slicing can't change the result. Two implementations
    with one emissions contract (streaming/stateful.py): Spark 4's
    transformWithStateInPandas with typed MapState when its Python worker
    can run (needs protobuf + the RocksDB state store — set per-query), else
    the applyInPandasWithState fallback (`user_type_counter_fallback`) —
    THIS container lacks protobuf, so the fallback is the executed path
    here; the TWS processor is plan-built and covered by a skip-gated
    pytest."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import stream_events
    from ..streaming.stateful import (
        tws_available,
        user_type_counter,
        user_type_counter_fallback,
    )

    qname = f"bdec_tws_{staging.name}"
    src = stream_events(spark, str(staging))
    if tws_available():
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            q = (
                user_type_counter(src)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
    else:
        q = (
            user_type_counter_fallback(src)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    emissions = spark.table(qname)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("event_cnt")
    )
    return (
        emissions.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "event_cnt")
    )


@register(
    "events_rate_spike",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
      FROM events GROUP BY event_type, hr
    ),
    base AS (
      SELECT event_type, hr, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
               AS trail_cnt,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
                            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
               AS trail_hrs
      FROM hourly
    )
    SELECT event_type, CAST(hr AS DATE) AS day,
           CAST(EXTRACT(hour FROM hr) AS INT) AS hour,
           CAST(cnt AS BIGINT) AS cnt,
           CAST(trail_cnt AS BIGINT) AS trail_cnt,
           CAST(trail_hrs AS BIGINT) AS trail_hrs
    FROM base
    WHERE trail_hrs >= 6 AND 2 * cnt * trail_hrs > 3 * trail_cnt
    """,
)
def q_events_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rate-spike detector: flag any (type, hour) whose event count
    exceeds 1.5× its own trailing-24-hour average — the monitoring
    primitive behind ops alerting and bot/abuse screens. The trailing
    baseline is a ROWS window over the HOURLY aggregate (≤ |types|×|hours|
    rows — the raw event fan-in is collapsed by one partial-agg pass first,
    so the window state at 100 TB is thousands of rows, not billions). The
    1.5× threshold is integer cross-multiplication (2·cnt·hrs > 3·trail),
    no division, and fires at every testdata SF (560 rows at sf0.01, 31 at
    sf0.1 — the denser corpus is smoother); warm-up hours (< 6 trailing
    points) are suppressed. Output emits date + hour INTEGERS, never the
    raw ns timestamp (NOTES.md)."""
    e = table_scan(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wt = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-24, -1)
    )
    base = hourly.select(
        "event_type",
        "hr",
        "cnt",
        F.sum("cnt").over(wt).alias("trail_cnt"),
        F.count(F.lit(1)).over(wt).alias("trail_hrs"),
    )
    return base.filter(
        (F.col("trail_hrs") >= 6)
        & (2 * F.col("cnt") * F.col("trail_hrs") > 3 * F.col("trail_cnt"))
    ).select(
        "event_type",
        F.col("hr").cast("date").alias("day"),
        F.hour("hr").alias("hour"),
        "cnt",
        "trail_cnt",
        "trail_hrs",
    )


@register(
    "events_scd2_lookup",
    """
    WITH sg AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS attr
      FROM events WHERE event_type = 'signup'
    ), chg AS (
      SELECT user_id, event_id, us, attr,
             LAG(attr) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS prev_attr
      FROM sg
    ), kept AS (
      SELECT user_id, event_id, us, attr FROM chg
      WHERE prev_attr IS NULL OR attr <> prev_attr
    ), dim AS (
      SELECT user_id, attr, us AS valid_from_us,
             LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
               AS valid_to_us
      FROM kept
    ), px AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(value AS DECIMAL(18,4)) AS v
      FROM events WHERE event_type = 'purchase'
    )
    SELECT d.attr, COUNT(*) AS purchases,
           CAST(SUM(p.v) AS DOUBLE) AS total_value
    FROM px p JOIN dim d
      ON p.user_id = d.user_id
     AND p.us >= d.valid_from_us
     AND (d.valid_to_us IS NULL OR p.us < d.valid_to_us)
    GROUP BY d.attr
    """,
)
def q_events_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: every purchase joins the SCD2
    attribute version that was VALID AT ITS EVENT TIME (half-open
    [from, to) containment; NULL to = current) — the star-schema pattern
    that makes historical reports reproducible instead of reflecting
    today's dimension. The join is EQUI on user_id with the interval
    predicate evaluated inside each hash-join match (per user there are
    only a handful of versions), so no range-join machinery or nested loop
    appears — at 100 TB this is a plain shuffled hash join on the user key
    with the dim side orders of magnitude smaller. Purchases before the
    user's first signup version have no valid row and drop out (inner
    join). Value sums use the exact-decimal idiom (NOTES.md)."""
    dim = q_events_scd2_intervals(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        "attr",
        "valid_from_us",
        "valid_to_us",
    )
    e = table_scan(spark, sf_dir, "events")
    px = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    joined = px.join(
        dim,
        (px["user_id"] == dim["d_user"])
        & (px["us"] >= dim["valid_from_us"])
        & (dim["valid_to_us"].isNull() | (px["us"] < dim["valid_to_us"])),
    )
    return joined.groupBy("attr").agg(
        F.count(F.lit(1)).alias("purchases"),
        F.sum("v").cast("double").alias("total_value"),
    )


@register(
    "events_value_winsorize",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    ),
    c AS (
      SELECT e.event_type,
             least(greatest(e.value, b.p01), b.p99) AS v,
             CAST(e.value < b.p01 OR e.value > b.p99 AS INT) AS clipped
      FROM events e JOIN b USING (event_type)
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(clipped) AS BIGINT) AS n_clipped,
           CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS winsorized_sum
    FROM c GROUP BY event_type
    """,
)
def q_events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip to the in-group [p1, p99] band) — the robust
    pre-processing step that stops tail outliers from dominating training
    statistics, as a two-pass grouped plan: exact per-type percentiles
    (one partial-agg pass; `F.percentile` ≡ DuckDB `quantile_cont`
    bitwise, NOTES.md), broadcast back onto the scan, clip with
    least/greatest, re-aggregate with the exact-decimal sum idiom. At
    100 TB swap the exact percentile for `approx_percentile` (mergeable
    KLL sketch — approx_order_percentiles shows that path) and the rest
    of the plan is unchanged."""
    e = table_scan(spark, sf_dir, "events").select("event_type", "value")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    c = e.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias(
            "v"
        ),
        ((F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99")))
        .cast("int")
        .alias("clipped"),
    )
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clipped").cast("long").alias("n_clipped"),
        F.sum(F.col("v").cast("decimal(18,4)"))
        .cast("double")
        .alias("winsorized_sum"),
    )


# ---------------------------------------------------------------------------
# round-5 late batch: mergeable exact sketches, sequence models, training-pair
# generation, distributed-ML kernels, portable SemDeDup
# ---------------------------------------------------------------------------

@register(
    "events_bitmap_distinct",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def q_events_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count via Spark 3.5+ bitmap aggregates —
    the deterministic sibling of events_dau_hll_mergeable: per
    (event_type, day, bucket) roaring-style bitmaps are built map-side
    (``bitmap_construct_agg``), OR-merged across days
    (``bitmap_or_agg``), and popcounted (``bitmap_count``). The daily
    partials are the 100-TB shape: an incremental pipeline persists them
    and re-merges any date range without touching raw events, and the
    merge is associative + idempotent (re-delivered days don't double
    count — unlike SUM of daily COUNT(DISTINCT)). The bucket split keys
    each bitmap to a 32k-bit segment so no single value dominates; the
    shuffle carries one bitmap per (type, day, bucket), never raw ids.
    Oracle = plain COUNT(DISTINCT): the bitmap path must reproduce the
    exact answer, not an estimate."""
    e = table_scan(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("distinct_users")
    )


@register(
    "streaming_foreachbatch_rollup",
    """
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_streaming_foreachbatch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate SINK through foreachBatch — the streaming-upsert
    hook for any store without native streaming merge (the third sink
    surface after parquet-append and the memory sink): events stream in
    one-file micro-batches (maxFilesPerTrigger=1 under AvailableNow, so the
    merge path really executes ≥4 times), each batch partial-aggregates to
    per-day (cnt, decimal value_sum) and merges into the snapshot table via
    the CDC merge_upsert. Decimal accumulation is exact and associative, so
    the maintained table is bitwise-equal to the one-shot batch rollup no
    matter how the stream was chopped — which is exactly what the oracle
    checks. Each invocation replays into a fresh snapshot + checkpoint dir
    (deterministic final state); an incremental production run would keep
    both and only process new files."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import EVENTS_STREAM_SCHEMA, maintain_rollup_foreach_batch

    run_dir = Path(tempfile.mkdtemp(dir=session_workspace(spark)))
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    maintain_rollup_foreach_batch(stream, str(run_dir / "rollup"), str(run_dir / "ckpt"))
    return spark.read.parquet(str(run_dir / "rollup")).select(
        "day", "cnt", F.col("value_sum").cast("double").alias("value_sum")
    )


@register(
    "events_arrow_udf_cents",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM events GROUP BY event_type
    """,
)
def q_events_arrow_udf_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar ``@arrow_udf`` (Spark 4.1) — the Arrow-native scalar UDF
    surface (pyarrow.Array in/out per batch, no pandas Series conversion;
    sibling of pandas_udf the way mapInArrow is the sibling of
    mapInPandas). The kernel quantizes the double ``value`` to exact cents
    with ``pyarrow.compute`` (×100 → round — the test values carry two
    decimals, so the nearest integer is the true cents value in every
    engine; the oracle's DECIMAL(18,2) cast rounds the same rational to
    the same integer). Downstream SUM is exact int64, so the whole Arrow
    path is full-value-checked. The kernel lives in
    functions/arrow_kernels.py — a module WITHOUT ``from __future__
    import annotations``, which would stringify the pyarrow signature
    arrow_udf dispatches on."""
    from ..functions.arrow_kernels import to_cents

    e = table_scan(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(to_cents(F.col("value"))).alias("cents_sum"),
    )


@register(
    "streaming_file_sink_exactly_once",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def q_streaming_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed parquet FILE sink — the remaining streaming sink
    surface next to the memory sink and foreachBatch: events stream in
    one-file micro-batches (maxFilesPerTrigger=1, AvailableNow) through a
    map-only cleaning projection into an append-mode parquet sink. Unlike
    the other streaming queries, sink AND checkpoint are PERSISTENT per
    session and events snapshot: a re-invocation restarts the query over the same checkpoint,
    finds no unprocessed files, and appends nothing — the file-sink
    transaction log (_spark_metadata) plus the source checkpoint give
    exactly-once delivery across restarts, which is precisely what the
    oracle equality witnesses (a duplicated batch would double counts).
    The aggregate runs over the SINK's files, so the driver check also
    proves the sink wrote every row exactly once."""
    staging = _staged_events(spark, sf_dir)
    from ..streaming.events import EVENTS_STREAM_SCHEMA

    run_dir = staged_dir(spark, "filesink:" + source_fingerprint(sf_dir, "events"), Path.mkdir)
    sink, ckpt = run_dir / "out", run_dir / "ckpt"
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging))
    )
    cleaned = stream.select(
        "event_id", "event_type", F.to_date("ts").alias("day")
    )
    # sink+checkpoint are deliberately PERSISTENT for the session (the
    # restart / exactly-once semantics under test), so two threads running
    # this query share them: serialize the runs — the later one restarts
    # over the committed checkpoint, availableNow finds no new input, and
    # the sink is unchanged
    with _FILE_SINK_LOCK:
        q = (
            cleaned.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(str(sink))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "events_asof_forward_tolerance",
    """
    WITH c AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click' AND user_id < 30
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id < 30
    ),
    u AS (
      SELECT user_id AS k, epoch_us(ts) AS us, 0 AS tag,
             event_id AS pl, CAST(NULL AS BIGINT) AS le
      FROM p
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, CAST(NULL AS BIGINT), event_id
      FROM c
    ),
    w AS (
      SELECT k, us, tag, le,
             LAST_VALUE(pl IGNORE NULLS) OVER win AS m_pl,
             LAST_VALUE(CASE WHEN tag = 0 THEN us END IGNORE NULLS)
               OVER win AS m_us
      FROM u
      WINDOW win AS (PARTITION BY k
                     ORDER BY us DESC, tag ASC, COALESCE(pl, -1) DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT le AS click_id, k AS user_id,
           CASE WHEN m_us - us <= 7200000000 THEN m_pl END
             AS next_purchase_id
    FROM w WHERE tag = 1
    """,
)
def q_events_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance — pandas
    ``merge_asof(direction='forward', tolerance=...)`` semantics, the
    mirror of the backward point-in-time join: each click is attributed
    the EARLIEST purchase by the same user at-or-after it, but only within
    2 hours (outside the window ⇒ NULL, an unconverted click). Same
    union + running-carry rewrite (operators/asof.py: asof_join_forward):
    one shuffle on user_id over |clicks|+|purchases| rows — never a range
    cross-join, so cost is an equi-join's regardless of how many
    purchases follow each click. The oracle replays the identical
    reversed-scan window; order keys are COALESCE'd non-null because the
    engines disagree on default null placement."""
    from ..operators.asof import asof_join_forward

    e = table_scan(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join_forward(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload="event_id",
        left_cols=["click_id"],
        payload_out="next_purchase_id",
        tolerance_us=2 * 3600 * 1_000_000,
    )


# ---------------------------------------------------------------------------
# round 7: analytics operators — imputation, experimentation, model eval,
# sequence mining, entity resolution
# ---------------------------------------------------------------------------

@register(
    "events_locf_impute",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) // COUNT(*) AS avg_cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi
               FROM (SELECT date_trunc('hour', ts) AS h FROM events)),
    spine AS (
      SELECT t.event_type, g.hour
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                    AS hour FROM bounds) g
    )
    SELECT s.event_type, s.hour,
           last_value(hl.avg_cents IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents,
           CASE WHEN hl.avg_cents IS NULL THEN 1 ELSE 0 END AS is_imputed
    FROM spine s LEFT JOIN hourly hl
      ON hl.event_type = s.event_type AND hl.h = s.hour
    """,
)
def q_events_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation over a dense hourly
    spine — the feature-store repair step for sparse sensor/metric series:
    per (event_type, hour) the exact integer average value-in-cents is
    observed where events exist, and empty hours carry the most recent
    observation forward (``F.last(..., ignorenulls=True)`` over a
    per-series window; leading gaps legitimately stay NULL). The spine is
    generated distributed (explode of a sequence, the `events_gap_fill`
    idiom) and crossed with the dim-sized type list — the 100 TB shape
    partitions the LOCF window by series id, millions of independent
    partitions, never a global order. Average is floor(sum_cents / n):
    exact integers on both engines."""
    e = table_scan(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    # persist-once: the hourly aggregate feeds the spine bounds, the type
    # dim, AND the left join — lazily persisting it collapses three full
    # event scans into one
    hourly = (
        e.select("event_type", F.date_trunc("hour", "ts").alias("h"), cents.alias("c"))
        .groupBy("event_type", "h")
        .agg(F.expr("sum(c) div count(*)").alias("avg_cents"))
        .transform(cached)
    )
    spine_hours = (
        hourly.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour"
            )
        )
    )
    types = hourly.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types)).alias("sp")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hl = hourly.alias("hl")
    joined = spine.join(
        hl,
        (F.col("sp.event_type") == F.col("hl.event_type"))
        & (F.col("sp.hour") == F.col("hl.h")),
        "left",
    ).select(
        F.col("sp.event_type").alias("event_type"),
        F.col("sp.hour").alias("hour"),
        F.col("hl.avg_cents").alias("avg_cents"),
    )
    return joined.select(
        "event_type",
        "hour",
        F.last("avg_cents", ignorenulls=True).over(w).alias("filled_cents"),
        F.when(F.col("avg_cents").isNull(), 1).otherwise(0).alias("is_imputed"),
    )


@register(
    "events_ab_proportion_test",
    """
    WITH u AS (SELECT DISTINCT user_id, user_id % 2 AS variant FROM events),
    tot AS (
      SELECT CAST(COUNT(*) FILTER (variant = 0) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (variant = 1) AS BIGINT) AS n1
      FROM u
    ),
    per_user AS (
      SELECT event_type, user_id, user_id % 2 AS variant
      FROM events GROUP BY event_type, user_id
      HAVING COUNT(*) >= 14
    ),
    conv AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (variant = 0) AS BIGINT) AS c0,
             CAST(COUNT(*) FILTER (variant = 1) AS BIGINT) AS c1
      FROM per_user GROUP BY event_type
    )
    SELECT event_type, n0, n1, c0, c1,
           c0 * 1000 // n0 AS p0_permille,
           c1 * 1000 // n1 AS p1_permille,
           CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1
                 AND 1000000 * CAST(n0 + n1 AS HUGEINT)
                     * CAST(c1 * n0 - c0 * n1 AS HUGEINT)
                     * CAST(c1 * n0 - c0 * n1 AS HUGEINT)
                  >= 3841459 * CAST(n0 AS HUGEINT) * CAST(n1 AS HUGEINT)
                     * CAST(c0 + c1 AS HUGEINT)
                     * CAST(n0 + n1 - c0 - c1 AS HUGEINT)
                THEN 1 ELSE 0 END AS significant
    FROM conv CROSS JOIN tot
    """,
)
def q_events_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per conversion metric — the experimentation
    readout: users hash-split into variants (``user_id % 2`` stands in for
    the assignment table), per metric a user CONVERTS on
    event_type t when they log >= 14 events of t (a real per-user
    aggregate, not mere presence), and the variant conversion counts
    are compared, and significance at 95 % is decided WITHOUT a float
    division or sqrt: z² ≥ 3.841459 is cross-multiplied into the exact
    integer inequality 10⁶·N·(c₁n₀−c₀n₁)² ≥ 3841459·n₀n₁·C·(N−C),
    evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so it cannot
    overflow at any SF. Two distinct-aggregations and one single-row
    broadcast — no shuffle beyond the groupBys."""
    e = table_scan(spark, sf_dir, "events")
    # persist-once: the (type, user) count table feeds both the variant
    # totals (via its distinct users) and the conversion counts — one
    # event scan instead of two
    base = (
        e.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .transform(cached)
    )
    u = base.select(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).distinct()
    tot = u.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n1"),
    )
    per_user = base.filter(F.col("k") >= 14).select(
        "event_type", (F.col("user_id") % 2).alias("variant")
    )
    conv = per_user.groupBy("event_type").agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("c1"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    n0, n1 = F.col("n0"), F.col("n1")
    c0, c1 = F.col("c0"), F.col("c1")
    d = d38(c1 * n0 - c0 * n1)
    lhs = F.lit(1000000).cast("decimal(38,0)") * d38(n0 + n1) * d * d
    rhs = (
        F.lit(3841459).cast("decimal(38,0)")
        * d38(n0)
        * d38(n1)
        * d38(c0 + c1)
        * d38(n0 + n1 - c0 - c1)
    )
    return conv.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n0",
        "n1",
        "c0",
        "c1",
        F.expr("c0 * 1000 div n0").alias("p0_permille"),
        F.expr("c1 * 1000 div n1").alias("p1_permille"),
        F.when(
            (c0 + c1 > 0) & (c0 + c1 < n0 + n1) & (lhs >= rhs), 1
        ).otherwise(0).alias("significant"),
    )


@register(
    "events_top_paths",
    """
    WITH s AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM s WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths — frequent 3-step behavioral sequence mining (the
    clickstream sibling of `events_markov_transitions`' 1-step matrix and
    `events_funnel_match`'s FIXED pattern: here every observed 3-path is
    counted and ranked). Two LEADs over the per-user total order (ts,
    event_id) build each path in one window pass — no self-joins on the
    event table; the path count partial-aggregates map-side and the
    top-20 is a distributed TakeOrdered with a total-order tiebreak on
    the path string. Windows partition by user — millions of independent
    partitions at 100 TB, never a global sort."""
    e = table_scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        s.select(F.concat_ws(">", "t1", "t2", "t3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


@register(
    "streaming_stream_stream_left_outer",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_streaming_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join — the state-EVICTION surface the
    inner join never exercises: an unmatched purchase is emitted (with
    NULL click) only once the watermark proves no future click can match
    it, and Spark flushes those rows using the watermark derived from the
    PREVIOUS batch. Two mechanics make the output deterministic and equal
    to the plain batch left join, which is exactly what the oracle
    witnesses:

    - **Sentinel ticks.** Two far-future purchase+click pairs are staged
      as their own files AFTER the real data (mtime-ordered,
      ``maxFilesPerTrigger=1`` keeps each in its own micro-batch), so the
      last real-data watermark plus one tick covers every real purchase
      and the final tick's batch flushes them all. Sentinels carry
      negative ids and are dropped AFTER the sink — filtering them inside
      the query would be pushed below the EventTimeWatermark node on the
      purchase branch and the sentinel would never advance the watermark
      (measured; Catalyst pushes non-event-time predicates through the
      watermark operator).
    - **One source, self-joined.** Both sides derive from the SAME
      readStream: with two separate sources the per-batch file pairing is
      not synchronized, and under the MIN multipleWatermarkPolicy the
      lagging side pins the join's eviction frontier (also measured).

    State stays bounded however long the stream runs: a click older than
    watermark − 1 h can never match and is dropped."""
    from ..streaming.events import EVENTS_STREAM_SCHEMA

    def build(run_dir: Path) -> None:
        in_dir = run_dir / "in"
        # ONE file => ALL real data lands in micro-batch 0, before any
        # watermark has advanced: with per-file batches and out-of-order
        # staging, later real files would arrive below the sentinel-raised
        # watermark and be dropped as late (measured: 1016 of 1981 rows).
        # Replaying history through a file stream is harness staging; a
        # production stream ingests in arrival order and never re-batches
        # its own past.
        table_scan(spark, sf_dir, "events").repartition(1).write.parquet(str(in_dir))
        import time as _time

        for tick, stamp in (
            (1, "2024-02-15 12:00:00"),
            (2, "2024-03-15 12:00:00"),
        ):
            _time.sleep(1.2)  # strictly increasing mtimes order the batches
            spark.createDataFrame(
                [
                    (-tick, stamp, -1, "purchase", 0.0, "{}"),
                    (-100 - tick, stamp, -2, "click", 0.0, "{}"),
                ],
                "event_id long, ts_s string, user_id long, event_type string,"
                " value double, props string",
            ).select(
                "event_id",
                F.col("ts_s").cast("timestamp").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            ).repartition(1).write.mode("append").parquet(str(in_dir))

    in_dir = (
        staged_dir(spark, "ss_lo:" + source_fingerprint(sf_dir, "events"), build) / "in"
    )
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id")
    qname = f"bdec_ss_lo_{in_dir.parent.name}"
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).filter(F.col("purchase_id") >= 0)


def observed_events_clean(spark: SparkSession, sf_dir: str, observation=None):
    """Shared pipeline for `events_observe_audit`: the audit metrics ride
    the SAME job as the cleaning pass via ``observe`` (CollectMetrics) —
    zero extra scans. ``observation`` may be a ``pyspark.sql.Observation``
    (tests read the metrics back) or None (a named observe node for
    listeners)."""
    e = table_scan(spark, sf_dir, "events")
    metrics = [
        F.count(F.lit(1)).alias("rows_in"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
    ]
    observed = (
        e.observe(observation, *metrics)
        if observation is not None
        else e.observe("bdec_events_audit", *metrics)
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        observed.filter(
            (F.col("event_type") != "error") & (F.col("value") >= 0)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("cents"),
        )
    )


@register(
    "events_observe_audit",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events
    WHERE event_type <> 'error' AND value >= 0
    GROUP BY event_type
    """,
)
def q_events_observe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline observability — ``DataFrame.observe``
    (CollectMetrics): the quarantine pass counts its input rows, error
    rows, and negative values IN THE SAME JOB as the cleaning aggregate,
    so data-quality telemetry costs zero extra scans (the reference runs
    Soda checks as separate queries over the landed table —
    soda/checks/*.yml; observe is the streaming-safe in-plan equivalent).
    The returned aggregate is oracle-checked; the observed metrics
    themselves are asserted against recomputed truth in
    tests/test_round7_ops.py via the Observation API."""
    return observed_events_clean(spark, sf_dir)


@register(
    "events_kmv_distinct_sketch",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    per AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hashes,
             MAX(CASE WHEN rn = 128 THEN hv END) AS kth
      FROM ranked WHERE rn <= 128 GROUP BY event_type
    ),
    uh AS (SELECT DISTINCT hv FROM h),
    uranked AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn FROM uh
    ),
    uper AS (
      SELECT '__union__' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_hashes,
             MAX(CASE WHEN rn = 128 THEN hv END) AS kth
      FROM uranked WHERE rn <= 128
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__union__', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    ),
    est AS (
      SELECT s.event_type, ex.exact_distinct,
             CAST(CASE WHEN s.n_hashes < 128 THEN s.n_hashes
                       ELSE (CAST(127 AS HUGEINT) * 1152921504606846976) // s.kth
                  END AS BIGINT) AS est_distinct
      FROM (SELECT * FROM per UNION ALL SELECT * FROM uper) s
      JOIN ex ON ex.event_type = s.event_type
    )
    SELECT event_type AS scope, est_distinct, exact_distinct,
           ABS(est_distinct - exact_distinct) * 4 <= exact_distinct
             AS within_bound
    FROM est
    """,
)
def q_events_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch — the MERGEABLE
    distinct counter that, unlike HLL, is engine-portable and therefore
    fully oracle-checkable: keep the k=128 smallest 60-bit md5 hashes per
    group; estimate = (k−1)·M / h₍ₖ₎ (Bar-Yossef et al. 2002), exact
    pass-through when a group holds < k hashes. The union scope is the
    sketch MERGE: pool the per-group bottom-k sets, re-take the bottom-k —
    the property that lets 1000 executors sketch independently and combine
    in O(k). Every value is an exact integer (the ·M product in
    DECIMAL(38)/HUGEINT), and the emitted within_bound column (25 %,
    ≈ 2.8σ at k=128) makes the row itself witness the accuracy claim. Scale:
    per-group bottom-k folds as a window over the DISTINCT (type, hash)
    grid; the union bottom-k is a distributed TakeOrdered(64), never a
    global window."""
    from ..functions.hashing import portable_hash64

    e = table_scan(spark, sf_dir, "events")
    M = 1152921504606846976  # 2^60: md5-prefix hash range
    K = 128
    h = e.select(
        "event_type", portable_hash64(F.col("user_id")).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    per = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hashes"),
            F.max(F.when(F.col("rn") == K, F.col("hv"))).alias("kth"),
        )
    )
    uh = h.select("hv").distinct().orderBy("hv").limit(K)
    uper = uh.agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("hv").alias("kth"),
    ).select(
        F.lit("__union__").alias("event_type"),
        "n_hashes",
        # kth is only meaningful when the pool filled all K slots
        F.when(F.col("n_hashes") == K, F.col("kth")).alias("kth"),
    )
    ex = (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .unionByName(
            e.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
                F.lit("__union__").alias("event_type"), "exact_distinct"
            )
        )
    )
    s = per.unionByName(uper).join(ex, "event_type")
    return s.selectExpr(
        "event_type AS scope",
        f"CAST(CASE WHEN n_hashes < {K} THEN n_hashes"
        f"          ELSE (CAST({K - 1} AS DECIMAL(38,0)) * {M}) div kth"
        "      END AS BIGINT) AS est_distinct",
        "exact_distinct",
    ).selectExpr(
        "scope",
        "est_distinct",
        "exact_distinct",
        "ABS(est_distinct - exact_distinct) * 4 <= exact_distinct"
        " AS within_bound",
    )


@register(
    "events_interarrival_cv",
    """
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ),
    g AS (
      SELECT user_id,
             (us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
               // 1000000 AS gap_s
      FROM t
    ),
    m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(gap_s) AS BIGINT) AS sg,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
      FROM g WHERE gap_s IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) >= 2
    )
    SELECT user_id, n AS n_gaps,
           CAST(CASE WHEN sg = 0 THEN NULL
                ELSE (CAST(n AS HUGEINT) * sgg - CAST(sg AS HUGEINT) * sg)
                     * n * 1000000
                     // ((CAST(n AS HUGEINT) - 1) * sg * sg)
           END AS BIGINT) AS cv2_ppm
    FROM m
    """,
)
def q_events_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival coefficient of variation per user — the POINT-PROCESS
    burstiness measure (CV² ≈ 1 ⇒ Poisson arrivals, ≫1 ⇒ bursty sessions,
    ≪1 ⇒ metronomic), complementing the count-based Fano factor: gaps in
    whole seconds from one per-user LAG window, then CV² = var/mean² as
    the exact rational (nΣg²−(Σg)²)·n / ((n−1)(Σg)²) floored to ppm in
    HUGEINT/DECIMAL(38). Total-ordered (ts, event_id) so ties can't
    reorder gaps; users with <2 gaps or zero total gap are dropped/NULL
    identically on both engines."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = e.select(
        "user_id",
        F.expr("(us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id))"
               " div 1000000").alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    m = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").alias("sg"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
        )
        .filter(F.col("n") >= 2)
    )
    return m.selectExpr(
        "user_id",
        "n AS n_gaps",
        # single combined divisor: Spark's div yields BIGINT, so a nested
        # div would overflow on the ~1e19 intermediate; floor(floor(X/a)/b)
        # == floor(X/(ab)) for positive ints, so one division is exact AND
        # keeps every value inside DECIMAL(38)/int64
        "CAST(CASE WHEN sg = 0 THEN NULL"
        "     ELSE (CAST(n AS DECIMAL(38,0)) * sgg - CAST(sg AS DECIMAL(38,0)) * sg)"
        "          * n * 1000000"
        "          div ((CAST(n AS DECIMAL(38,0)) - 1) * sg * sg)"
        " END AS BIGINT) AS cv2_ppm",
    )


@register(
    "events_linear_interpolate",
    """
    WITH act AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM act
      GROUP BY user_id
    ),
    spine AS (
      SELECT b.user_id, CAST(b.lo + CAST(g.i AS INT) AS DATE) AS day
      FROM bounds b, UNNEST(range(CAST(date_diff('day', b.lo, b.hi)
                                       AS BIGINT) + 1)) AS g(i)
    ),
    j AS (
      SELECT s.user_id, s.day, a.v,
             a.v IS NOT NULL AS observed
      FROM spine s LEFT JOIN act a
        ON a.user_id = s.user_id AND a.day = s.day
    ),
    f AS (
      SELECT user_id, day, v, observed,
             LAST_VALUE(CASE WHEN observed THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d0,
             LAST_VALUE(CASE WHEN observed THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             FIRST_VALUE(CASE WHEN observed THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d1,
             FIRST_VALUE(CASE WHEN observed THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
      FROM j
    )
    SELECT user_id, day, observed,
           CAST(CASE WHEN observed THEN v * 1000
                WHEN d0 = d1 THEN v0 * 1000
                ELSE (v0 * CAST(date_diff('day', day, d1) AS BIGINT)
                      + v1 * CAST(date_diff('day', d0, day) AS BIGINT)) * 1000
                     // CAST(date_diff('day', d0, d1) AS BIGINT)
           END AS BIGINT) AS value_permille
    FROM f
    """,
)
def q_events_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation onto a dense per-user daily spine — the
    resampling upgrade over LOCF (events_locf_impute carries the LAST
    value forward; this draws the line between the bracketing
    observations): spine from a bounded sequence() explode per user,
    bracketing points via the two IGNORE NULLS window idioms (last
    observed ≤ t, first observed ≥ t), then the lerp
    (v0·(d1−t) + v1·(t−d0)) / (d1−d0) in exact floored per-mille integers
    — both engines replay the identical rational. Interior gaps only by
    construction (the spine spans first..last active day), so no edge
    NULLs; all windows partition by user."""
    e = table_scan(spark, sf_dir, "events")
    act = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("v"))
    bounds = act.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "user_id", F.explode(F.expr("sequence(lo, hi)")).alias("day")
    )
    j = spine.join(act, ["user_id", "day"], "left").select(
        "user_id", "day", "v", F.col("v").isNotNull().alias("observed")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("observed"), F.col("day"))
    obs_v = F.when(F.col("observed"), F.col("v"))
    f = j.select(
        "user_id",
        "day",
        "v",
        "observed",
        F.last(obs_day, ignorenulls=True).over(wb).alias("d0"),
        F.last(obs_v, ignorenulls=True).over(wb).alias("v0"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("d1"),
        F.first(obs_v, ignorenulls=True).over(wf).alias("v1"),
    )
    return f.selectExpr(
        "user_id",
        "day",
        "observed",
        "CAST(CASE WHEN observed THEN v * 1000"
        "     WHEN d0 = d1 THEN v0 * 1000"
        "     ELSE (v0 * CAST(datediff(d1, day) AS BIGINT)"
        "           + v1 * CAST(datediff(day, d0) AS BIGINT)) * 1000"
        "          div CAST(datediff(d1, d0) AS BIGINT)"
        " END AS BIGINT) AS value_permille",
    )


@register(
    "events_dow_hour_heatmap",
    """
    WITH g AS (
      SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM g)
    SELECT g.dow, g.hr, g.n_events,
           CAST(g.n_events * 1000000 // t.total AS BIGINT) AS share_ppm
    FROM g CROSS JOIN t
    """,
)
def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap — the traffic-shape table every
    capacity plan and anomaly baseline starts from: counts and exact ppm
    share per (dow, hour) cell (≤168 rows at any scale). One partial-agg
    pass + a scalar total broadcast. DuckDB dayofweek == Spark
    dayofweek−1, aligned on the 0–6 convention as elsewhere."""
    e = table_scan(spark, sf_dir, "events")
    g = e.groupBy(
        (F.dayofweek(F.col("ts").cast("date")) - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    t = g.agg(F.sum("n_events").alias("total"))
    return g.crossJoin(F.broadcast(t)).selectExpr(
        "dow", "hr", "n_events", "(n_events * 1000000) div total AS share_ppm"
    )


@register(
    "events_welch_ttest_value",
    """
    WITH b AS (
      SELECT event_type, user_id % 2 AS variant,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (variant = 0) AS BIGINT) AS n0,
             CAST(COUNT(*) FILTER (variant = 1) AS BIGINT) AS n1,
             CAST(SUM(c) FILTER (variant = 0) AS HUGEINT) AS t0,
             CAST(SUM(c) FILTER (variant = 1) AS HUGEINT) AS t1,
             CAST(SUM(CAST(c AS HUGEINT) * c) FILTER (variant = 0)
                  AS HUGEINT) AS q0,
             CAST(SUM(CAST(c AS HUGEINT) * c) FILTER (variant = 1)
                  AS HUGEINT) AS q1
      FROM b GROUP BY event_type
    )
    SELECT event_type, n0, n1,
           CAST(t0 * n1 - t1 * n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
             AS mean_diff_cents,
           CASE WHEN n0 < 2 OR n1 < 2 THEN NULL ELSE
             (CAST(t0 * n1 - t1 * n0 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1))
             / sqrt(CAST(n0 * q0 - t0 * t0 AS DOUBLE)
                      / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1))
                    + CAST(n1 * q1 - t1 * t1 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)))
           END AS t_stat,
           CASE WHEN n0 < 2 OR n1 < 2 THEN NULL ELSE
             (CAST(n0 * q0 - t0 * t0 AS DOUBLE)
                / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1))
              + CAST(n1 * q1 - t1 * t1 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)))
             * (CAST(n0 * q0 - t0 * t0 AS DOUBLE)
                  / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1))
                + CAST(n1 * q1 - t1 * t1 AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)))
             / ((CAST(n0 * q0 - t0 * t0 AS DOUBLE)
                   / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1)))
                * (CAST(n0 * q0 - t0 * t0 AS DOUBLE)
                   / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1))) / (n0 - 1)
                + (CAST(n1 * q1 - t1 * t1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)))
                * (CAST(n1 * q1 - t1 * t1 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1))) / (n1 - 1))
           END AS welch_dof
    FROM s
    """,
)
def q_events_welch_ttest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on event value between the two
    hash-split variants (user_id % 2 — the same deterministic split as
    events_ab_proportion_test, which tests RATES; this tests MEANS), per
    event type. One partial-agg pass collects exact integer-cents sums and
    sum-of-squares per (type, variant); the mean difference rides the
    exact cross-multiplied form (t0·n1 − t1·n0)/(n0·n1), the per-variant
    standard errors use the exact n·Σx²−(Σx)² variance numerators, and
    only the final t / Welch-Satterthwaite dof arithmetic runs in double
    (identical expression both engines). Mergeable state per group is six
    integers — the canonical scale-out shape."""
    b = table_scan(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).alias("variant"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("c"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v0 = F.col("variant") == 0
    v1 = F.col("variant") == 1
    s = b.groupBy("event_type").agg(
        F.count(F.when(v0, 1)).alias("n0"),
        F.count(F.when(v1, 1)).alias("n1"),
        F.sum(F.when(v0, F.col("c"))).cast("decimal(38,0)").alias("t0"),
        F.sum(F.when(v1, F.col("c"))).cast("decimal(38,0)").alias("t1"),
        F.sum(F.when(v0, dec(F.col("c")) * F.col("c")))
        .cast("decimal(38,0)")
        .alias("q0"),
        F.sum(F.when(v1, dec(F.col("c")) * F.col("c")))
        .cast("decimal(38,0)")
        .alias("q1"),
    )
    n0, n1 = F.col("n0"), F.col("n1")
    t0, t1, q0, q1 = (F.col(c) for c in ("t0", "t1", "q0", "q1"))
    mean_diff = (t0 * n1 - t1 * n0).cast("double") / (
        n0.cast("double") * n1
    )
    se0 = (n0 * q0 - t0 * t0).cast("double") / (
        n0.cast("double") * n0 * (n0 - 1)
    )
    se1 = (n1 * q1 - t1 * t1).cast("double") / (
        n1.cast("double") * n1 * (n1 - 1)
    )
    small = (n0 < 2) | (n1 < 2)
    t_stat = F.when(small, F.lit(None).cast("double")).otherwise(
        mean_diff / F.sqrt(se0 + se1)
    )
    dof = F.when(small, F.lit(None).cast("double")).otherwise(
        (se0 + se1) * (se0 + se1) / (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1))
    )
    return s.select(
        "event_type",
        "n0",
        "n1",
        mean_diff.alias("mean_diff_cents"),
        t_stat.alias("t_stat"),
        dof.alias("welch_dof"),
    )


@register(
    "events_prev_purchase_ignore_nulls",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             END AS purchase_cents
      FROM events
    )
    SELECT event_id, user_id,
           LAST_VALUE(purchase_cents IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_purchase_cents
    FROM e
    """,
)
def q_events_prev_purchase_ignore_nulls(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IGNORE NULLS frame navigation — the window-surface idiom behind
    every "value as of the last qualifying event" feature (here: the most
    recent purchase amount strictly before each event, any type): project
    the qualifying measure to NULL elsewhere, then
    LAST_VALUE(... IGNORE NULLS) over a trailing frame ending at
    1 PRECEDING. One pass, no self-join, no sessionization — the
    skip-nulls flag does the work a correlated subquery would at 100×
    the cost. Differs from events_locf_impute (which fills a TIME SPINE
    grid); this navigates the raw event sequence. Windows partition by
    user — fully parallel; (ts, event_id) makes frames tie-stable."""
    e = table_scan(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
        ).alias("purchase_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last("purchase_cents", ignorenulls=True)
        .over(w)
        .alias("prev_purchase_cents"),
    )


@register(
    "events_peak_concurrent_sessions",
    """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sid AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s
      FROM e
    ),
    sess AS (
      SELECT user_id, s, MIN(ts) AS start_ts,
             MAX(ts) + INTERVAL 1 SECOND AS end_ts
      FROM sid GROUP BY user_id, s
    ),
    deltas AS (
      SELECT start_ts AS ts, 1 AS delta FROM sess
      UNION ALL
      SELECT end_ts, -1 FROM sess
    ),
    run AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(delta) OVER (ORDER BY ts, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS running
      FROM deltas
    )
    SELECT day, CAST(MAX(running) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
)
def q_events_peak_concurrent_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number,
    computed by the boundary-sweep: each 30-min-gap session emits
    (+1 at start, −1 at exclusive end), and concurrency is the running
    sum over boundaries ordered by (ts, delta) (ends before starts at the
    same instant, so back-to-back sessions never double-count). The
    GLOBAL running sum is the scale problem, and it runs here as the
    TWO-PHASE PREFIX SUM: boundaries bin by calendar day; per-day delta
    totals become day offsets through a window over the ≤|days|-row day
    table; within-day running sums partition by day. Per-day peaks are
    then a plain groupBy max — identical to the oracle's single global
    window because a prefix sum telescopes across the day cut. Session
    construction is the gaps-and-islands window, partitioned by user."""
    ev = table_scan(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_ts = F.lag("ts").over(wu)
    # full-precision gap test: ts − lag(ts) is a day-time interval, so a
    # 30:00.5 gap IS > 30 minutes (a seconds-truncating cast would miss it)
    sid = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            lag_ts.isNull()
            | ((F.col("ts") - lag_ts) > F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    ).select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s"),
    )
    sess = sid.groupBy("user_id", "s").agg(
        F.min("ts").alias("start_ts"),
        (F.max("ts") + F.expr("INTERVAL 1 SECOND")).alias("end_ts"),
    )
    deltas = sess.select(
        F.col("start_ts").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(sess.select(F.col("end_ts").alias("ts"), F.lit(-1).alias("delta")))
    binned = deltas.select(F.col("ts").cast("date").alias("day"), "ts", "delta")
    offs = (
        binned.groupBy("day")
        .agg(F.sum("delta").alias("dsum"))
        .select(
            "day",
            (F.sum("dsum").over(Window.orderBy("day")) - F.col("dsum")).alias(
                "off"
            ),
        )
    )
    wday = (
        Window.partitionBy("day")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = binned.join(F.broadcast(offs), "day").select(
        "day", (F.col("off") + F.sum("delta").over(wday)).alias("running")
    )
    return run.groupBy("day").agg(F.max("running").alias("peak_concurrent"))


@register(
    "events_dow_hour_median_polish",
    """
    WITH grid AS (
      SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    r1 AS (
      SELECT dow, MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS re1
      FROM (SELECT dow, x,
                   ROW_NUMBER() OVER (PARTITION BY dow ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY dow) AS n
            FROM grid)
      GROUP BY dow
    ),
    g1 AS (SELECT g.dow, g.hr, g.x - re1 AS x, re1
           FROM grid g JOIN r1 USING (dow)),
    c1 AS (
      SELECT hr, MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS ce1
      FROM (SELECT hr, x,
                   ROW_NUMBER() OVER (PARTITION BY hr ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY hr) AS n
            FROM g1)
      GROUP BY hr
    ),
    g2 AS (SELECT g.dow, g.hr, g.x - ce1 AS x, re1, ce1
           FROM g1 g JOIN c1 USING (hr)),
    r2 AS (
      SELECT dow, MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS re2
      FROM (SELECT dow, x,
                   ROW_NUMBER() OVER (PARTITION BY dow ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY dow) AS n
            FROM g2)
      GROUP BY dow
    ),
    g3 AS (SELECT g.dow, g.hr, g.x - re2 AS x, re1 + re2 AS re, ce1
           FROM g2 g JOIN r2 USING (dow)),
    c2 AS (
      SELECT hr, MAX(CASE WHEN rn = (n + 1) // 2 THEN x END) AS ce2
      FROM (SELECT hr, x,
                   ROW_NUMBER() OVER (PARTITION BY hr ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY hr) AS n
            FROM g3)
      GROUP BY hr
    )
    SELECT g.dow, g.hr, CAST(re AS BIGINT) AS row_effect,
           CAST(ce1 + ce2 AS BIGINT) AS col_effect,
           CAST(g.x - ce2 AS BIGINT) AS residual
    FROM g3 g JOIN c2 USING (hr)
    """,
)
def q_events_dow_hour_median_polish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey median polish of the day-of-week × hour traffic grid — the
    ROBUST two-way decomposition (count ≈ row effect + column effect +
    residual) that a mean-based ANOVA decomposition can't give you when
    single cells spike: two alternating sweeps subtract row then column
    LOWER MEDIANS (exact order statistics of integers — every effect and
    residual stays an exact integer, so cross-engine parity is bitwise).
    Each median is a rank selection inside a window PARTITIONED by the
    7-row/24-row axis of the 168-cell grid; the only data-sized stage is
    the one grouped count. Large |residual| cells are the genuinely
    anomalous (dow, hour) combinations after seasonality is removed —
    the robust upgrade of events_dow_hour_heatmap's raw shares."""
    grid = (
        table_scan(spark, sf_dir, "events")
        .groupBy(
            (F.dayofweek(F.col("ts").cast("date")) - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .transform(cached)
    )

    def group_median(df: DataFrame, part: str, val: str, out: str) -> DataFrame:
        wr = Window.partitionBy(part).orderBy(val)
        wn = Window.partitionBy(part)
        return (
            df.select(part, val)
            .withColumn("rn", F.row_number().over(wr))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(F.col(part), F.col(val).alias(out))
        )

    r1 = group_median(grid, "dow", "x", "re1")
    g1 = grid.join(F.broadcast(r1), "dow").select(
        "dow", "hr", (F.col("x") - F.col("re1")).alias("x"), "re1"
    )
    c1 = group_median(g1, "hr", "x", "ce1")
    g2 = g1.join(F.broadcast(c1), "hr").select(
        "dow", "hr", (F.col("x") - F.col("ce1")).alias("x"), "re1", "ce1"
    )
    r2 = group_median(g2, "dow", "x", "re2")
    g3 = g2.join(F.broadcast(r2), "dow").select(
        "dow",
        "hr",
        (F.col("x") - F.col("re2")).alias("x"),
        (F.col("re1") + F.col("re2")).alias("re"),
        "ce1",
    )
    c2 = group_median(g3, "hr", "x", "ce2")
    return g3.join(F.broadcast(c2), "hr").select(
        "dow",
        "hr",
        F.col("re").cast("long").alias("row_effect"),
        (F.col("ce1") + F.col("ce2")).cast("long").alias("col_effect"),
        (F.col("x") - F.col("ce2")).cast("long").alias("residual"),
    )


@register(
    "events_mcnemar_paired_conversion",
    """
    WITH bounds AS (
      SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                       AND epoch_us(ts) * 2 < lo + hi
                       THEN 1 ELSE 0 END) AS INT) AS p1,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                       AND epoch_us(ts) * 2 >= lo + hi
                       THEN 1 ELSE 0 END) AS INT) AS p2
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM per_user
    )
    SELECT a, b, c, d,
           CASE WHEN b + c = 0 THEN NULL
                ELSE CAST((1000000 * (b - c) * (b - c)) // (b + c)
                          AS BIGINT) END AS chi2_ppm,
           CASE WHEN b + c = 0 THEN NULL
                ELSE CAST((1000000 * GREATEST(ABS(b - c) - 1, 0)
                           * GREATEST(ABS(b - c) - 1, 0)) // (b + c)
                          AS BIGINT) END AS chi2_cc_ppm
    FROM cells
    """,
)
def q_events_mcnemar_paired_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes — did per-user purchase
    conversion CHANGE between the first and second half of the observation
    window? Unlike the two-proportion z-test (events_ab_proportion_test,
    which assumes independent samples), McNemar conditions on each user
    being their own control: only the discordant pairs b (converted →
    lapsed) and c (lapsed → converted) carry information, and
    χ² = (b−c)²/(b+c) with the continuity-corrected (|b−c|−1)²/(b+c)
    variant. The period midpoint derives from the data (integer-microsecond
    cross-multiply 2·ts < lo+hi — no float division), both halves resolve
    in ONE grouped pass over events (two conditional MAX flags per user),
    and the 2×2 concordance cells fold to a single row. Exact integers
    end-to-end; the ppm statistics are integer floors, so cross-engine
    parity is bitwise. b+c = 0 (no discordant users) guards to NULL."""
    ev = table_scan(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_type",
    )
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") * 2 < F.col("lo") + F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("p1"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") * 2 >= F.col("lo") + F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("p2"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("p1") == 1) & (F.col("p2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("p1") == 0) & (F.col("p2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    diff = F.col("b") - F.col("c")
    tot = F.col("b") + F.col("c")
    cc = F.greatest(F.abs(diff) - 1, F.lit(0))
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.when(tot == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(1000000 * (b - c) * (b - c)) div (b + c)"))
        .alias("chi2_ppm"),
        F.when(tot == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "(1000000 * GREATEST(ABS(b - c) - 1, 0)"
                " * GREATEST(ABS(b - c) - 1, 0)) div (b + c)"
            )
        )
        .alias("chi2_cc_ppm"),
    )


@register(
    "events_cohens_kappa_agreement",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS val
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nu,
             CAST(CAST(SUM(cnt) AS HUGEINT) AS BIGINT) AS tc,
             CAST(CAST(SUM(val) AS HUGEINT) AS BIGINT) AS tv
      FROM per_user
    ),
    rated AS (
      SELECT CASE WHEN cnt * nu >= tc THEN 1 ELSE 0 END AS r1,
             CASE WHEN val * nu >= tv THEN 1 ELSE 0 END AS r2
      FROM per_user CROSS JOIN tot
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM rated
    )
    SELECT a, b, c, d,
           CASE WHEN ((a + b + c + d) * (a + b + c + d)
                      - ((a + b) * (a + c) + (c + d) * (b + d))) = 0
                THEN NULL
                ELSE CAST(
                  CASE WHEN ((a + b + c + d) * (a + d)
                             - ((a + b) * (a + c) + (c + d) * (b + d))) >= 0
                       THEN 1 ELSE -1 END
                  * ((1000000 * ABS(CAST(a + b + c + d AS HUGEINT) * (a + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d))))
                     // (CAST(a + b + c + d AS HUGEINT) * (a + b + c + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d))))
                  AS BIGINT) END AS kappa_ppm
    FROM cells
    """,
)
def q_events_cohens_kappa_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two independent
    binary labelers of the same users: rater 1 calls a user "heavy" by
    EVENT COUNT ≥ mean, rater 2 by TOTAL SPEND ≥ mean (both thresholds
    derived from the data via integer cross-multiplication cnt·N ≥ Σcnt —
    no float division anywhere). Raw agreement (a+d)/N is inflated
    whenever both raters mostly say "light"; κ = (p_o − p_e)/(1 − p_e)
    subtracts the agreement expected from the marginals alone — the
    standard metric for validating a cheap heuristic labeler against an
    expensive one before trusting it to filter a 100 TB corpus. One
    grouped pass builds per-user aggregates, one broadcast scalar join
    applies both thresholds, and the 2×2 cells fold to a single row; κ is
    emitted as an exact sign-split integer-ppm floor (DECIMAL(38)/HUGEINT
    intermediates — N² · 10⁶ passes int64 beyond ~3M users), so
    cross-engine parity is bitwise."""
    per_user = (
        table_scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long")
            ).alias("val"),
        )
    )
    tot = per_user.agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("cnt").alias("tc"),
        F.sum("val").alias("tv"),
    )
    rated = per_user.crossJoin(F.broadcast(tot)).select(
        F.when(F.col("cnt") * F.col("nu") >= F.col("tc"), 1)
        .otherwise(0)
        .alias("r1"),
        F.when(F.col("val") * F.col("nu") >= F.col("tv"), 1)
        .otherwise(0)
        .alias("r2"),
    )
    cells = rated.agg(
        F.sum(F.when((F.col("r1") == 1) & (F.col("r2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("r1") == 1) & (F.col("r2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("r1") == 0) & (F.col("r2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("r1") == 0) & (F.col("r2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    n_dec = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast(
        "decimal(38,0)"
    )
    pe_num = (F.col("a") + F.col("b")) * (F.col("a") + F.col("c")) + (
        F.col("c") + F.col("d")
    ) * (F.col("b") + F.col("d"))
    num = n_dec * (F.col("a") + F.col("d")) - pe_num
    den = n_dec * (F.col("a") + F.col("b") + F.col("c") + F.col("d")) - pe_num
    # div (not /) keeps the quotient integral on both engines; sign-split
    # so truncation == floor on the positive operand
    kappa = F.when(den == 0, F.lit(None).cast("long")).otherwise(
        (
            F.when(num >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * ABS(_num)) div _den"
            )
        ).cast("long")
    )
    return cells.select(
        "a", "b", "c", "d", num.alias("_num"), den.alias("_den")
    ).select("a", "b", "c", "d", kappa.alias("kappa_ppm"))


@register(
    "events_capture_recapture_distinct",
    """
    WITH bounds AS (
      SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN epoch_us(ts) * 3 < 2 * lo + hi
                      THEN 1 ELSE 0 END) AS INT) AS in1,
             CAST(MAX(CASE WHEN epoch_us(ts) * 3 >= lo + 2 * hi
                      THEN 1 ELSE 0 END) AS INT) AS in2
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    counts AS (
      SELECT CAST(SUM(in1) AS BIGINT) AS n1,
             CAST(SUM(in2) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS true_distinct
      FROM per_user
    )
    SELECT n1, n2, m, true_distinct,
           CASE WHEN m = 0 THEN NULL
                ELSE CAST((n1 * n2) // m AS BIGINT) END AS lincoln_petersen,
           CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman
    FROM counts
    """,
)
def q_events_capture_recapture_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capture–recapture (mark–recapture) population estimation — infer
    TOTAL distinct users from two partial observation windows: the classic
    ecology estimator applied to the data-engineering question "how many
    users does the full period have, given I only logged the first and
    last third?" Sample 1 = users seen in the first third, sample 2 = the
    last third (window cuts by integer-microsecond cross-multiply — no
    float division); under independence N̂_LP = n₁n₂/m and the
    bias-corrected Chapman estimator (n₁+1)(n₂+1)/(m+1) − 1, which stays
    defined at m = 0. Both land next to the TRUE distinct count in the
    same row — the estimator-vs-truth audit a sampling-based pipeline
    runs before trusting extrapolation. One grouped pass builds per-user
    presence flags; the fold is a single row; every value is an exact
    integer floor, so cross-engine parity is bitwise."""
    ev = table_scan(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    bounds = ev.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    F.col("us") * 3 < 2 * F.col("lo") + F.col("hi"), 1
                ).otherwise(0)
            ).alias("in1"),
            F.max(
                F.when(
                    F.col("us") * 3 >= F.col("lo") + 2 * F.col("hi"), 1
                ).otherwise(0)
            ).alias("in2"),
        )
    )
    counts = per_user.agg(
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.when((F.col("in1") == 1) & (F.col("in2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.count(F.lit(1)).cast("long").alias("true_distinct"),
    )
    return counts.select(
        "n1",
        "n2",
        "m",
        "true_distinct",
        F.when(F.col("m") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("(n1 * n2) div m"))
        .alias("lincoln_petersen"),
        F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1")
        .cast("long")
        .alias("chapman"),
    )


@register(
    "events_cem_att_matching",
    """
    WITH raw AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS err,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(CAST(SUM(err) AS HUGEINT) AS BIGINT) AS tot_err,
             CAST(CAST(SUM(n) AS HUGEINT) AS BIGINT) AS tot_n
      FROM raw
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN err * tot_n > n * tot_err THEN 1 ELSE 0 END AS t,
             y, n
      FROM raw CROSS JOIN tot
    ),
    strata AS (
      SELECT CAST(length(bin(n)) - 1 AS INT) AS band,
             CAST(SUM(t) AS BIGINT) AS t_n,
             CAST(SUM(1 - t) AS BIGINT) AS c_n,
             CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
             CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
      FROM per_user GROUP BY 1
    ),
    matched AS (SELECT * FROM strata WHERE t_n > 0 AND c_n > 0),
    folded AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_matched,
             CAST(CAST(SUM(t_n) AS HUGEINT) AS BIGINT) AS n_treated,
             CAST(CAST(SUM(c_n) AS HUGEINT) AS BIGINT) AS n_control,
             CAST(CAST(SUM(t_n * ((1000000 * yt) // t_n
                                  - (1000000 * yc) // c_n))
                  AS HUGEINT) AS BIGINT) AS num
      FROM matched
    )
    SELECT n_strata_matched, n_treated, n_control,
           CASE WHEN n_treated = 0 THEN NULL
                ELSE CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END
                          * (ABS(num) // n_treated) AS BIGINT)
                END AS att_ppm_cents
    FROM folded
    """,
)
def q_events_cem_att_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened Exact Matching ATT — the causal-inference estimator that
    needs no model fit: does an ABOVE-AVERAGE error RATE change a user's
    purchase spend? (Treatment = err_u·Σn > n_u·Σerr, the strict
    global-rate cross-multiply — integer-exact, and non-degenerate even
    when every user has SOME errors.) Naive treated-vs-control comparison
    confounds with activity (heavy users hit more errors AND buy more), so
    users are
    COARSENED into log2 activity bands (length(bin(n))−1, exact on both
    engines), strata lacking either group are PRUNED (the CEM step that
    buys covariate balance), and the effect is the treated-weighted sum of
    within-stratum mean differences: ATT = Σ_s T_s·(μ̂ᵗ_s − μ̂ᶜ_s) / ΣT_s
    with each stratum mean taken as the integer floor (10⁶·Y)/N — the
    whole estimator is exact integer arithmetic (sign-split final
    division), so cross-engine parity is bitwise. One grouped pass builds
    per-user (treated, outcome, activity); the strata fold is
    O(log n)-row bounded. The same shape handles any
    observational treated/control split at 100 TB — the stratum table,
    not the user table, is what crosses stages."""
    raw = (
        table_scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("err"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("value").cast("decimal(18,2)") * 100).cast("long"),
                ).otherwise(0)
            ).alias("y"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    tot = raw.agg(
        F.sum("err").alias("tot_err"), F.sum("n").alias("tot_n")
    )
    per_user = raw.crossJoin(F.broadcast(tot)).select(
        "user_id",
        F.when(
            F.col("err") * F.col("tot_n") > F.col("n") * F.col("tot_err"), 1
        )
        .otherwise(0)
        .alias("t"),
        "y",
        "n",
    )
    strata = per_user.groupBy(
        (F.length(F.bin("n")) - 1).cast("int").alias("band")
    ).agg(
        F.sum("t").alias("t_n"),
        F.sum(1 - F.col("t")).alias("c_n"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias("yt"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias("yc"),
    )
    matched = strata.filter((F.col("t_n") > 0) & (F.col("c_n") > 0))
    folded = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata_matched"),
        F.sum("t_n").cast("long").alias("n_treated"),
        F.sum("c_n").cast("long").alias("n_control"),
        F.sum(
            F.col("t_n")
            * (
                F.expr("(1000000 * yt) div t_n")
                - F.expr("(1000000 * yc) div c_n")
            )
        )
        .cast("long")
        .alias("num"),
    )
    att = F.when(F.col("n_treated") == 0, F.lit(None).cast("long")).otherwise(
        (
            F.when(F.col("num") >= 0, F.lit(1)).otherwise(F.lit(-1))
            * F.expr("ABS(num) div n_treated")
        ).cast("long")
    )
    return folded.select(
        "n_strata_matched", "n_treated", "n_control", att.alias("att_ppm_cents")
    )


@register(
    "events_gaps_and_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    marked AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER
               (PARTITION BY user_id ORDER BY day) AS INT) AS island_key
      FROM days
    ),
    islands AS (
      SELECT user_id, island_key,
             CAST(COUNT(*) AS BIGINT) AS len_days,
             MIN(day) AS start_day
      FROM marked GROUP BY user_id, island_key
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len_days) AS BIGINT) AS active_days,
           CAST(MAX(len_days) AS BIGINT) AS longest_streak,
           MIN(start_day) AS first_day
    FROM islands GROUP BY user_id
    """,
)
def q_events_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — the canonical SQL pattern for contiguous-run
    analysis (activity streaks, sensor uptime, SLA windows): consecutive
    active days collapse to one island because day − row_number(day) is
    constant within a run and unique across runs (the date-minus-rank
    trick). Per user it reports streak count, total active days, the
    longest streak, and the first active day — the engagement summary a
    retention team feeds into churn features. All windows and groups are
    PARTITIONED by user (no global ordering anywhere), so the pattern
    scales as one shuffle on user_id regardless of corpus size; the
    distinct-day projection partial-aggregates before the shuffle."""
    days = (
        table_scan(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    marked = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("island_key"),
    )
    islands = marked.groupBy("user_id", "island_key").agg(
        F.count(F.lit(1)).cast("long").alias("len_days"),
        F.min("day").alias("start_day"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("len_days").cast("long").alias("active_days"),
        F.max("len_days").cast("long").alias("longest_streak"),
        F.min("start_day").alias("first_day"),
    )


@register(
    "events_conversion_latency_quartiles",
    """
    WITH pairs AS (
      SELECT v.user_id,
             CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lat_s
      FROM (SELECT user_id, MIN(ts) AS ts FROM events
            WHERE event_type = 'view' GROUP BY user_id) v
      JOIN (SELECT user_id, MIN(ts) AS ts FROM events
            WHERE event_type = 'purchase' GROUP BY user_id) p
        ON v.user_id = p.user_id
      WHERE p.ts >= v.ts
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
    r AS (SELECT lat_s, ROW_NUMBER() OVER (ORDER BY lat_s) AS rn FROM pairs)
    SELECT MAX(n.n) AS n_converting_users,
           CAST(MAX(CASE WHEN rn = (1*n + 3) // 4 THEN lat_s END) AS BIGINT)
             AS q1_latency_s,
           CAST(MAX(CASE WHEN rn = (2*n + 3) // 4 THEN lat_s END) AS BIGINT)
             AS median_latency_s,
           CAST(MAX(CASE WHEN rn = (3*n + 3) // 4 THEN lat_s END) AS BIGINT)
             AS q3_latency_s
    FROM r CROSS JOIN n
    """,
)
def q_events_conversion_latency_quartiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-latency quartiles — the funnel-timing number product
    teams quote ("median time from first view to first purchase"):
    per-user first-view → first-purchase latency in whole seconds (users
    whose first purchase precedes their first view never entered the
    funnel and are excluded), then EXACT quartiles via the distributed
    rank-selection kernel (_exact_rank_cutoffs) — the same no-global-sort
    path as the *_scaled quantile twins, so no latency row ever crosses a
    single-partition window while the values stay exact order statistics
    (not approx-percentile sketches). Data-sized work: two filtered
    per-user min-aggregates and one join on user_id."""
    ev = table_scan(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    pairs = (
        v.join(p, "user_id")
        .filter(F.col("pts") >= F.col("vts"))
        .select(
            (F.unix_timestamp("pts") - F.unix_timestamp("vts")).alias(
                "lat_s"
            )
        )
    )
    cuts = _exact_rank_cutoffs(
        pairs.select(F.col("lat_s").alias("v")),
        ["(1*n + 3) div 4", "(2*n + 3) div 4", "(3*n + 3) div 4"],
    )
    n = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_converting_users"))
    return n.crossJoin(F.broadcast(cuts)).select(
        "n_converting_users",
        F.col("c1").cast("long").alias("q1_latency_s"),
        F.col("c2").cast("long").alias("median_latency_s"),
        F.col("c3").cast("long").alias("q3_latency_s"),
    )


@register(
    "events_bot_flag_heuristics",
    """
    WITH e AS (
      SELECT user_id, event_type,
             date_trunc('minute', ts) AS minute,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      FROM events
    ),
    per_min AS (
      SELECT user_id, minute, CAST(COUNT(*) AS BIGINT) AS n_min
      FROM e GROUP BY user_id, minute
    ),
    rep AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(DISTINCT (event_type, minute, vc))
                  AS BIGINT) AS n_dup
      FROM e GROUP BY user_id
    ),
    peak AS (
      SELECT user_id, CAST(MAX(n_min) AS BIGINT) AS peak_minute_rate
      FROM per_min GROUP BY user_id
    )
    SELECT r.user_id, r.n_rows, p.peak_minute_rate,
           CAST((1000 * r.n_dup) // r.n_rows AS BIGINT) AS dup_permille,
           (p.peak_minute_rate >= 5
            OR (1000 * r.n_dup) // r.n_rows >= 300) AS bot_suspect
    FROM rep r JOIN peak p ON r.user_id = p.user_id
    WHERE p.peak_minute_rate >= 5
       OR (1000 * r.n_dup) // r.n_rows >= 300
    """,
)
def q_events_bot_flag_heuristics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bot/automation triage — the traffic-quality filter that runs BEFORE
    any engagement metric is trusted: flag users whose behavior is
    mechanically regular on two exact integer signals — a burst rate of
    ≥5 events inside one wall-clock minute (peak_minute_rate, humans
    paginate slower) and a ≥30 % ratio of exactly-repeated
    (type, minute, value-cents) rows (replay/double-fire signature). Both
    signals are grouped aggregates on user_id — one shuffle, partial-agg
    combinable, no windows — so the triage costs the same as a user count
    at any event volume. Flagged users only; the keep-side complement is
    the anti-join. Thresholds are deliberately crude (this is the triage,
    not the verdict) — events_interarrival_cv and events_cusum_drift are
    the finer instruments downstream."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minute"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("vc"),
    )
    per_min = e.groupBy("user_id", "minute").agg(
        F.count(F.lit(1)).alias("n_min")
    )
    rep = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.count(F.lit(1))
            - F.countDistinct("event_type", "minute", "vc")
        )
        .cast("long")
        .alias("n_dup"),
    )
    peak = per_min.groupBy("user_id").agg(
        F.max("n_min").cast("long").alias("peak_minute_rate")
    )
    j = rep.join(peak, "user_id").select(
        "user_id",
        "n_rows",
        "peak_minute_rate",
        F.expr("(1000 * n_dup) div n_rows").cast("long").alias("dup_permille"),
    )
    return j.filter(
        (F.col("peak_minute_rate") >= 5) | (F.col("dup_permille") >= 300)
    ).select(
        "user_id",
        "n_rows",
        "peak_minute_rate",
        "dup_permille",
        (
            (F.col("peak_minute_rate") >= 5) | (F.col("dup_permille") >= 300)
        ).alias("bot_suspect"),
    )


@register(
    "events_hampel_rolling_outliers",
    """
    WITH v AS (
      SELECT event_id, user_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, cents,
             list_sort(list(cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS win
      FROM v
    ),
    m AS (
      SELECT event_id, user_id, cents,
             CAST(len(win) AS BIGINT) AS wsize,
             win[(len(win) + 1) // 2] AS med
      FROM w
    ),
    d AS (
      SELECT m.event_id, m.user_id, m.cents, m.wsize, m.med,
             list_sort(list(abs(w.win_el - m.med)))[(m.wsize + 1) // 2]
               AS mad
      FROM m JOIN (
        SELECT event_id, unnest(win) AS win_el FROM w
      ) w ON m.event_id = w.event_id
      GROUP BY m.event_id, m.user_id, m.cents, m.wsize, m.med
    )
    SELECT event_id, user_id,
           CAST(cents AS BIGINT) AS cents,
           CAST(med AS BIGINT) AS window_median,
           CAST(mad AS BIGINT) AS window_mad
    FROM d
    WHERE wsize >= 5 AND abs(cents - med) > 3 * mad
    """,
)
def q_events_hampel_rolling_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hampel filter — ROLLING robust outlier detection over each user's
    event-value series: a point is flagged when it deviates from its
    7-point (3-before/3-after) window MEDIAN by more than 3× the window
    MAD. The robust rolling complement to events_value_mad_outliers
    (global MAD): a user whose spend level shifts mid-month is NOT flagged
    by a local window, while a single spike inside a stable stretch is —
    exactly why time-series cleaning uses Hampel over global z-scores.
    Exact integer contract: values in rounded cents; median and MAD are
    the LOWER median (element (k+1)÷2 of the sorted window — no midpoint
    averaging, so even-sized edge windows stay integer and cross-engine
    exact); edge windows shorter than 5 are skipped (unreliable MAD).
    Scale shape: user-partitioned windows only — collect the ≤7-element
    frame, sort it, index it, all JVM higher-order functions on both
    engines; no global window, no UDF. DuckDB replays the same frame via
    windowed list() + an unnest/regroup for the MAD (its HOFs can't
    reference an outer column inside a lambda)."""
    v = table_scan(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -3, 3
    )
    arr = v.select(
        "event_id",
        "user_id",
        "cents",
        F.array_sort(F.collect_list("cents").over(w)).alias("win"),
    )
    m = arr.select(
        "event_id",
        "user_id",
        "cents",
        F.size("win").cast("long").alias("wsize"),
        F.expr("win[((size(win) + 1) div 2) - 1]").alias("med"),
        F.col("win"),
    )
    d = m.select(
        "event_id",
        "user_id",
        "cents",
        "wsize",
        "med",
        F.expr(
            "array_sort(transform(win, x -> abs(x - med)))"
            "[((wsize + 1) div 2) - 1]"
        ).alias("mad"),
    )
    return d.filter(
        (F.col("wsize") >= 5)
        & (F.abs(F.col("cents") - F.col("med")) > 3 * F.col("mad"))
    ).select(
        "event_id",
        "user_id",
        "cents",
        F.col("med").cast("long").alias("window_median"),
        F.col("mad").cast("long").alias("window_mad"),
    )


@register(
    "events_logrank_test_heavy_users",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ev,
             MIN(ts) AS first_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n_ev) AS BIGINT) AS n_events
      FROM u
    ),
    obs AS (
      SELECT LEAST(CASE WHEN first_purchase IS NOT NULL
                   THEN date_diff('day', CAST(first_ts AS DATE),
                                  CAST(first_purchase AS DATE))
                   ELSE date_diff('day', CAST(first_ts AS DATE),
                                  CAST(last_ts AS DATE)) END, 30) AS t,
             CASE WHEN first_purchase IS NOT NULL
                   AND date_diff('day', CAST(first_ts AS DATE),
                                 CAST(first_purchase AS DATE)) <= 30
                  THEN 1 ELSE 0 END AS event,
             CASE WHEN u.n_ev * tot.n_users >= tot.n_events
                  THEN 1 ELSE 0 END AS grp
      FROM u CROSS JOIN tot
    ),
    d AS (
      SELECT t, CAST(SUM(event) AS BIGINT) AS d,
             CAST(SUM(event * grp) AS BIGINT) AS d1,
             CAST(COUNT(*) AS BIGINT) AS leaving,
             CAST(SUM(grp) AS BIGINT) AS leaving1
      FROM obs GROUP BY t
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(grp) AS BIGINT) AS n1_total
      FROM obs
    ),
    r AS (
      SELECT d.t, d.d, d.d1,
             CAST(n.n_total - (SUM(d.leaving) OVER w - d.leaving)
               AS BIGINT) AS nt,
             CAST(n.n1_total - (SUM(d.leaving1) OVER w - d.leaving1)
               AS BIGINT) AS n1t
      FROM d CROSS JOIN n
      WINDOW w AS (ORDER BY d.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    terms AS (
      SELECT d1,
             CAST((1000000 * d * n1t) // nt AS BIGINT) AS e1_ppm,
             CAST(CASE WHEN nt > 1
                  THEN (1000000 * d * n1t * (nt - n1t) * (nt - d))
                       // (nt * nt * (nt - 1))
                  ELSE 0 END AS BIGINT) AS v_ppm
      FROM r WHERE d > 0
    ),
    s AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(e1_ppm) AS BIGINT) AS e1_ppm,
             CAST(SUM(v_ppm) AS BIGINT) AS v_ppm
      FROM terms
    )
    SELECT n.n1_total AS n_heavy, n.n_total - n.n1_total AS n_light,
           s.o1, s.e1_ppm, s.v_ppm,
           CAST(CASE WHEN s.v_ppm > 0
                THEN ((1000000 * s.o1 - s.e1_ppm)
                      * (1000000 * s.o1 - s.e1_ppm)) // s.v_ppm
                END AS BIGINT) AS chi2_ppm,
           CASE WHEN s.v_ppm > 0
                THEN ((1000000 * s.o1 - s.e1_ppm)
                      * (1000000 * s.o1 - s.e1_ppm)) // s.v_ppm
                     > 3841459
                END AS significant_95
    FROM s CROSS JOIN n
    """,
)
def q_events_logrank_test_heavy_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-group log-rank test — THE standard comparison of survival
    curves (no logs despite the name: pure counting-process rationals):
    do heavy users (per-user event count ≥ the corpus mean) convert to
    first purchase FASTER than light users? At each death day t the
    group-1 expectation under H₀ is dₜ·n1ₜ/nₜ and the hypergeometric
    variance dₜ·n1ₜ(nₜ−n1ₜ)(nₜ−dₜ)/(nₜ²(nₜ−1)); the statistic
    (O₁−E₁)²/V ~ χ²₁. Same risk-set machinery as
    events_nelson_aalen_hazard (30-day horizon bounds the day table).
    Exact contract: per-day E and V terms are floored ppm, summed in day
    order; χ² is emitted as ppm with the 95 % decision against the exact
    χ²₁(0.95) ppm literal 3841459. BIGINT throughout at these SFs
    (worst intermediate ~10¹⁷); a 10⁹-user deployment swaps the V term
    to DECIMAL(38) — same expressions. Cohort assignment is one
    broadcast scalar compare (n_u·U ≥ N — no division)."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_ts"),
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )
    purchase_days = F.datediff(
        F.col("first_purchase").cast("date"), F.col("first_ts").cast("date")
    )
    raw_t = F.when(
        F.col("first_purchase").isNotNull(), purchase_days
    ).otherwise(
        F.datediff(
            F.col("last_ts").cast("date"), F.col("first_ts").cast("date")
        )
    )
    obs = u.crossJoin(F.broadcast(tot)).select(
        F.least(raw_t, F.lit(30)).alias("t"),
        F.when(
            F.col("first_purchase").isNotNull() & (purchase_days <= 30), 1
        )
        .otherwise(0)
        .alias("event"),
        F.when(
            F.col("n_ev") * F.col("n_users") >= F.col("n_events"), 1
        )
        .otherwise(0)
        .alias("grp"),
    )
    d = obs.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.sum(F.col("event") * F.col("grp")).cast("long").alias("d1"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
        F.sum("grp").cast("long").alias("leaving1"),
    )
    n = obs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("grp").cast("long").alias("n1_total"),
    )
    cumw = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = d.crossJoin(F.broadcast(n)).select(
        "t",
        "d",
        "d1",
        (F.col("n_total") - (F.sum("leaving").over(cumw) - F.col("leaving")))
        .cast("long")
        .alias("nt"),
        (
            F.col("n1_total")
            - (F.sum("leaving1").over(cumw) - F.col("leaving1"))
        )
        .cast("long")
        .alias("n1t"),
    )
    terms = r.filter(F.col("d") > 0).select(
        "d1",
        F.expr("(1000000 * d * n1t) div nt").cast("long").alias("e1_ppm"),
        F.when(
            F.col("nt") > 1,
            F.expr(
                "(1000000 * d * n1t * (nt - n1t) * (nt - d))"
                " div (nt * nt * (nt - 1))"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("v_ppm"),
    )
    s = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_ppm").cast("long").alias("e1_ppm"),
        F.sum("v_ppm").cast("long").alias("v_ppm"),
    )
    chi2 = F.when(
        F.col("v_ppm") > 0,
        F.expr(
            "((1000000 * o1 - e1_ppm) * (1000000 * o1 - e1_ppm))"
            " div v_ppm"
        ),
    ).cast("long")
    return s.crossJoin(F.broadcast(n)).select(
        F.col("n1_total").alias("n_heavy"),
        (F.col("n_total") - F.col("n1_total")).cast("long").alias("n_light"),
        "o1",
        "e1_ppm",
        "v_ppm",
        chi2.alias("chi2_ppm"),
        F.when(F.col("v_ppm") > 0, chi2 > 3841459).alias("significant_95"),
    )


@register(
    "events_ipw_treatment_effect",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS v,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 AS treated,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM u),
    cuts AS (
      SELECT r.v AS cut FROM r CROSS JOIN n
      WHERE r.rn IN ((1*n.n+3)//4, (2*n.n+3)//4, (3*n.n+3)//4)
    ),
    b AS (
      SELECT u.treated, u.conv,
             (SELECT COUNT(*) FROM cuts WHERE cuts.cut < u.v) AS stratum
      FROM u
    ),
    g AS (
      SELECT CAST(stratum AS BIGINT) AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(treated) AS BIGINT) AS nt,
             CAST(SUM(1 - treated) AS BIGINT) AS nc,
             CAST(SUM(treated * conv) AS BIGINT) AS ct,
             CAST(SUM((1 - treated) * conv) AS BIGINT) AS cc
      FROM b GROUP BY stratum
    ),
    d AS (
      SELECT stratum, n_s, nt, nc, ct, cc,
             CAST(CASE WHEN nt > 0 AND nc > 0
                  THEN (1000000 * (ct * nc - cc * nt)) // (nt * nc)
                  END AS BIGINT) AS uplift_ppm
      FROM g
    ),
    a AS (
      SELECT CAST(SUM(n_s * uplift_ppm) // SUM(n_s) AS BIGINT) AS ate_ppm
      FROM d WHERE uplift_ppm IS NOT NULL
    )
    SELECT d.stratum, d.n_s, d.nt, d.nc, d.ct, d.cc, d.uplift_ppm,
           a.ate_ppm
    FROM d CROSS JOIN a
    """,
)
def q_events_ipw_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stratified inverse-propensity-weighted treatment effect — the
    weighting estimator that completes the causal toolkit (CEM matching,
    diff-in-diff, CUPED, uplift bands): stratify on the activity quartile
    (exact-rank cutoffs), estimate the propensity WITHIN each stratum
    empirically, and average the per-stratum treated-minus-control rate
    differences weighted by stratum size — algebraically the IPW/ATE
    estimator with estimated stratum propensities (Horvitz-Thompson form
    collapses to N_s/T_s inside strata). Treatment is the portable-md5
    coin; everything downstream is exact: per-stratum rate difference as
    BIGINT cross-multiplication ppm, ATE as the size-weighted floor of
    those terms (the documented floor-then-weight contract). One
    user-keyed aggregate + the rank kernel + a 4-row stratum table —
    nothing data-sized after the shuffle."""
    from ..functions.hashing import portable_hash64

    u = (
        table_scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("v"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select(
            "v",
            "conv",
            (portable_hash64(F.col("user_id")) % 2)
            .cast("long")
            .alias("treated"),
        )
    )
    cuts = _exact_rank_cutoffs(u.select("v"), _QUARTILE_RANKS)
    stratum_expr = sum(
        (F.col(f"c{i}") < F.col("v")).cast("long") for i in range(1, 4)
    )
    g = (
        u.crossJoin(F.broadcast(cuts))
        .select(stratum_expr.alias("stratum"), "treated", "conv")
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_s"),
            F.sum("treated").cast("long").alias("nt"),
            F.sum(1 - F.col("treated")).cast("long").alias("nc"),
            F.sum(F.col("treated") * F.col("conv"))
            .cast("long")
            .alias("ct"),
            F.sum((1 - F.col("treated")) * F.col("conv"))
            .cast("long")
            .alias("cc"),
        )
    )
    d = g.select(
        "stratum",
        "n_s",
        "nt",
        "nc",
        "ct",
        "cc",
        F.when(
            (F.col("nt") > 0) & (F.col("nc") > 0),
            F.expr("(1000000 * (ct * nc - cc * nt)) div (nt * nc)"),
        )
        .cast("long")
        .alias("uplift_ppm"),
    ).transform(cached)  # ≤4 rows; the ATE branch re-reads it — without the cache
    # the user aggregate + rank kernel run twice
    a = d.filter(F.col("uplift_ppm").isNotNull()).agg(
        F.expr("sum(n_s * uplift_ppm) div sum(n_s)")
        .cast("long")
        .alias("ate_ppm")
    )
    return d.crossJoin(F.broadcast(a)).select(
        "stratum", "n_s", "nt", "nc", "ct", "cc", "uplift_ppm", "ate_ppm"
    )


@register(
    "events_ljung_box_daily",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM d
    ),
    z AS (
      SELECT d.day, d.x - (s.sx // s.n) AS z FROM d CROSS JOIN s
    ),
    c0 AS (SELECT CAST(SUM(z * z) AS BIGINT) AS c0 FROM z),
    ck AS (
      SELECT k.k, CAST(SUM(a.z * b.z) AS BIGINT) AS ck
      FROM (SELECT UNNEST(range(1, 8)) AS k) k
      JOIN z a ON TRUE
      JOIN z b ON b.day = a.day + CAST(k.k AS INT)
      GROUP BY k.k
    ),
    r AS (
      SELECT ck.k,
             CAST((1000000 * ck.ck) // c0.c0 AS BIGINT) AS r_ppm
      FROM ck CROSS JOIN c0
    ),
    t AS (
      SELECT r.k, r.r_ppm,
             CAST((r.r_ppm * r.r_ppm) // (s.n - r.k) AS BIGINT) AS term
      FROM r CROSS JOIN s
    ),
    qq AS (
      SELECT CAST((s.n * (s.n + 2) * SUM(t.term)) // 1000000 AS BIGINT)
        AS q_ppm
      FROM t CROSS JOIN s GROUP BY s.n
    )
    SELECT t.k AS lag, t.r_ppm, qq.q_ppm,
           qq.q_ppm > 14067140 AS reject_whiteness_95
    FROM t CROSS JOIN qq
    """,
)
def q_events_ljung_box_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ljung–Box portmanteau whiteness test over the daily event-count
    series — the one-number answer to "is there ANY autocorrelation
    structure up to lag 7?" that complements events_autocorr_daily's
    per-lag view: Q = n(n+2)·Σ r²ₖ/(n−k) against χ²₇(0.95). Exact
    contract: the series is centered by the FLOORED mean (integer z —
    documented, both engines identical), autocovariances are BIGINT dot
    products over a day-offset self-join (the bounded ≤31-row day table),
    rₖ as signed truncated ppm, the quadratic terms floor-divided by
    (n−k), and Q in ppm against the exact χ²₇(0.95) literal 14067140.
    Output: one row per lag carrying its rₖ plus the shared Q and the
    decision. Scale: one partial-agg to days; everything after is the
    bounded lag lattice."""
    d = (
        table_scan(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    s = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    z = d.crossJoin(F.broadcast(s)).select(
        "day", (F.col("x") - F.expr("sx div n")).alias("z")
    ).transform(cached)  # ≤31 rows, read by c0 and every lag join
    c0 = z.agg(F.sum(F.col("z") * F.col("z")).cast("long").alias("c0"))
    ks = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a = z.select(F.col("day").alias("da"), F.col("z").alias("za"))
    b = z.select(F.col("day").alias("db"), F.col("z").alias("zb"))
    ck = (
        ks.crossJoin(a)
        .join(
            b,
            F.col("db") == F.expr("date_add(da, k)"),
        )
        .groupBy("k")
        .agg(F.sum(F.col("za") * F.col("zb")).cast("long").alias("ck"))
    )
    r = ck.crossJoin(F.broadcast(c0)).select(
        "k", F.expr("(1000000 * ck) div c0").cast("long").alias("r_ppm")
    )
    t = r.crossJoin(F.broadcast(s)).select(
        "k",
        "r_ppm",
        F.expr("(r_ppm * r_ppm) div (n - k)").cast("long").alias("term"),
    ).transform(cached)  # 7 rows, read by Q and the final projection
    qq = t.crossJoin(F.broadcast(s)).groupBy("n").agg(
        F.expr("CAST((n * (n + 2) * sum(term)) div 1000000 AS BIGINT)").alias(
            "q_ppm"
        )
    ).select("q_ppm")
    return t.crossJoin(F.broadcast(qq)).select(
        F.col("k").cast("long").alias("lag"),
        "r_ppm",
        "q_ppm",
        (F.col("q_ppm") > 14067140).alias("reject_whiteness_95"),
    )


@register(
    "events_ordered_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, v.t1, MIN(e.ts) AS t2
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click'
       AND e.ts > v.t1
      GROUP BY v.user_id, v.t1
    ),
    p AS (
      SELECT c.user_id, c.t1, c.t2, MIN(e.ts) AS t3
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts > c.t2
      GROUP BY c.user_id, c.t1, c.t2
    ),
    w AS (
      SELECT p.* FROM p
      WHERE date_diff('day', CAST(t1 AS DATE), CAST(t3 AS DATE)) <= 7
    ),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events)
    SELECT u.n_users,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS stage_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS stage_click,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS stage_purchase,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS stage_within_7d,
           CAST((1000000 * (SELECT COUNT(*) FROM w)) // u.n_users
             AS BIGINT) AS funnel_conversion_ppm
    FROM u
    """,
)
def q_events_ordered_funnel_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRICT-ORDER funnel with a completion window — the product-
    analytics primitive the path/Markov views don't answer directly: how
    many users did view → (later) click → (later) purchase, completing
    within 7 days of the first view? Each stage is the EARLIEST
    qualifying event strictly after the previous stage's timestamp (the
    textbook funnel semantics — a click before the first view doesn't
    count), computed as chained per-user min-aggregates: three user-keyed
    joins + groupBys, no window over raw events, no path enumeration.
    Single-row funnel ledger: population, per-stage survivors, and the
    windowed end-to-end conversion ppm. At 100 TB each stage join is a
    user-key co-partitioned shuffle that AQE sizes; the stage tables only
    ever shrink."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        v.join(
            e.filter(F.col("event_type") == "click").select(
                F.col("user_id").alias("cu"), F.col("ts").alias("cts")
            ),
            (F.col("cu") == F.col("user_id")) & (F.col("cts") > F.col("t1")),
        )
        .groupBy("user_id", "t1")
        .agg(F.min("cts").alias("t2"))
    )
    p = (
        c.join(
            e.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("pu"), F.col("ts").alias("pts")
            ),
            (F.col("pu") == F.col("user_id")) & (F.col("pts") > F.col("t2")),
        )
        .groupBy("user_id", "t1", "t2")
        .agg(F.min("pts").alias("t3"))
    ).transform(cached)  # read by the stage count and the windowed count
    w = p.filter(
        F.datediff(F.col("t3").cast("date"), F.col("t1").cast("date")) <= 7
    )
    u = e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    sv = v.agg(F.count(F.lit(1)).cast("long").alias("stage_view"))
    sc = c.agg(F.count(F.lit(1)).cast("long").alias("stage_click"))
    sp = p.agg(F.count(F.lit(1)).cast("long").alias("stage_purchase"))
    sw = w.agg(F.count(F.lit(1)).cast("long").alias("stage_within_7d"))
    return (
        u.crossJoin(F.broadcast(sv))
        .crossJoin(F.broadcast(sc))
        .crossJoin(F.broadcast(sp))
        .crossJoin(F.broadcast(sw))
        .select(
            "n_users",
            "stage_view",
            "stage_click",
            "stage_purchase",
            "stage_within_7d",
            F.expr("(1000000 * stage_within_7d) div n_users")
            .cast("long")
            .alias("funnel_conversion_ppm"),
        )
    )


@register(
    "events_slo_burn_rate",
    """
    WITH w AS (
      SELECT epoch_us(ts) // (6 * 3600 * CAST(1000000 AS BIGINT)) AS win,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
      FROM events
    ),
    g AS (
      SELECT CAST(win AS BIGINT) AS win,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(err) AS BIGINT) AS n_errors
      FROM w GROUP BY win
    )
    SELECT win, n_events, n_errors,
           CAST((1000000 * n_errors) // n_events AS BIGINT) AS error_ppm,
           CAST((1000 * ((1000000 * n_errors) // n_events)) // 10000
             AS BIGINT) AS burn_rate_milli,
           (1000 * ((1000000 * n_errors) // n_events)) // 10000 > 14400
             AS page_alert
    FROM g
    """,
)
def q_events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate — the SRE alerting primitive (Google
    SRE workbook): with a 99 % success SLO the error budget is 10 000 ppm,
    and each 6-hour window's burn rate = error_rate / budget; a window
    burning > 14.4× (the canonical fast-burn page threshold) exhausts a
    30-day budget in ~2 days and pages. Exact integers end-to-end:
    µs-epoch tumbling windows, ppm error rates, milli burn rates, the
    14400 milli literal. On this synthetic corpus the ~20 % ambient error
    rate burns ~20× everywhere — which is precisely what the audit SHOULD
    say about such a stream (asserted in pytest). One partial-agg window
    rollup; the ops trio (freshness lag, I-MR limits, burn rate) now
    covers lag, level shifts, and budget exhaustion."""
    w = table_scan(spark, sf_dir, "events").select(
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            / (6 * 3600 * 1000000)
        )
        .cast("long")
        .alias("win"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("err"),
    )
    g = w.groupBy("win").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("err").cast("long").alias("n_errors"),
    )
    err_ppm = F.expr("(1000000 * n_errors) div n_events")
    burn = F.expr(
        "(1000 * ((1000000 * n_errors) div n_events)) div 10000"
    )
    return g.select(
        "win",
        "n_events",
        "n_errors",
        err_ppm.cast("long").alias("error_ppm"),
        burn.cast("long").alias("burn_rate_milli"),
        (burn > 14400).alias("page_alert"),
    )


@register(
    "events_watermark_lateness_profile",
    """
    WITH e AS (
      SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             epoch_us(CAST(ts AS TIMESTAMP))
               + 1000000 * (CASE WHEN event_id % 100 = 0
                      THEN CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 86400
                      ELSE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                                AS BIGINT) % 600 END) AS arr_us
      FROM events
    ),
    r AS (
      SELECT ts_us,
             MAX(ts_us) OVER (ORDER BY arr_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS rm
      FROM e
    ),
    l AS (SELECT (rm - ts_us) // 60000000 AS lateness_min FROM r),
    g AS (
      SELECT lateness_min, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM l GROUP BY lateness_min
    ),
    c AS (
      SELECT lateness_min, n_events,
             CAST(SUM(n_events) OVER (ORDER BY lateness_min
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_events,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS total
      FROM g
    )
    SELECT lateness_min, n_events, cum_events,
           CAST((1000000 * cum_events) // total AS BIGINT) AS cum_ppm,
           (1000000 * cum_events) // total >= 990000 AS covers_p99
    FROM c
    """,
)
def q_events_watermark_lateness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-delay chooser: the lateness histogram every Structured
    Streaming deployment needs BEFORE picking `withWatermark(delay)` — for
    each event, lateness = (max event-time already arrived) − (own event
    time); the cumulative distribution tells you the delay that covers
    99% of events (`covers_p99`: the smallest such minute bucket is the
    recommended watermark). The testdata has no arrival timestamps, so
    arrival is a DETERMINISTIC simulation both engines replay bit-for-bit:
    arrival = event time + md5-derived delay (uniform ≤10 min, 1% heavy
    tail ≤24 h — the long-tail-mobile-client shape); on real data, replace
    `arr_us` with the ingestion timestamp and nothing else changes.

    Scale shape — the running max NEVER uses a global row window: pass 1
    computes each event's within-minute prefix max (window PARTITIONED by
    arrival minute, bounded rows per partition); pass 2 takes the
    per-minute maxima — a table bounded by the TIME HORIZON (~130k rows
    per quarter at any data volume, since it grows with wall-clock time,
    not events) — and prefix-maxes them with an exclusive window; each
    event then takes greatest(block prefix, within-block prefix). The
    final histogram windows run over ≤ horizon-minutes rows. The oracle
    replays one flat running max (fine at sf0.01)."""
    e = table_scan(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    delay_s = F.expr(
        "CASE WHEN event_id % 100 = 0"
        " THEN CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        "      AS BIGINT) % 86400"
        " ELSE CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
        "      AS BIGINT) % 600 END"
    )
    e = e.select(
        "event_id", "ts_us", (F.col("ts_us") + 1000000 * delay_s).alias("arr_us")
    )
    e = e.withColumn("arr_min", F.expr("arr_us div 60000000"))
    w_in = (
        Window.partitionBy("arr_min")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = e.withColumn("in_max", F.max("ts_us").over(w_in))
    blocks = e.groupBy("arr_min").agg(F.max("ts_us").alias("blk_max"))
    w_blk = (
        Window.orderBy("arr_min")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blk_prefix = blocks.select(
        "arr_min", F.max("blk_max").over(w_blk).alias("pre_max")
    )
    r = within.join(blk_prefix, "arr_min").select(
        "ts_us",
        F.greatest(
            F.col("in_max"), F.coalesce(F.col("pre_max"), F.col("in_max"))
        ).alias("rm"),
    )
    lat = r.select(F.expr("(rm - ts_us) div 60000000").alias("lateness_min"))
    g = lat.groupBy("lateness_min").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    total = e.agg(F.count(F.lit(1)).cast("long").alias("total"))
    w_cum = Window.orderBy("lateness_min").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.withColumn("cum_events", F.sum("n_events").over(w_cum).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "lateness_min",
            "n_events",
            "cum_events",
            F.expr("(1000000 * cum_events) div total").cast("long").alias(
                "cum_ppm"
            ),
            (F.expr("(1000000 * cum_events) div total") >= 990000).alias(
                "covers_p99"
            ),
        )
    )
