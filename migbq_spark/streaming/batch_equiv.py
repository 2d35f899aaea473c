"""Streaming operators, batch-equivalent forms — SURVEY.md §2.H.

migbq's `sync` loop is a hand-rolled micro-batch incremental stream
(`[pub:H migbq/migbq.py sync]`: re-read max PK, forward new ranges);
`incremental_delta` is that exact semantics.  The window/session/dedup
operators use Spark's `window()` / `session_window()`, which evaluate
identically in batch and Structured Streaming — the real `readStream`
forms (migbq_spark/streaming/structured.py) reuse THESE transformations
verbatim on a streaming DataFrame; the batch forms are what the oracle
hash-checks.

Scale notes (100 TB stream): the streaming forms add
`withWatermark("ts", ...)` + RocksDB state store; tumbling/sliding
windows are hash-partitioned by (window, keys) — state per key-window is
O(1).  Session windows keep per-user open-session state bounded by the
watermark.  `stream_dedup_watermark` holds the dedup key set only within
the watermark horizon, which is what makes streaming dedup feasible at
all at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from migbq_spark.catalog import load
from migbq_spark.common import dec
from migbq_spark.registry import register


def tumbling_counts(ev: DataFrame) -> DataFrame:
    """Shared transformation: 1-hour tumbling window counts per type.
    Used verbatim by the batch query below AND the readStream form."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec("value")).cast("decimal(38,2)").cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows (window.start ≡ hour-trunc for tumbling)."""
    return tumbling_counts(load(spark, sf_dir, "events"))


@register(
    "stream_sliding_counts",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    UNION ALL
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE)
             + INTERVAL 30 MINUTE AS window_start,
           event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min — each event lands in exactly
    two windows; the oracle is the UNION ALL of the two 30-min-phase
    tumbling aggregations."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), "event_type", "cnt")
    )


def session_windows(ev: DataFrame) -> DataFrame:
    """Shared transformation: per-user sessions, 10-min inactivity gap."""
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 10 MINUTE
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with 10-min inactivity gap.  Boundary convention
    VERIFIED empirically on pyspark 4.1.2: two events exactly 10 min
    apart MERGE into one session (end = last + gap; merge condition is
    new_start <= prev_end) — so the oracle's strict
    ``> INTERVAL 10 MINUTE`` gap predicate is correct, not ``>=``.  The
    islands running sum orders by (ts, event_id) to stay deterministic
    under duplicate (user_id, ts) pairs."""
    return session_windows(load(spark, sf_dir, "events"))


def session_correlate(ev: DataFrame) -> DataFrame:
    """Shared transformation: per-user 10-min-gap sessions with the
    event-type mix inside each session — the streaming form groups by
    ``session_window`` exactly like this on a watermarked stream."""
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.col("event_type") == "click").alias("n_clicks"),
            F.count_if(F.col("event_type") == "view").alias("n_views"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            "n_events",
            "n_clicks",
            "n_views",
            "n_purchases",
            (
                (F.col("n_purchases") > 0)
                & ((F.col("n_clicks") > 0) | (F.col("n_views") > 0))
            ).alias("converted"),
        )
    )


@register(
    "stream_session_correlate",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         - LAG(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 10 MINUTE
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    islands AS (
        SELECT user_id, ts, event_type,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_clicks,
           CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS n_views,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT)
               AS n_purchases,
           COUNT(*) FILTER (event_type = 'purchase') > 0
             AND (COUNT(*) FILTER (event_type = 'click') > 0
                  OR COUNT(*) FILTER (event_type = 'view') > 0) AS converted
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def stream_session_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type correlation: for every per-user 10-min-gap
    session, the click/view/purchase mix and a browse→purchase conversion
    flag — the session-window form of funnel conversion (SURVEY §7.2
    candidate: session-window stream correlation).

    Scale (100 TB stream): identical code runs on a watermarked stream —
    ``session_window`` keeps one open-session accumulator per active user,
    bounded by the watermark horizon; counts are map-side-combinable, so
    state per session is four integers regardless of session length."""
    return session_correlate(load(spark, sf_dir, "events"))


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type, TRUE AS survivor_in_source
    FROM events
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming dedup: readStream over the events
    parquet, withWatermark + dropDuplicates, drained synchronously with
    an availableNow trigger into a memory sink.

    Hash-oracled via a deterministic projection: WHICH
    duplicate survives is nondeterministic by spec (SURVEY §7.5), but
    the surviving KEY SET is exact and the survivor must be a real
    source row.  So the driver-facing output inner-joins the drained
    result back to the static events table on (user_id, event_type,
    event_id): a fabricated survivor drops out (count mismatch), a
    missed key or a double-kept key breaks the DISTINCT-per-key hash.
    The full drained rows (incl. the arbitrary survivor's event_id/ts)
    stay available via `run_streaming_dedup` and are pinned in
    tests/test_streaming.py."""
    from migbq_spark.streaming.structured import run_streaming_dedup

    drained = run_streaming_dedup(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    )
    return (
        drained.join(ev, ["user_id", "event_type", "event_id"], "inner")
        .select(
            "user_id",
            "event_type",
            F.lit(True).alias("survivor_in_source"),
        )
    )


@register(
    "incremental_delta",
    oracle="""
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE event_id > (SELECT MAX(event_id) / 2 FROM events)
    """,
)
def incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """migbq `sync`: forward only rows beyond the last migrated PK.  The
    watermark (max/2) is computed in-query for sf-independence; Spark
    plans the scalar subquery as a broadcast, the main scan stays
    pushdown-filtered."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("mq_events_delta")
    return spark.sql(
        """
        SELECT event_id, user_id, event_type, ts
        FROM mq_events_delta
        WHERE event_id > (SELECT MAX(event_id) / 2 FROM mq_events_delta)
        """
    )
