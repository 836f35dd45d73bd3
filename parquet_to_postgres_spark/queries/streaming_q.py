"""Structured Streaming queries (SURVEY.md §2B T1–T6).

Each builder runs a real streaming query (readStream → availableNow →
memory sink) to completion and returns the final table; the oracle is
the equivalent batch SQL on the same finite input.  T4's oracle
(watermark late-drop) withholds the final open window, as the stream
does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import streaming as ST
from . import register

# ------------------------------------------------------------------ T1 ----


@register(
    "stream_windowed_aggs",
    oracle="""
    SELECT 'tumbling' AS facet, date_trunc('day', ts) AS win_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS facet, win_start,
           CAST(NULL AS VARCHAR) AS event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM (
      WITH b AS (
        SELECT date_trunc('day', ts)
               + CASE WHEN date_part('hour', ts) >= 12
                      THEN INTERVAL 12 HOURS ELSE INTERVAL 0 HOURS END AS bucket,
               value
        FROM events
      )
      SELECT bucket AS win_start, value FROM b
      UNION ALL
      SELECT bucket - INTERVAL 12 HOURS AS win_start, value FROM b
    ) w GROUP BY win_start
    """,
    tags=("T1", "T2"),
)
def stream_windowed_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2: tumbling 1-day and sliding 1-day/12-hour window aggs over
    the same stream, facet-tagged in one declared query (one streaming
    run, one stateful aggregation, complete mode).  Every event lands in
    exactly one tumbling window and exactly two sliding windows; the
    oracle expands the sliding overlap explicitly."""
    return ST.run_stream_to_df(
        ST.windowed_counts(ST.events_stream(spark, sf_dir)), "complete"
    )


# ------------------------------------------------------------------ T3 ----


@register(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTES
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM o
    )
    SELECT user_id, MIN(ts) AS sess_start, MAX(ts) AS sess_last,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sess_id
    """,
    tags=("T3",),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 30-minute-gap session windows per user; oracle is the
    gaps-and-islands batch equivalent (new session when the gap to the
    previous event is >= the inactivity gap — session windows are
    end-exclusive)."""
    return ST.run_stream_to_df(
        ST.session_windows(ST.events_stream(spark, sf_dir)), "complete"
    )


# ------------------------------------------------------------------ T4 ----


@register(
    "stream_watermark_hourly",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    m AS (SELECT MAX(ts) AS mx FROM events)
    SELECT win_start, n_events FROM w, m
    WHERE win_start + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
    """,
    tags=("T4",),
)
def stream_watermark_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermark + append mode — only watermark-closed hourly windows
    emit.

    The oracle is exact: the bounded input is one availableNow batch, so
    the final watermark is max(ts) − 1 hour and append mode emits exactly
    the windows whose END is ≤ that watermark (the trailing open windows
    are withheld — that withholding is the behavior under test)."""
    return ST.run_stream_to_df(
        ST.watermarked_late_drop(ST.events_stream(spark, sf_dir)), "append"
    )


# ------------------------------------------------------------------ T5 ----


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("T5",),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: streaming dropDuplicates with watermark-bounded state.

    Runs without the no-data batch: a watermarked ``dropDuplicates`` in
    append mode emits each new key in the data batch, so the no-data
    batch would only evict state."""
    return ST.run_stream_to_df(
        ST.streaming_dedup_keys(ST.events_stream(spark, sf_dir)),
        "append",
        no_data_batch=False,
    )


# ------------------------------------------------------------------ T6 ----


@register(
    "stream_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id
    """,
    tags=("T6",),
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: custom stateful operator (applyInPandasWithState) — running
    per-user totals in exact integer cents."""
    return ST.run_stream_to_df(
        ST.stateful_user_totals(ST.events_stream(spark, sf_dir)), "update"
    )


# ----------------------------------------------------- stream-stream ----


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           p.ts AS p_ts,
           c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
    tags=("T2", "J6"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click attribution); on a
    finite availableNow input it emits exactly the batch join.

    Runs without the no-data batch: an inner interval join emits each
    match in the data batch, so the no-data batch would only evict
    state."""
    return ST.run_stream_to_df(
        ST.stream_stream_click_attribution(ST.events_stream(spark, sf_dir)),
        "append",
        no_data_batch=False,
    )
