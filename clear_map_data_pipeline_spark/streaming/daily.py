"""Structured Streaming extension of the daily batch job.

The reference re-runs its whole pipeline from scratch every day
(``il_analysis_git.py:219-222``); the streaming-native version ingests
only new files and maintains the daily aggregate incrementally:

    readStream(parquet dir) -> event-time watermark -> daily windowed
    aggregation -> sink (memory for tests; foreachBatch-MERGE at scale)

``Trigger.AvailableNow`` drains the backlog exactly once and stops —
the cron-job replacement that keeps checkpointed state between runs.
Late data beyond the watermark is dropped deterministically instead of
the reference's "recompute everything" answer.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts


def daily_totals_stream(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "daily_totals",
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run the incremental daily-totals aggregation over the events
    parquet directory with AvailableNow, blocking until the backlog is
    drained; returns the materialized result.

    Output: one row per (date, event_type) with row counts and value
    sums — the streaming twin of the batch A14 daily totals.
    """
    from .drain import stage_stream_source

    stream = normalize_ts(
        stage_stream_source(spark, events_dir, max_files_per_trigger)
    ).withWatermark("ts", watermark)
    agg = (
        stream.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )
    from .drain import drain_to_memory

    return drain_to_memory(agg, spark, query_name, events_dir)


def sliding_totals_stream(
    spark: SparkSession,
    events_dir: str,
    window: str = "3 days",
    slide: str = "1 day",
    query_name: str = "sliding_totals",
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Sliding-window totals (r06) — the overlapping-window mode the
    tumbling daily aggregate can't express: every event lands in
    window/slide windows (3 here), giving the rolling-3-day trend per
    event_type as windows CLOSE (append mode: a window emits exactly
    once, when the watermark passes its end — same emission rule as
    the tumbling op, same exactly-once-per-window downstream
    contract).

    State scale note: state rows = windows-per-event x live keys —
    windows/slide times the tumbling op's state, still bounded by the
    watermark horizon, and per-key updates stay O(overlap) per event.
    """
    from .drain import stage_stream_source

    stream = normalize_ts(
        stage_stream_source(spark, events_dir, max_files_per_trigger)
    ).withWatermark("ts", watermark)
    agg = (
        stream.groupBy(
            F.window("ts", window, slide).alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.to_date(F.col("w.start")).alias("window_start"),
            F.to_date(F.col("w.end")).alias("window_end"),
            "event_type",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )
    from .drain import drain_to_memory

    return drain_to_memory(agg, spark, query_name, events_dir)
