"""Streaming ingest dedup — exactly-once semantics over an at-least-once
source, the front door of every training-data pipeline.

File sources re-deliver (retried uploads, replayed batches, overlapping
backfills); ``dropDuplicatesWithinWatermark`` keeps one row per key
while bounding the dedup state by event time: a key's fingerprint is
held only until the watermark passes it, so state size tracks the late
window, not the stream's history.  (Plain ``dropDuplicates`` on a
stream grows state forever — the thing this operator exists to avoid.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts


def stage_backlog(events_file: str, copies: int = 1) -> str:
    """Stage a parquet file as a streaming source directory, optionally
    duplicated ``copies`` times (simulating at-least-once re-delivery)."""
    from .drain import _tracked_mkdtemp

    staged = _tracked_mkdtemp("clearmap_dedup_src_")
    for i in range(copies):
        os.symlink(
            os.path.abspath(events_file),
            os.path.join(staged, f"copy{i}_{os.path.basename(events_file)}"),
        )
    return staged


def deduped_ingest_stream(
    spark: SparkSession,
    events_dir: str,
    key: str = "event_id",
    watermark: str = "1 day",
    query_name: str = "deduped_ingest",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the (possibly duplicated) backlog with exactly-once
    semantics on ``key``; returns the deduplicated per-type totals."""
    from .drain import drain_to_memory, stage_stream_source

    stream = (
        normalize_ts(
            stage_stream_source(spark, events_dir, max_files_per_trigger)
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )
    totals = stream.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    out = totals.select(
        F.to_date(F.col("w.start")).alias("date"),
        "event_type",
        "n_events",
        "sum_value",
    )
    return drain_to_memory(out, spark, query_name, events_dir)
