"""Incremental streaming EXPORT — the sink half of the streaming story.

The reference rewrites every export artifact from scratch daily
(``il_analysis_git.py:150-199``).  The incremental version streams the
backlog, aggregates per day, and uses ``foreachBatch`` + DYNAMIC
partition overwrite so each micro-batch rewrites ONLY the date
partitions it touched — yesterday's partition is replaced when late
data arrives, untouched history is never rewritten.  That's the
idempotent MERGE pattern for plain parquet (no lakehouse format
needed); at scale the same ``foreachBatch`` body swaps to a Delta/
Iceberg MERGE INTO.

Each call drains the whole backlog with ``Trigger.AvailableNow`` into a
fresh checkpoint and exits (``drain.run_available_now``).  Restarting
on an existing checkpoint, so that a daily run drains only the new
files, is not covered yet: ROADMAP item 4(a).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts


def export_daily_partitions(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    watermark: str = "1 day",
    query_name: str = "daily_export",
    max_files_per_trigger: int | None = None,
) -> str:
    """Drain the events backlog and materialize per-day totals as a
    date-partitioned parquet dataset, overwriting only touched
    partitions.  Returns ``out_dir``."""
    from .drain import stage_stream_source

    stream = normalize_ts(
        stage_stream_source(spark, events_dir, max_files_per_trigger)
    ).withWatermark("ts", watermark)
    agg = (
        stream.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # update-mode batches carry refreshed totals for the keys the
        # micro-batch touched; dynamic overwrite swaps exactly those
        # partitions and leaves the rest of the dataset alone.  The
        # partition key MUST equal the update key (date, event_type):
        # partitioning by date alone loses rows under multi-batch
        # drains — a batch updating only one type of a date would
        # dynamically overwrite (wipe) the date's other types (caught
        # by the r04 maxFilesPerTrigger=1 sweep).
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date", "event_type")
            .parquet(out_dir)
        )

    from .drain import run_available_now

    run_available_now(
        agg, spark, events_dir, query_name, "update", foreach_batch=write_batch
    )
    return out_dir
