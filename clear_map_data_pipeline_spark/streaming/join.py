"""Stream-stream interval join: correlate two event streams by key
within a time window — the attribution/funnel shape (view -> click,
impression -> conversion).

Both sides carry watermarks and the join predicate bounds the event-time
distance, so Spark can size the state store: a left row is held only
until the watermark passes ``l_ts + gap``, a right row until its own
watermark — state is O(events inside the gap window), never the full
stream.  Without the time bound (or the watermarks) the state would
grow forever; Spark rejects that combination for outer joins and we
don't offer it.

The two sides here are filters of ONE source stream (a self-join):
Spark plans them as two independent stateful inputs, which is exactly
how a two-topic deployment would look.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts


def interval_join_stream(
    spark: SparkSession,
    events_dir: str,
    left_type: str = "view",
    right_type: str = "click",
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    query_name: str = "interval_joined",
) -> DataFrame:
    """Drain the backlog through a watermarked stream-stream inner join:
    for every ``left_type`` event, every same-user ``right_type`` event
    in ``(l_ts, l_ts + gap_minutes]``.  Returns (user_id, left_id,
    right_id, seconds_between)."""
    from .drain import stage_stream_source

    base = normalize_ts(stage_stream_source(spark, events_dir))
    left = (
        base.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        base.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user = r_user
            AND r_ts > l_ts
            AND r_ts <= l_ts + INTERVAL {gap_minutes} MINUTES
            """
        ),
    ).select(
        F.col("l_user").alias("user_id"),
        "left_id",
        "right_id",
        (F.col("r_ts").cast("long") - F.col("l_ts").cast("long")).alias(
            "seconds_between"
        ),
    )
    from .drain import drain_to_memory

    return drain_to_memory(joined, spark, query_name, events_dir)
