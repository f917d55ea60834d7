"""Stream-static enrichment: join the event stream against a static
dimension frame inside the streaming query.

The stream-static join is the standard enrichment shape (events x
reference/lookup table): Spark re-plans the static side per microbatch
— a broadcast hash join against each batch, no streaming state, and the
dimension can be swapped between restarts without touching the
checkpoint (state stores hold only the windowed aggregate downstream).
At 100 TB/day of events the dimension stays driver-small (domains,
types, tenant metadata), so the join never shuffles the stream.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts


def enriched_daily_totals_stream(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    join_key: str = "event_type",
    category_col: str = "category",
    watermark: str = "1 day",
    query_name: str = "enriched_totals",
) -> DataFrame:
    """Drain the events backlog joined to the static ``dim`` frame on
    ``join_key``; returns closed per-(date, category) totals — the
    streaming twin of ``events JOIN dim GROUP BY date, category``.

    ``dim`` must carry ``join_key`` and ``category_col``.  Inner-join
    semantics: events with no dimension row are dropped (the batch twin
    does the same)."""
    from .drain import stage_stream_source

    stream = (
        normalize_ts(stage_stream_source(spark, events_dir))
        .withWatermark("ts", watermark)
        .join(F.broadcast(dim.select(join_key, category_col)), join_key)
    )
    agg = (
        stream.groupBy(
            F.window("ts", "1 day").alias("w"), F.col(category_col)
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("date"),
            category_col,
            "n_events",
            "sum_value",
        )
    )
    from .drain import drain_to_memory

    return drain_to_memory(agg, spark, query_name, events_dir)
