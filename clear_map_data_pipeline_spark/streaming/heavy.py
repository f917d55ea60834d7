"""Streaming heavy hitters: per-group Misra-Gries state over
``applyInPandasWithState`` — the unbounded-stream twin of
``operators/sketches.py: mg_candidates``.

MG summaries are order-insensitive and mergeable, so the batch
guarantee survives ANY microbatch arrival order: after draining a
stream, every key whose true in-group count exceeds
``mass / (capacity + 1)`` is present in that group's candidate list,
and each reported estimate undercounts by at most ``mass /
(capacity + 1)`` (the same prune-mass argument, applied to the one
always-alive per-group dict instead of per-partition dicts).

State is the bounded candidate dict flattened to parallel arrays
(keys, counts) plus the group's exact processed mass; each microbatch
emits a snapshot row stamped with that mass, so the LAST snapshot per
group (max mass) is the drained answer — asserted against an exact
batch recompute in tests/test_streaming.py, including a
file-at-a-time drain on the RocksDB provider.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "group string, mass long, keys array<string>, ests array<long>"
)
STATE_SCHEMA = "keys array<string>, cnts array<long>, mass long"


def _mg_factory(capacity: int, prune_factor: int = 4):
    def update(key, pdfs, state: GroupState):
        from ..operators.sketches import mg_fold

        if state.exists:
            keys, cnts, mass = state.get
            counters = dict(zip(keys, cnts))
        else:
            counters, mass = {}, 0
        for pdf in pdfs:
            mass += mg_fold(counters, pdf["key"], capacity, prune_factor)
        state.update((list(counters.keys()), list(counters.values()), mass))
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "mass": [mass],
                "keys": [list(counters.keys())],
                "ests": [list(counters.values())],
            }
        )

    return update


def heavy_hitters_stream(
    spark: SparkSession,
    events_dir: str,
    group_col: str = "event_type",
    key_col: str = "user_id",
    capacity: int = 50,
    query_name: str = "stream_heavy",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the events backlog through per-group streaming MG state;
    returns the materialized snapshot table — one row per (group,
    microbatch), the max-mass row per group being the final summary."""
    from .drain import drain_to_memory, stage_stream_source

    stream = stage_stream_source(
        spark, events_dir, max_files_per_trigger
    ).select(
        F.col(group_col).cast("string").alias("group"),
        F.col(key_col).cast("string").alias("key"),
    )
    snaps = stream.groupBy("group").applyInPandasWithState(
        _mg_factory(capacity),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return drain_to_memory(
        snaps, spark, query_name, events_dir, output_mode="update"
    )
