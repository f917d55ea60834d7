"""Custom stateful streaming operator: per-user sessionization with
``applyInPandasWithState`` — the arbitrary-state escape hatch the
built-in windowed aggregations can't express (session membership
depends on the gap to the PREVIOUS event, not on fixed windows).

Semantics (the documented contract, asserted in tests):
- events group by user; within a user, a gap > ``gap_s`` between
  consecutive event times closes the current session and starts a new
  one (the same boundary rule as the batch ``j_sessionization`` query);
- a session is EMITTED when a later event closes it, or when the
  event-time watermark passes its timeout (``GroupStateTimeout.
  EventTimeTimeout``);
- each user's trailing session waits in ``GroupState`` for either of
  those — so after a single ``AvailableNow`` drain of a static backlog,
  the output is exactly "every session except each user's last".

Scale notes: state is one (start, end, n) triple per user — constant
size, RocksDB-backed at scale (``spark.sql.streaming.stateStore.
providerClass``).  Events arrive grouped+sorted per key per microbatch
via Arrow; nothing is collected to the driver.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import normalize_ts
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start long, session_end long, n_events long"
)
STATE_SCHEMA = "start long, end long, n long"


def _assemble_factory(gap_s: int):
    def assemble(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [start],
                    "session_end": [end],
                    "n_events": [n],
                }
            )
            return
        ts = sorted(
            int(t)
            for pdf in batches
            for t in pdf["ts_s"].values
        )
        cur = state.get if state.exists else None  # (start, end, n)
        closed = []
        for t in ts:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_s:
                closed.append(cur)
                cur = (t, t, 1)
            else:
                # a late-but-within-watermark event from a later
                # microbatch may sort before the restored session's end
                # (or even its start): extend the bounds, never rewind —
                # a rewound end would fake a gap for the next event
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
        state.update(cur)
        # the trailing session times out once the watermark passes its
        # would-be close boundary (clamped: timeouts must sit above the
        # current watermark when later microbatches re-touch the key)
        state.setTimeoutTimestamp(
            max((cur[1] + gap_s) * 1000, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "session_start": [c[0] for c in closed],
                    "session_end": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return assemble


def user_sessions_stream(
    spark: SparkSession,
    events_dir: str,
    gap_s: int = 1800,
    query_name: str = "user_sessions",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the events backlog with AvailableNow through the stateful
    sessionizer; returns the materialized closed-session table
    (user_id, session_start, session_end, n_events — epoch seconds).

    ``max_files_per_trigger`` splits the drain into multiple
    microbatches (file-source batching also applies under AvailableNow)
    — production streams arrive in many batches, and the late-merge /
    timeout paths only exercise across batch boundaries."""
    from .drain import stage_stream_source

    stream = (
        normalize_ts(
            stage_stream_source(spark, events_dir, max_files_per_trigger)
        )
        .withWatermark("ts", watermark)
        .select("user_id", F.col("ts").cast("long").alias("ts_s"), "ts")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _assemble_factory(gap_s),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    from .drain import drain_to_memory

    return drain_to_memory(sessions, spark, query_name, events_dir)
