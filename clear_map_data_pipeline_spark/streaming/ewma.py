"""Stateful streaming EWMA over per-user daily totals — the unbounded-
stream counterpart the batch ``operators/stats.py: ewma`` docstring
points at (a recursion has no fixed-frame window form in EITHER mode;
in streaming the natural home for the fold is per-key ``GroupState``).

Semantics (asserted against the batch operator in tests):
- events bucket into UTC days per user; a day's total accumulates as
  the exact integer sum of ``floor(value * 1e6)`` (order-independent —
  the same scaled-integer discipline the Lloyd trainer uses, so the
  total is identical no matter how events split across microbatches);
- a day CLOSES when the event-time watermark passes its end; closed
  days fold through ``y = (1 - alpha) * y + alpha * total`` in day
  order (seed: first closed day's total) and emit one row each;
- open days wait in state; events for a day that already closed and
  emitted are DROPPED (the standard watermark late-data contract);
- the emitted ``ewma`` is floor-scale truncated to 6 (engine-parity
  rendering); the state carries the untruncated accumulator so the
  recurrence itself never loses precision.

State per user: (last_emitted_day, fold accumulator, open-day arrays) —
bounded by the watermark horizon (#days a late event can still arrive
for), not the stream length; RocksDB-backed at scale like the
sessionizer.
"""

from __future__ import annotations

import math
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import normalize_ts

OUTPUT_SCHEMA = "user_id long, day long, day_total double, ewma double"
STATE_SCHEMA = (
    "last_day long, y double, has_y long, days array<long>, sums array<long>"
)

_DAY_S = 86400


def _fold_factory(alpha: float):
    a = float(alpha)

    def fold(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_day, y, has_y, days, sums = state.get
            open_days = dict(zip(days, sums))
        else:
            last_day, y, has_y, open_days = -1, 0.0, 0, {}
        if not state.hasTimedOut:
            # data invocation: merge this batch's events into open days.
            # The watermark visible HERE lags one batch (it advances
            # after a batch completes), so closures mostly happen in the
            # timeout invocations below — including the engine's no-data
            # batch after an AvailableNow drain exhausts the source.
            # Vectorized per-day partial sums: days per batch are
            # bounded by the watermark horizon, events are not — the
            # pandas groupby keeps the per-event work in C.
            for pdf in batches:
                fresh = pdf[pdf["day"] > last_day]
                if len(fresh):
                    for d, s in (
                        fresh.groupby("day")["v6"].sum().items()
                    ):
                        open_days[int(d)] = open_days.get(int(d), 0) + int(s)
        wm_ms = state.getCurrentWatermarkMs()
        closed = sorted(
            d for d in open_days if (d + 1) * _DAY_S * 1000 <= wm_ms
        )
        rows = []
        for d in closed:
            total = open_days.pop(d) / 1e6
            y = total if not has_y else (1.0 - a) * y + a * total
            has_y = 1
            last_day = d
            rows.append(
                (user_id, d, total, math.floor(y * 1e6) / 1e6)
            )
        remaining = sorted(open_days)
        state.update(
            (
                last_day,
                float(y),
                int(has_y),
                remaining,
                [open_days[d] for d in remaining],
            )
        )
        if remaining:
            # wake this group when the watermark can close the earliest
            # open day (clamped above the current watermark, as the
            # sessionizer does)
            state.setTimeoutTimestamp(
                max((remaining[0] + 1) * _DAY_S * 1000, wm_ms + 1)
            )
        if rows:
            yield pd.DataFrame(
                rows, columns=["user_id", "day", "day_total", "ewma"]
            )

    return fold


def daily_ewma_stream(
    spark: SparkSession,
    events_dir: str,
    alpha: float = 0.3,
    query_name: str = "daily_ewma",
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain the events backlog with AvailableNow through the stateful
    daily-EWMA fold; returns the materialized table
    (user_id, day epoch-day, day_total, ewma)."""
    from .drain import drain_to_memory, stage_stream_source

    stream = (
        normalize_ts(
            stage_stream_source(spark, events_dir, max_files_per_trigger)
        )
        # CONTRACT: days are formed from non-NULL (ts, value) events
        # only — NULL values are IGNORED (matching the batch ewma
        # operator's policy; a NULL v6 would reach the fold as NaN and
        # crash the integer merge) and NULL timestamps have no event
        # time to bucket or watermark by.  Consequence: a (user, day)
        # whose events are ALL NULL does not exist in this stream's
        # output at all, so a batch twin must apply the same pre-filter
        # before its daily groupBy (the equivalence test does) rather
        # than emit a NULL-total row for that day.
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            (F.col("ts").cast("long") / _DAY_S).cast("long").alias("day"),
            F.floor(F.col("value") * F.lit(1e6)).cast("long").alias("v6"),
            "ts",
        )
    )
    folded = stream.groupBy("user_id").applyInPandasWithState(
        _fold_factory(alpha),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain_to_memory(folded, spark, query_name, events_dir)
