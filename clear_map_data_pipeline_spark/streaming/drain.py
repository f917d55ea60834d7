"""Shared streaming harness: source staging and the ONE place an
AvailableNow query is started.

Every streaming op in the package (the eight memory-sink ops, the
``foreachBatch`` export and the ``foreachBatch`` merge sink) reads its
source through ``stage_stream_source`` and hands its query to
``run_available_now``, which:

- makes a tracked, fresh checkpoint and removes it after success (a
  failed run keeps it for post-mortem until the exit sweep);
- sizes the state width with ``backlog_state_width`` from the source
  path it is given — Spark freezes that width into the checkpoint at
  first start — and restores the session's setting after;
- starts the query with ``Trigger.AvailableNow`` and blocks until the
  backlog is drained.

Every call therefore drains the whole backlog into a fresh checkpoint;
restarting from an existing one (the daily re-run) is ROADMAP 4(a).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import normalize_parquet_confs

#: Temp dirs (checkpoints, symlink staging) created by this module.
#: Checkpoints are removed eagerly after a successful drain; anything
#: still here (staging dirs that may back a live plan, failed drains)
#: is swept at interpreter exit so bench loops / test suites don't
#: accumulate directories.
_TMP_DIRS: set[str] = set()


def _sweep_tmp_dirs() -> None:
    while _TMP_DIRS:
        shutil.rmtree(_TMP_DIRS.pop(), ignore_errors=True)


atexit.register(_sweep_tmp_dirs)


def _tracked_mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.add(d)
    return d


#: The production state-store backend: keeps stateful-operator state
#: (session windows, dedup sets, EWMA accumulators) off-heap in RocksDB
#: instead of the default in-memory HDFS-backed map — at 100 TB the
#: state of a watermarked dedup or sessionizer outgrows executor heaps,
#: and RocksDB bounds memory at a disk-spill cost.  Bundled with Spark
#: since 3.2; every registered streaming query is swept under both
#: providers in tests/test_streaming.py.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


class state_store_provider:
    """Context manager pinning the state-store provider for queries
    STARTED inside it (the conf is read at query start and frozen into
    the checkpoint), restoring the previous session setting after."""

    def __init__(self, spark: SparkSession, provider: str | None):
        self.spark = spark
        self.provider = provider

    def __enter__(self):
        self.before = self.spark.conf.get(_PROVIDER_CONF, None)
        if self.provider:
            self.spark.conf.set(_PROVIDER_CONF, self.provider)
        return self

    def __exit__(self, *exc):
        if self.provider:
            if self.before is None:
                self.spark.conf.unset(_PROVIDER_CONF)
            else:
                self.spark.conf.set(_PROVIDER_CONF, self.before)
        return False


def stage_stream_source(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source streaming DataFrame over a parquet path.

    - the file streaming source requires a DIRECTORY; a single parquet
      file is staged behind a symlink dir (zero-copy);
    - the schema is probed with a batch read (streaming reads need an
      explicit schema);
    - ``max_files_per_trigger`` splits an AvailableNow drain into
      multiple microbatches — production streams arrive in many
      batches, and cross-batch state/watermark paths only exercise
      across batch boundaries."""
    normalize_parquet_confs(spark)
    if os.path.isfile(events_dir):
        staged = _tracked_mkdtemp("clearmap_stream_src_")
        os.symlink(
            os.path.abspath(events_dir),
            os.path.join(staged, os.path.basename(events_dir)),
        )
        events_dir = staged
    batch_schema = spark.read.parquet(events_dir).schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def backlog_state_width(spark: SparkSession, events_dir: str) -> int:
    """State-store partition count sized to the staged backlog: ~1M
    rows per state partition, floor 2, never above the session's
    parallelism.  The state width is a FIRST-DEPLOYMENT choice — Spark
    freezes ``spark.sql.shuffle.partitions`` into the checkpoint when a
    stateful query first starts — so sizing it to the volume the query
    will actually carry is exactly what a production deployment does;
    a 100 TB stream's backlog exceeds the threshold and keeps the full
    session width.  For a bounded fixture drain this removes the
    dominant fixed cost: every micro-batch (including the final
    watermark-advance batch) commits EVERY state partition of every
    stateful operator to the checkpoint, so a 32-wide state layout
    pays 32x the store-commit files of the 2 partitions the data
    needs.  The row count is a parquet-footer aggregate, not a scan."""
    n = spark.read.parquet(events_dir).count()
    return min(
        spark.sparkContext.defaultParallelism,
        max(2, -(-n // 1_000_000)),
    )


def run_available_now(
    df: DataFrame,
    spark: SparkSession,
    source: str,
    query_name: str,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
) -> None:
    """Drain the streaming DataFrame ``df`` read from ``source`` with
    AvailableNow, blocking until the backlog is consumed.  The sink is
    ``foreach_batch`` when given, else a memory-sink table named
    ``query_name``."""
    width = backlog_state_width(spark, source)
    checkpoint = _tracked_mkdtemp("clearmap_stream_ckpt_")
    writer = (
        df.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(checkpoint, "cp"))
        .trigger(availableNow=True)
    )
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width)
    try:
        writer.start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    # the backlog is drained and the sink holds its output — the
    # checkpoint has no further reader
    _TMP_DIRS.discard(checkpoint)
    shutil.rmtree(checkpoint, ignore_errors=True)


def drain_to_memory(
    df: DataFrame,
    spark: SparkSession,
    query_name: str,
    source: str,
    output_mode: str = "append",
) -> DataFrame:
    """``run_available_now`` into a memory-sink table; returns it."""
    run_available_now(df, spark, source, query_name, output_mode)
    return spark.table(query_name)
