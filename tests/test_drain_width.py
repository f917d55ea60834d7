"""State-width sizing for stateful drains (streaming/drain.py
backlog_state_width): the width rule itself, the conf restore
discipline of the runner, the first-deployment property the rule
exists for — the width in force at first start is what the checkpoint
freezes into the state layout — and that the foreachBatch export and
merge sink run at that width and leave no checkpoint behind."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from clear_map_data_pipeline_spark.streaming.drain import (
    _tracked_mkdtemp,
    backlog_state_width,
    drain_to_memory,
    stage_stream_source,
)


def _stage_events(spark, n_rows: int) -> str:
    d = _tracked_mkdtemp("clearmap_width_test_")
    spark.range(n_rows).select(
        F.col("id").alias("user_id"),
        (F.lit("2021-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=F.col("id") % 600)).alias("ts"),
        F.lit("view").alias("event_type"),
        F.col("id").alias("event_id"),
    ).coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _daily_totals(spark, events_dir: str):
    return (
        stage_stream_source(spark, events_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("day"), "n")
    )


def test_width_rule(spark):
    small = _stage_events(spark, 500)
    # fixture backlogs floor at 2; the rule never exceeds the session's
    # parallelism (a production-scale backlog would keep full width)
    assert backlog_state_width(spark, small) == 2
    assert 2 <= backlog_state_width(spark, small) <= (
        spark.sparkContext.defaultParallelism
    )


def test_drain_int_width_completes_and_restores_conf(spark):
    events = _stage_events(spark, 400)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = drain_to_memory(
        _daily_totals(spark, events), spark, "width_probe", events
    )
    assert out.count() >= 0  # drain completed under the sized width
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_checkpoint_freezes_first_start_width(spark):
    """The deployment fact behind the sizing rule, pinned directly: the
    shuffle width in force when a stateful query FIRST starts is the
    state-partition count the checkpoint lays down (drain_to_memory
    removes its checkpoint on success, so this drives the same
    conf->checkpoint mechanism with a checkpoint the test keeps)."""
    events = _stage_events(spark, 400)
    width = backlog_state_width(spark, events)
    ckpt = _tracked_mkdtemp("clearmap_width_ckpt_")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", width)
        q = (
            _daily_totals(spark, events)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("width_freeze_probe")
            .option("checkpointLocation", os.path.join(ckpt, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    try:
        state0 = os.path.join(ckpt, "cp", "state", "0")
        parts = [x for x in os.listdir(state0) if x.isdigit()]
        assert len(parts) == width, (
            f"checkpoint froze {len(parts)} state partitions, "
            f"expected {width}"
        )
    finally:
        # clean up even when the assertion fails (ADVICE r08) — the
        # tracked-tempdir atexit sweep is only a backstop
        shutil.rmtree(ckpt, ignore_errors=True)


class _StateWidths(StreamingQueryListener):
    """Collects ``numShufflePartitions`` of every state operator in
    every progress event."""

    def __init__(self):
        self.widths: list[int] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.widths += [
            s.numShufflePartitions for s in event.progress.stateOperators
        ]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_foreach_batch_sinks_run_at_backlog_width_and_drop_checkpoints(
    spark, tmp_path, monkeypatch
):
    """The foreachBatch export and merge sink go through the same
    runner as the memory-sink drains: over a multi-file backlog drained
    one file per micro-batch, every progress event's state operators
    run at ``backlog_state_width``, and once each call returns no
    checkpoint directory (one holding ``offsets/``) is left behind."""
    from clear_map_data_pipeline_spark.streaming.export import (
        export_daily_partitions,
    )
    from clear_map_data_pipeline_spark.streaming.merge_sink import (
        streaming_merge_sink,
    )

    events = str(tmp_path / "events")
    for day in range(3):
        spark.range(200).select(
            F.col("id").alias("user_id"),
            (F.lit(f"2021-01-0{day + 1} 00:00:00").cast("timestamp")
             + F.make_interval(mins=F.col("id") % 600)).alias("ts"),
            F.when(F.col("id") % 2 == 0, "view").otherwise("click")
            .alias("event_type"),
            (F.col("id") + 1000 * day).alias("event_id"),
            (F.col("id") / 10).alias("value"),
        ).coalesce(1).write.mode("append").parquet(events)
    changes = str(tmp_path / "changes")
    spark.range(50).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    ).coalesce(2).write.parquet(changes)
    width = backlog_state_width(spark, events)
    assert width < int(spark.conf.get("spark.sql.shuffle.partitions"))

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        export_daily_partitions(
            spark, events, str(tmp_path / "export"),
            query_name="width_export", max_files_per_trigger=1,
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    merged = streaming_merge_sink(
        spark, changes, str(tmp_path / "table"), "k",
        query_name="width_merge", max_files_per_trigger=1,
    )
    assert merged.count() == 50

    assert listener.widths and set(listener.widths) == {width}, (
        listener.widths, width
    )
    leftover = [d for d, subdirs, _ in os.walk(scratch) if "offsets" in subdirs]
    assert leftover == []
