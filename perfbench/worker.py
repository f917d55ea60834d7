"""One benchmark process: set up a session, run a workload's iterations
against the package's public entry points, and write what it measured
to a JSON file.  ``run.py`` starts it with a config file; it prints
``PERFBENCH_READY`` on stdout once the session is ready, which is where
``run.py`` stops the set-up clock.

Usage: python3 perfbench/worker.py CONFIG.json
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

READY = "PERFBENCH_READY"


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class DailyMap:
    """One iteration = ``plans.parse.parse()``: four windows, 8 GeoJSON
    files and ``dates.csv``, written under the iteration's directory."""

    def __init__(self, spark, cfg):
        from clear_map_data_pipeline_spark.plans import parse as parse_mod

        self.spark, self.cfg, self.parse_mod = spark, cfg, parse_mod

    def iterate(self, out_dir: str) -> None:
        self.parse_mod.parse(self.spark, self.cfg["input"], out_dir)

    def save_outputs(self, out_dir: str) -> None:
        pass  # the artifacts are the output

    def trace_wraps(self, tracer, state):
        from clear_map_data_pipeline_spark import cachereg

        pm = self.parse_mod

        def measure_cache(args, kwargs):
            state["cached_bytes"] = max(state["cached_bytes"], cached_bytes(self.spark))

        tracer.wrap(pm, "parse", "plans.parse")
        tracer.wrap(pm, "run_pipeline", "plans.run_pipeline")
        tracer.wrap(pm, "_lines_frame", "plans.lines_frame")
        tracer.wrap(pm, "_dates_columns", "plans.collect_dates_columns")
        # write_geojson(df, path, ...) and write_dates_array_csv(path, columns)
        tracer.wrap(
            pm, "write_geojson", "sources.write_geojson",
            after=lambda a, k, r: state["write_paths"].append(a[1]),
        )
        tracer.wrap(
            pm, "write_dates_array_csv", "sources.write_dates_array_csv",
            after=lambda a, k, r: state["write_paths"].append(a[0]),
        )
        # cachereg.pin is imported at call time, release_all at import
        tracer.wrap(cachereg, "pin", "cachereg.pin")
        tracer.wrap(pm, "release_all", "cachereg.release_all", before=measure_cache)


class DailyIncrement:
    """One iteration = ``streaming.export.export_daily_partitions``
    (partition-overwrite writes) then ``streaming.daily.
    daily_totals_stream`` (state-store aggregation), each over the
    one-file-per-day backlog with ``max_files_per_trigger=1``."""

    def __init__(self, spark, cfg):
        from clear_map_data_pipeline_spark.streaming import daily, export

        self.spark, self.cfg, self.daily, self.export = spark, cfg, daily, export
        self.totals = None

    def iterate(self, out_dir: str) -> None:
        self.export.export_daily_partitions(
            self.spark, self.cfg["input"], os.path.join(out_dir, "export"),
            query_name="perfbench_export", max_files_per_trigger=1,
        )
        self.totals = self.daily.daily_totals_stream(
            self.spark, self.cfg["input"], query_name="perfbench_totals",
            max_files_per_trigger=1,
        )

    def save_outputs(self, out_dir: str) -> None:
        self.totals.write.parquet(os.path.join(out_dir, "totals"))

    def trace_wraps(self, tracer, state):
        from clear_map_data_pipeline_spark.streaming import drain

        tracer.wrap(self.export, "export_daily_partitions", "streaming.export_daily_partitions")
        tracer.wrap(self.daily, "daily_totals_stream", "streaming.daily_totals_stream")
        tracer.wrap(drain, "stage_stream_source", "streaming.stage_stream_source")
        tracer.wrap(drain, "backlog_state_width", "streaming.backlog_state_width")
        tracer.wrap(drain, "drain_to_memory", "streaming.drain_to_memory")


WORKLOADS = {"daily_map": DailyMap, "daily_increment": DailyIncrement}


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs, in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def count_features(path: str) -> int:
    if not path.endswith(".geojson"):
        return 0
    with open(path, encoding="utf-8") as f:
        return len(json.load(f)["features"])


def layer_metrics(tracer, counter, since_span, jobs, stages, progress, phases_ms,
                  wall, cores, state) -> dict:
    """Per-layer numbers of one traced iteration."""
    spans = tracer.spans[since_span:]

    def dur(prefix):
        return sum(s.end - s.start for s in spans if s.name.startswith(prefix))

    def calls(prefix):
        return sum(1 for s in spans if s.name.startswith(prefix))

    self_s = tracer.self_seconds(since_span)
    m = {
        "plans.build_s": dur("plans.run_pipeline") + dur("plans.lines_frame"),
        "plans.py4j_calls": sum(s.py4j_calls for s in spans if s.layer == "plans"),
        "plans.catalyst_ms": phases_ms,
        "plans.collect_s": dur("plans.collect_"),
        "plans.collect_jobs": sum(1 for j in jobs if j["group"] == "plans.collect_dates_columns"),
        "spark.jobs": len(jobs),
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.skipped_stages": sum(j["skipped"] for j in jobs),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.input_bytes": sum(s["inputBytes"] for s in stages),
        "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "spark.peak_exec_mem_bytes": max((s["peakExecutionMemory"] for s in stages), default=0),
        "cachereg.pins": calls("cachereg.pin"),
        "cachereg.cached_bytes": state["cached_bytes"],
        "sources.write_s": dur("sources."),
        "sources.write_calls": calls("sources."),
        "sources.bytes_written": sum(os.path.getsize(p) for p in state["write_paths"]),
        "sources.features": sum(count_features(p) for p in state["write_paths"]),
        "trace.run_s": wall,
        "trace.py4j_calls": counter.total,
    }
    m["spark.core_util"] = m["spark.run_s"] / (wall * cores)
    m["cachereg.reuse_ratio"] = m["spark.skipped_stages"] / max(m["spark.stages"], 1)
    for layer in ("session", "registry", "plans", "cachereg", "sources", "streaming"):
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    m.update(streaming_metrics(progress))
    return m


def streaming_metrics(progress: list[dict]) -> dict:
    def total(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress)

    exports = sorted(
        p["duration_ms"].get("triggerExecution", 0) / 1e3
        for p in progress if p["name"] == "perfbench_export"
    )
    # state size at the end of each query run: its last progress event
    last: dict[str, dict] = {}
    for p in progress:
        last[p["run_id"]] = p
    state_final = [s for p in last.values() for s in p["state"]]
    return {
        "streaming.batches": len(progress),
        "streaming.empty_batches": sum(1 for p in progress if not p["rows"]),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.get_batch_ms": total("getBatch"),
        "streaming.query_planning_ms": total("queryPlanning"),
        "streaming.wal_commit_ms": total("walCommit"),
        "streaming.commit_offsets_ms": total("commitOffsets"),
        "streaming.state_rows": sum(s["rows"] for s in state_final),
        "streaming.state_mem_bytes": sum(s["mem"] for s in state_final),
        "streaming.state_commit_ms": sum(s["commit_ms"] for p in progress for s in p["state"]),
        "streaming.batch_s_p50": percentile(exports, 0.5),
        "streaming.batch_s_p80": percentile(exports, 0.8),
    }


def percentile(sorted_values: list[float], q: float) -> float:
    if not sorted_values:
        return 0.0
    if len(sorted_values) == 1:
        return sorted_values[0]
    return statistics.quantiles(sorted_values, n=100, method="inclusive")[round(q * 100) - 1]


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    result: dict = {"iterations": [], "layers": []}
    tracer = counter = None
    if cfg["trace"]:
        from tracing import Py4jCounter, Tracer

        tracer = Tracer(run_id=f"{cfg['workload']}-{cfg['seed']}")
        counter = Py4jCounter(tracer).install()

    from clear_map_data_pipeline_spark import registry, session

    setup: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(name: str, span: str):
        t = time.perf_counter()
        with tracer.span(span) if tracer is not None else contextlib.nullcontext():
            yield
        setup[name] = time.perf_counter() - t

    with phase("session.start_s", "session.get_spark"):
        spark = session.get_spark("perfbench", cpus=cfg["cores"])
    with phase("session.ship_s", "session.ensure_package_on_workers"):
        session.ensure_package_on_workers(spark)
    with phase("registry.load_s", "registry.load_all"):
        registry.load_all()
    print(READY, flush=True)
    result["setup"] = setup

    wl = WORKLOADS[cfg["workload"]](spark, cfg)
    listeners = None
    if tracer is not None:
        from tracing import flush_listener_bus, install_listeners, last_job_id, read_jobs

        listeners = install_listeners(spark)
        tracer.spark = spark
        seen_stages: set[int] = set()
        last_job = last_job_id(spark)

    start = time.perf_counter()
    i = 0
    while True:
        out_dir = os.path.join(cfg["root"], "out", f"iter{i:03d}")
        os.makedirs(out_dir)
        state = {"write_paths": [], "cached_bytes": 0}
        since = 0
        if tracer is not None:
            wl.trace_wraps(tracer, state)
            since = len(tracer.spans)
            counter.total = 0
        error = None
        t = time.perf_counter()
        try:
            wl.iterate(out_dir)
        except Exception:  # an iteration that raises counts as failed
            error = traceback.format_exc()
        wall = time.perf_counter() - t
        rec = {"dir": out_dir, "wall_s": wall, "error": error}
        if error is None:
            try:
                wl.save_outputs(out_dir)
            except Exception:
                rec["error"] = traceback.format_exc()
        if tracer is not None:
            tracer.unwrap_all()
            flush_listener_bus(spark)
            phases_ms = listeners[0].take()
            progress = listeners[1].drain()
            jobs, stages = read_jobs(spark, last_job, seen_stages)
            last_job = max([j["id"] for j in jobs] + [last_job])
            result["layers"].append(
                layer_metrics(tracer, counter, since, jobs, stages, progress, phases_ms,
                              wall, cfg["cores"], state)
            )
        result["iterations"].append(rec)
        i += 1
        if time.perf_counter() - start >= cfg["seconds"]:
            break

    from check import oracle_sql

    result["oracle_sql"] = oracle_sql(cfg["workload"])
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    result["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    if tracer is not None:
        counter.uninstall()
        tracer.dump(cfg["spans"])
    spark.stop()
    with open(cfg["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
