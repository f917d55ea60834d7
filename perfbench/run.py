"""Benchmark of the daily map job: generate seeded inputs, run one
workload in a fresh worker process, check every output against its
DuckDB twin, and print the metrics as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_map --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
iterations with the outside-in tracer on and prints the per-layer
metrics instead (spans go to ``perfbench/traces/``).  Everything the run
writes -- inputs, artifacts, checkpoints, Spark scratch space -- lives
under ``.perfbench_tmp/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Inputs per workload; daily_increment writes one file per day.
WORKLOADS = {
    "daily_map": {"events": 100_000, "users": 750, "days": 30},
    "daily_increment": {"events": 8_000, "users": 300, "days": 10},
}
# The loop starts iterations until --seconds have passed, so the worker
# may run that long plus set-up and one last iteration.
SETUP_AND_LAST_ITERATION_S = 160
GROUP_EXIT_GRACE_S = 10  # the gateway JVM exits once its Python parent has gone


def make_inputs(workload: str, seed: int, root: str) -> dict:
    spec = WORKLOADS[workload]
    table = gen.events_table(seed, spec["events"], spec["users"], spec["days"])
    inputs = {"events": spec["events"]}
    if workload == "daily_map":
        inputs["input"] = os.path.join(root, "input")
        os.makedirs(inputs["input"])
        inputs["oracle_input"] = os.path.join(inputs["input"], "events.parquet")
        gen.write_events(table, inputs["oracle_input"])
    else:
        inputs["input"] = os.path.join(root, "days")
        gen.write_daily_files(table, inputs["input"])
        inputs["oracle_input"] = inputs["input"]
    return inputs


def worker_env(root: str) -> dict:
    """Point every scratch location of Python, the JVM and Spark into
    the run's temp root."""
    jtmp = os.path.join(root, "jvm")
    os.makedirs(jtmp)
    env = dict(os.environ)
    env.update(
        TMPDIR=root,
        SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={jtmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    return env


def stop_group(pgid: int, grace_s: float) -> None:
    """Give the process group ``grace_s`` seconds to exit on its own,
    then kill what is left and wait until it is gone."""
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if not killed and time.monotonic() >= deadline:
            os.killpg(pgid, signal.SIGKILL)
            killed = True
        if killed and time.monotonic() >= deadline + 5:
            return  # only unreaped zombies can outlive SIGKILL this long
        time.sleep(0.05)


def run_worker(cfg: dict, root: str) -> tuple[float, dict]:
    """Start the worker, time it until it reports a ready session, wait
    for it to finish, and return (set-up seconds, its result)."""
    cfg_path = os.path.join(root, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(root, "worker.log")
    setup_s = None
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        # its own process group: the JVM and Python workers it starts
        # can then be stopped, and waited for, together with it
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            stdout=subprocess.PIPE, stderr=log, text=True, env=worker_env(root), cwd=root,
            start_new_session=True,
        )
        timeout_s = cfg["seconds"] + SETUP_AND_LAST_ITERATION_S
        watchdog = threading.Timer(timeout_s, stop_group, (proc.pid, 0))
        watchdog.start()
        try:
            for line in proc.stdout:
                if setup_s is None and line.strip() == "PERFBENCH_READY":
                    setup_s = time.perf_counter() - t0
                else:
                    sys.stderr.write(line)
            proc.wait()
        finally:
            watchdog.cancel()
            stop_group(proc.pid, GROUP_EXIT_GRACE_S)
            proc.wait()
    if proc.returncode != 0 or setup_s is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    with open(cfg["result"]) as f:
        return setup_s, json.load(f)


def cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings.  Wall times rise with it, so it is logged beside them."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(sum(delta), 1)


def count_failed(oracle, iterations: list[dict]) -> int:
    """Iterations that raised or whose output the oracle rejects; the
    error rate is this over the number attempted."""
    failed = 0
    for it in iterations:
        problems = [it["error"]] if it["error"] else oracle.check(it["dir"])
        if problems:
            failed += 1
            sys.stderr.write(f"perfbench: {it['dir']} wrong:\n  " + "\n  ".join(problems) + "\n")
    return failed


def end_to_end(setup_s: float, result: dict, events: int) -> dict:
    walls = [it["wall_s"] for it in result["iterations"] if it["error"] is None]
    if not walls:
        raise RuntimeError("no iteration completed, so there is no run time to report")
    run_s = statistics.median(walls)
    return {"run_s": run_s, "events_per_s": events / run_s, "setup_s": setup_s}


def per_layer(setup_s: float, result: dict) -> dict:
    """Median over traced iterations of each layer number, plus the
    set-up phases measured once per run."""
    names = result["layers"][0].keys() if result["layers"] else []
    out = {n: statistics.median(m[n] for m in result["layers"]) for n in names}
    s = result["setup"]
    out.update(
        {
            "session.start_s": s["session.start_s"],
            "session.ship_s": s["session.ship_s"],
            "registry.load_s": s["registry.load_s"],
            "session.self_s": s["session.start_s"] + s["session.ship_s"],
            "registry.self_s": s["registry.load_s"],
            "trace.setup_s": setup_s,
            "peak_rss_mb": result["peak_rss_mb"],
        }
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "clear_map_data_pipeline_spark")):
        sys.stderr.write("perfbench: the package is not in this checkout\n")
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    tmp_base = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(tmp_base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_base)
    t0 = time.perf_counter()

    def log(what):
        sys.stderr.write(f"perfbench: {time.perf_counter() - t0:7.2f}s {what}\n")

    try:
        inputs = make_inputs(args.workload, args.seed, root)
        log("inputs generated")
        spans = None
        if args.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            spans = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": len(os.sched_getaffinity(0)),
            "root": root,
            "result": os.path.join(root, "result.json"),
            "spans": spans,
            **inputs,
        }
        cpu_before = cpu_jiffies()
        setup_s, result = run_worker(cfg, root)
        log(f"worker done: setup {setup_s:.2f}s, iterations "
            + ", ".join(f"{it['wall_s']:.2f}s" for it in result["iterations"])
            + f"; host steal {steal_share(cpu_before, cpu_jiffies()):.1%} of CPU time")

        from check import ORACLES

        oracle = ORACLES[args.workload](inputs["oracle_input"], result["oracle_sql"])
        log("oracle computed")
        failed = count_failed(oracle, result["iterations"])
        attempted = len(result["iterations"])
        log("outputs checked")
        if args.trace:
            metrics = per_layer(setup_s, result)
            wanted = spec["per_layer"]
        else:
            metrics = end_to_end(setup_s, result, inputs["events"])
            wanted = spec["end_to_end"]
        out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": out,
        }))
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if not os.listdir(tmp_base):
            os.rmdir(tmp_base)


if __name__ == "__main__":
    sys.exit(main())
