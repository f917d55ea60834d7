"""Outside-in tracer for the benchmark.

Everything here observes the package from outside: it wraps public
functions at the module attribute their callers look up, counts py4j
round-trips, reads Spark's status store, and listens to streaming
progress.  Nothing in the package is edited.

- ``Tracer.span`` keeps spans (name, start, end, parent, run id) in
  memory; ``Tracer.dump`` writes them out as JSON lines.
- ``Tracer.wrap`` puts a span around a module function and sets the
  Spark job group to the span name for the call, so the jobs a call
  launches can be attributed to its layer.
- ``Py4jCounter`` counts ``send_command`` round-trips made by the main
  thread while it is installed, charged to the innermost open span.
- ``read_jobs`` reads every job (and its stages) newer than a given job
  id from the status store, which keeps only the last 1000 jobs, so it
  is called after every iteration.
- ``ProgressListener`` records every streaming progress event.
- ``PhaseListener`` records the Catalyst phase times (analysis,
  optimization, planning) of every executed query.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    run_id: str = ""
    py4j_calls: int = 0  # round-trips made while this was the innermost span

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)
    spark: object = None  # set to enable per-call job groups

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, time.perf_counter(), parent=parent, run_id=self.run_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].name if self._stack else None)

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        with Py4jCounter.paused():
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", name)

    def current(self) -> Span | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def wrap(self, owner: object, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper.  ``before(args,
        kwargs)`` runs just before the span opens and ``after(args,
        kwargs, result)`` inside it once the call returns; py4j calls
        they make are not counted."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            if before is not None:
                with Py4jCounter.paused():
                    before(args, kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
                if after is not None:
                    with Py4jCounter.paused():
                        after(args, kwargs, result)
                return result

        traced.__wrapped__ = fn
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def self_seconds(self, since: int = 0) -> dict[str, float]:
        """Per layer: span time not covered by child spans (children
        run inside their parent on one thread, so they never overlap)."""
        child = [0.0] * len(self.spans)
        for s in self.spans[since:]:
            if s.parent >= since:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans[since:], since):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


class Py4jCounter:
    """Counts py4j ``send_command`` calls from the installing thread,
    charging each to ``tracer.current()``.  Pausable, so the tracer's
    own status-store reads are not counted."""

    _active: "Py4jCounter | None" = None

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.total = 0
        self._thread = threading.get_ident()
        self._paused = 0
        self._originals: list[tuple[type, object]] = []

    def install(self) -> "Py4jCounter":
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            self._originals.append((cls, orig))

            def counted(conn, command, _orig=orig):
                if not self._paused and threading.get_ident() == self._thread:
                    self.total += 1
                    cur = self.tracer.current()
                    if cur is not None:
                        cur.py4j_calls += 1
                return _orig(conn, command)

            cls.send_command = counted
        Py4jCounter._active = self
        return self

    def uninstall(self) -> None:
        while self._originals:
            cls, orig = self._originals.pop()
            cls.send_command = orig
        Py4jCounter._active = None

    @classmethod
    @contextlib.contextmanager
    def paused(cls):
        me = cls._active
        if me is not None:
            me._paused += 1
        try:
            yield
        finally:
            if me is not None:
                me._paused -= 1


STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes", "inputBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "peakExecutionMemory",
)


def read_jobs(spark, after_job_id: int, seen_stages: set[int]) -> tuple[list[dict], list[dict]]:
    """Jobs with id > ``after_job_id`` from the status store (job id,
    job group, stage and skipped-stage counts), and the task
    metrics of each stage they ran that is not in ``seen_stages`` (a
    reused shuffle stage keeps its id, so it is counted once)."""
    from py4j.protocol import Py4JJavaError

    with Py4jCounter.paused():
        store = spark.sparkContext._jsc.sc().statusStore()
        seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        jobs, stages = [], []
        for j in seq(store.jobsList(None)):
            jid = j.jobId()
            if jid <= after_job_id:
                continue
            group = j.jobGroup()
            sids = list(seq(j.stageIds()))
            jobs.append(
                {
                    "id": jid,
                    "group": group.get() if group.isDefined() else None,
                    "stages": len(sids),
                    "skipped": j.numSkippedStages(),
                }
            )
            for sid in sids:
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never attempted
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                seen_stages.add(sid)
                stages.append({"id": sid, **{f: getattr(st, f)() for f in STAGE_FIELDS}})
        return jobs, stages


def last_job_id(spark) -> int:
    with Py4jCounter.paused():
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        ids = [j.jobId() for j in spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(jobs)]
    return max(ids, default=-1)


class ProgressListener(StreamingQueryListener):
    """Records each streaming progress event as a small dict, and which
    queries have terminated, so a caller can wait for the asynchronous
    listener bus to deliver every event of a finished query."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._lock = threading.Lock()
        self._cv = threading.Condition(self._lock)

    def onQueryStarted(self, event):
        with self._cv:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "name": p.name,
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows": s.numRowsTotal,
                    "mem": s.memoryUsedBytes,
                    "commit_ms": s.commitTimeMs,
                }
                for s in p.stateOperators
            ],
        }
        with self._cv:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def drain(self, timeout: float = 60.0) -> list[dict]:
        """Wait until every started query has reported termination, then
        hand over (and forget) the progress events recorded so far."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while not self.started <= self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for {self.started - self.terminated}")
                self._cv.wait(left)
            out, self.progress = self.progress, []
            return out


class PhaseListener:
    """py4j implementation of Spark's ``QueryExecutionListener``: sums
    the analysis, optimization and planning milliseconds that each
    executed query's ``QueryPlanningTracker`` recorded.  Callbacks
    arrive on the listener bus, so call ``take`` after
    ``flush_listener_bus``."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.ms = 0
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in self.PHASES if phases.contains(p))
        with self._lock:
            self.ms += ms

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> int:
        """Milliseconds summed since the last ``take``."""
        with self._lock:
            out, self.ms = self.ms, 0
            return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def install_listeners(spark):
    """Register a ``PhaseListener`` and a ``ProgressListener``."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    phases, progress = PhaseListener(), ProgressListener()
    spark._jsparkSession.listenerManager().register(phases)
    spark.streams.addListener(progress)
    return phases, progress


def flush_listener_bus(spark) -> None:
    with Py4jCounter.paused():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
