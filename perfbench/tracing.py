"""Layer tracing from outside the engine.

Everything here wraps calls INTO the engine's public functions; nothing
inside the package is instrumented. A traced op records:

* Python spans (name, layer, start, end, parent) around each public call
  the workload makes (builder, sources, sinks, actions, drains);
* Catalyst phase spans (analysis / optimization / planning) from
  ``QueryExecution.tracker().phases()`` of every query that completes,
  delivered by a ``QueryExecutionListener`` — so a write, which builds its
  own QueryExecution, is counted once, under the write;
* execution spans: the union of the op's job intervals, read with the
  per-op job group from the live status store, plus per-stage executor
  run/CPU/GC time, shuffle, spill and input/output counters;
* streaming micro-batch phases from a ``StreamingQueryListener``.

A span's self time is its duration minus the part its children cover;
the ``op`` root's self time is time no layer accounts for. An op
reconciles when the sum of its layers' self times is within
``RECONCILE_TOL`` of the op wall (or within ``RECONCILE_FLOOR_S``): time
no layer accounts for and time two layers both claim both count against
it.

With tracing off every method is a no-op except the streaming listener,
which the stream workload also needs for its untraced per-batch times.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field

RECONCILE_TOL = 0.05
RECONCILE_FLOOR_S = 0.010

# a span's self time is charged to its layer
LAYERS = ("session", "sources", "builder", "catalyst", "execution", "sinks",
          "streaming")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    derived: bool = False  # built from Spark timestamps, not a Python call
    children: list[int] = field(default_factory=list)


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in _merge(intervals))


class StreamListener:
    """Collects every micro-batch progress of the session's streams."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: list[dict] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "run_id": str(p.runId), "name": p.name, "batch": p.batchId,
                    "timestamp": p.timestamp, "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with outer._lock:
                    outer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


_STAGE_KEYS = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read", "shuffle_write",
               "spill", "in_rows", "in_bytes", "out_rows", "out_bytes")


def _job_totals(jobs: list[dict], lo: float, hi: float) -> dict:
    stages = [s for j in jobs for s in j["stages"]]
    out = {"jobs": len(jobs), "stages": len(stages),
           "exec_wall_s": covered([(j["start"], j["end"]) for j in jobs], lo, hi)}
    for key in _STAGE_KEYS:
        out[key] = sum(s[key] for s in stages)
    return out


def _reconciled(wall: float, attributed: float) -> bool:
    return abs(wall - attributed) <= max(RECONCILE_FLOOR_S, RECONCILE_TOL * wall)


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.enabled = False
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.ops: list[dict] = []   # per-op layer record
        self._op_idx = 0
        self._phases: list[tuple[str, float, float]] = []
        self._qe_lock = threading.Lock()
        self._qel = None
        self.stream = None

    def enable(self) -> None:
        self.enabled = True
        if self._qel is None:
            self._qel = self._qe_listener()
        self.spark._jsparkSession.listenerManager().register(self._qel)

    def disable(self) -> None:
        """Untraced again: no spans, no job groups, no query-execution
        callbacks (the streaming listener stays; untraced rounds use it)."""
        if self.enabled:
            self.enabled = False
            self.spark._jsparkSession.listenerManager().unregister(self._qel)

    # -- listeners ---------------------------------------------------------

    def _qe_listener(self):
        from pyspark.java_gateway import ensure_callback_server_started

        tracer = self
        gw = self.spark.sparkContext._gateway

        class _QEListener:
            def onSuccess(self, func_name, qe, duration_ns):
                tracer._record_phases(qe)

            def onFailure(self, func_name, qe, exc):
                tracer._record_phases(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        ensure_callback_server_started(gw)
        return _QEListener()

    def _record_phases(self, qe) -> None:
        phases = qe.tracker().phases()
        it = phases.iterator()
        got = []
        while it.hasNext():
            kv = it.next()
            ps = kv._2()
            got.append((kv._1(), ps.startTimeMs() / 1000.0, ps.endTimeMs() / 1000.0))
        with self._qe_lock:
            self._phases.extend(got)

    def stream_listener(self) -> StreamListener:
        if self.stream is None:
            self.stream = StreamListener(self.spark)
        return self.stream

    def flush(self) -> None:
        """Wait until the listener bus has delivered every pending event
        (status store updates, query-execution and streaming callbacks)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, layer: str, start: float) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, start, start, parent))
        i = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(i)
        self._stack.append(i)
        return i

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        i = self._open(name, layer, time.time())
        try:
            yield
        finally:
            self.spans[i].end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        """One op: its own job group and root span."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        self._op_idx += 1
        group = f"perfbench-op-{self._op_idx}"
        sc.setJobGroup(group, kind)
        with self._qe_lock:
            self._phases = []
        root = self._open("op", "op", time.time())
        try:
            yield
        finally:
            self.spans[root].end = time.time()
            self._stack.pop()
            sc._jsc.clearJobGroup()
            self._close_op(root, group, kind)

    # -- per-op scraping ---------------------------------------------------

    def _attach(self, name: str, layer: str, a: float, b: float, root: int) -> None:
        """Hang a derived span under the innermost Python span of the op
        that contains its start."""
        hosts = [k for k in self._subtree(root) if not self.spans[k].derived
                 and self.spans[k].start <= a <= self.spans[k].end]
        host = min(hosts, key=lambda k: self.spans[k].end - self.spans[k].start, default=root)
        self.spans.append(Span(name, layer, a, b, host, derived=True))
        self.spans[host].children.append(len(self.spans) - 1)

    def _jobs(self, group: str) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            j = store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            stages = []
            for sid in str(j.stageIds().mkString(",")).split(","):
                if not sid:
                    continue
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # NoSuchElementException: never attempted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                stages.append({
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1e3,
                    "shuffle_read": st.shuffleReadBytes(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "in_rows": st.inputRecords(), "in_bytes": st.inputBytes(),
                    "out_rows": st.outputRecords(), "out_bytes": st.outputBytes(),
                })
            jobs.append({"start": sub.get().getTime() / 1e3,
                         "end": done.get().getTime() / 1e3, "stages": stages})
        return jobs

    def _close_op(self, root: int, group: str, kind: str) -> None:
        self.flush()
        jobs = self._jobs(group)
        r = self.spans[root]
        with self._qe_lock:
            phases = [p for p in self._phases if r.start <= p[1] <= r.end]
        for name, a, b in phases:
            self._attach(f"catalyst.{name}", "catalyst", a, b, root)
        # union of job intervals, so concurrent jobs are not counted twice
        for a, b in _merge([(j["start"], j["end"]) for j in jobs]):
            self._attach("execution.jobs", "execution", max(a, r.start), min(b, r.end), root)
        rec = {"kind": kind, "wall_s": r.end - r.start,
               **_job_totals(jobs, r.start, r.end)}
        for name in ("analysis", "optimization", "planning"):
            rec[f"catalyst_{name}_s"] = sum(b - a for n, a, b in phases if n == name)
        # named Python spans (total wall) and job counts inside them
        for k in self._subtree(root):
            s = self.spans[k]
            if s.derived or s.layer == "op":
                continue
            rec[f"span:{s.name}"] = rec.get(f"span:{s.name}", 0.0) + s.end - s.start
            rec[f"jobs:{s.name}"] = rec.get(f"jobs:{s.name}", 0) + sum(
                1 for j in jobs if s.start <= j["start"] <= s.end)
        self_t = {layer: 0.0 for layer in LAYERS}
        unattributed = 0.0
        for k in self._subtree(root):
            s = self.spans[k]
            kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
            own = (s.end - s.start) - covered(kids, s.start, s.end)
            if s.layer == "op":
                unattributed += own
            else:
                self_t[s.layer] += own
        rec["self"] = self_t
        rec["unattributed_s"] = unattributed
        rec["reconciled"] = _reconciled(rec["wall_s"], sum(self_t.values()))
        self.ops.append(rec)

    def _subtree(self, root: int) -> list[int]:
        out, stack = [], [root]
        while stack:
            k = stack.pop()
            out.append(k)
            stack.extend(self.spans[k].children)
        return out

    def add_stream_round(self, progress: list[dict], wall_s: float) -> None:
        """One op per micro-batch: the trigger's `durationMs` phases are
        its (streaming) layers and what they do not itemize is
        unattributed. Jobs run under each query's run id as job group;
        their totals are shared evenly by the round's batches."""
        with self._qe_lock:
            self._phases = []  # write QEs of the drains: not split per batch
        if not progress:
            return
        jobs = [j for run in {p["run_id"] for p in progress} for j in self._jobs(run)]
        share = {k: v / len(progress)
                 for k, v in _job_totals(jobs, 0.0, float("inf")).items()}
        outside = (wall_s - sum(p["duration_ms"].get("triggerExecution", 0)
                                for p in progress) / 1e3) / len(progress)
        for p in progress:
            d = p["duration_ms"]
            trig = d.get("triggerExecution", 0) / 1e3
            phases = {k: v / 1e3 for k, v in d.items() if k != "triggerExecution"}
            itemized = sum(phases.values())
            self.ops.append({
                "kind": p["name"], "wall_s": trig, "streaming": phases, **share,
                "outside_trigger_s": outside, "state_rows": p["state_rows"],
                "state_bytes": p["state_bytes"],
                "self": {layer: itemized if layer == "streaming" else 0.0 for layer in LAYERS},
                "unattributed_s": trig - itemized,
                "reconciled": _reconciled(trig, itemized),
            })

    def spans_json(self) -> list[dict]:
        return [{"id": i, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent} for i, s in enumerate(self.spans)]
