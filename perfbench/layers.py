"""Timing and tracing of the calls the benchmark makes into the program.

``Recorder.op`` times one client operation (a call into a layer made by
the benchmark itself). With tracing on, ``Recorder.patch`` also wraps
public functions inside the program, replacing every module attribute
that is bound to the original — so a function imported by name into
another module is traced at that call site too. Every span records its
name, layer, start, end, parent span and operation id, plus the Spark
jobs and tasks started while it was open (counted from the scheduler's
job-id sequence, so jobs launched from the program's own threads are
included; a job group named after the span is also set). Spans stay in
memory and are written out when the run ends.

Spark DataFrames are lazy: a span around a function that only builds a
plan covers planning, and the execution is charged to the span of the
action that runs it (the query, read or write operation).
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

from perfbench.procs import tree_cpu_s

PROGRAM_PACKAGE = "hbase_compact_spark"
def _layer_of(module: str) -> str:
    name = module.removeprefix(PROGRAM_PACKAGE + ".")
    if name.startswith("workload_") or name == "registry":
        return "workload"
    return name


class Recorder:
    def __init__(self, trace: bool):
        self.trace = trace
        # (step index or None, operation, wall seconds, CPU seconds)
        self.calls: list[tuple[int | None, str, float, float]] = []
        self.step: int | None = None
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_span = 0
        self._next_op = 0
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []
        # reports cover spans that start at or after this time (the
        # measured phase); earlier spans are still written out
        self.phase_start = 0.0

    # ------------------------------------------------------------ spark
    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _tasks(self, first_job: int, end_job: int) -> int:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        n = 0
        for jid in range(first_job, end_job):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    # ------------------------------------------------------------ spans
    def _span(self, name: str, layer: str, fn, args, kwargs, root: bool):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        t_in = time.perf_counter()
        with self._lock:
            sid = self._next_span
            self._next_span += 1
            if root or not stack:
                self._next_op += 1
                op = self._next_op
            else:
                op = stack[-1][1]
        parent = stack[-1][0] if stack else None
        job0 = self._job_id() if self._sc is not None else 0
        if self._sc is not None:
            self._sc.setJobGroup(name, name)
        stack.append((sid, op))
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - t_in
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            jobs = tasks = 0
            if self._sc is not None:
                job1 = self._job_id()
                jobs = job1 - job0
                tasks = self._tasks(job0, job1)
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "parent": parent,
                        "op": op,
                        "name": name,
                        "layer": layer,
                        "start": t0,
                        "end": t1,
                        "jobs": jobs,
                        "tasks": tasks,
                    }
                )
            self.bookkeeping_s += time.perf_counter() - t1

    def op(self, name: str, layer: str, fn, *args, **kwargs):
        """Run one client operation and record its wall and CPU time
        under ``name``; traced runs also record it as a root span."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        if self.trace:
            out = self._span(name, layer, fn, args, kwargs, root=True)
        else:
            out = fn(*args, **kwargs)
        self.calls.append((self.step, name, time.perf_counter() - t0, tree_cpu_s() - c0))
        return out

    # --------------------------------------------------------- patching
    def patch(self, targets: list[tuple[object, str]]) -> None:
        """Wrap each ``(owner, attr)`` function and rebind every loaded
        program module attribute (and class attribute) that refers to
        the same function object."""
        for owner, attr in targets:
            orig = getattr(owner, attr)
            fn = getattr(orig, "__func__", orig)
            module = getattr(fn, "__module__", PROGRAM_PACKAGE)
            qual = f"{_layer_of(module)}.{fn.__qualname__}"
            wrapper = self._wrapper(fn, qual, _layer_of(module))
            if isinstance(owner, type):
                self._rebind(owner, attr, wrapper)
                continue
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "")
                if not (mname.startswith(PROGRAM_PACKAGE) or mname.startswith("perfbench")):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is fn:
                        self._rebind(mod, key, wrapper)

    def _wrapper(self, fn, qual: str, layer: str):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return rec._span(qual, layer, fn, args, kwargs, root=False)

        return traced

    def _rebind(self, owner, key: str, new) -> None:
        self._patched.append((owner, key, getattr(owner, key)))
        setattr(owner, key, new)

    def unpatch(self) -> None:
        for owner, key, old in reversed(self._patched):
            setattr(owner, key, old)
        self._patched.clear()

    # ---------------------------------------------------------- reports
    def _measured(self) -> list[dict]:
        return [sp for sp in self.spans if sp["start"] >= self.phase_start]

    def by_name(self) -> dict[str, dict]:
        """Inclusive seconds, calls, jobs and tasks per span name."""
        out: dict[str, dict] = defaultdict(lambda: {"s": 0.0, "calls": 0, "jobs": 0, "tasks": 0})
        for sp in self._measured():
            agg = out[sp["name"]]
            agg["s"] += sp["end"] - sp["start"]
            agg["calls"] += 1
            agg["jobs"] += sp["jobs"]
            agg["tasks"] += sp["tasks"]
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover,
        summed per layer."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append((sp["start"], sp["end"]))
        out: dict[str, float] = defaultdict(float)
        for sp in self._measured():
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(sp["id"], [])):
                lo, hi = max(lo, sp["start"]), min(hi, sp["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[sp["layer"]] += (sp["end"] - sp["start"]) - covered
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
