"""Tracing for ``--trace 1`` runs: spans and Spark job ledgers.

Spans are recorded only from the benchmark's own files, around calls into
the package's public functions (see ``patch_functions``); nothing inside
the package changes.  Spans and the counts the workloads derive stay in
memory and are written as one JSON file when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent, run
    id); parents follow the call stack of the thread that opened them."""

    def __init__(self, run_id: str, job_count=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # job_count() -> number of Spark jobs submitted so far by this
        # thread's job group; lets each span carry the jobs it launched.
        self._job_count = job_count

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        jobs0 = self._job_count() if self._job_count else 0
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "parent": stack[-1] if stack else None,
                "run": self.run_id, "start": time.perf_counter(), "end": None,
                "jobs": 0,
            })
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec = self.spans[sid]
            rec["end"] = time.perf_counter()
            if self._job_count:
                rec["jobs"] = self._job_count() - jobs0

    def self_times(self, runs: set[str] | None = None) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds, self seconds (span minus
        its direct children, which nest inside it) and self jobs; only
        spans of ``runs`` when given."""
        spans = [s for s in self.spans if runs is None or s["run"] in runs]
        child_s: dict[int, float] = defaultdict(float)
        child_j: dict[int, int] = defaultdict(int)
        for s in spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
                child_j[s["parent"]] += s["jobs"]
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            if s["end"] is None:
                continue
            d = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0})
            dur = s["end"] - s["start"]
            d["calls"] += 1
            d["total_s"] += dur
            d["self_s"] += max(0.0, dur - child_s[s["id"]])
            d["jobs"] += s["jobs"] - child_j[s["id"]]
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({
                "run": self.run_id, "spans": self.spans,
                "self_times": self.self_times(), **(extra or {}),
            }, f)


def public_functions(module: types.ModuleType) -> dict[str, types.FunctionType]:
    return {
        n: f for n, f in vars(module).items()
        if inspect.isfunction(f) and f.__module__ == module.__name__ and not n.startswith("_")
    }


def patch_functions(module: types.ModuleType, binders: list[types.ModuleType],
                    wrap, names: set[str] | None = None) -> list[tuple]:
    """Replace every public function ``fn`` of ``module`` (or only those in
    ``names``) by ``wrap(fn)``, both on the module and wherever a
    ``binders`` module bound it by name (``from module import fn``).
    Returns the undo list for ``restore``."""
    undo: list[tuple] = []
    for name, fn in public_functions(module).items():
        if names is not None and name not in names:
            continue
        wrapper = wrap(fn)
        for owner in [module, *binders]:
            for attr, val in list(vars(owner).items()):
                if val is fn:
                    undo.append((owner, attr, fn))
                    setattr(owner, attr, wrapper)
    return undo


def span_wrapper(tracer: Tracer, span_name: str):
    """``wrap`` argument for ``patch_functions``: one span per call."""

    def wrap(fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(span_name):
                return fn(*a, **kw)

        return wrapper

    return wrap


def package_modules(prefix: str) -> list[types.ModuleType]:
    import sys

    return [m for n, m in list(sys.modules.items()) if n.startswith(prefix) and m is not None]


def restore(undo: list[tuple]) -> None:
    for owner, attr, fn in reversed(undo):
        setattr(owner, attr, fn)


class JobLedger:
    """Jobs, stages, tasks, shuffle and spill of a Spark job group, read
    from the status tracker and the application status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self._tracker = self.sc.statusTracker()

    def job_ids(self, group: str, batches: set[int] | None = None) -> list[int]:
        """Jobs of a job group; with ``batches``, only the jobs of those
        micro-batches (a streaming job's description names its batch)."""
        ids = list(self._tracker.getJobIdsForGroup(group))
        return ids if batches is None else [j for j in ids if self._batch_of(j) in batches]

    def _batch_of(self, job_id: int) -> int | None:
        try:
            desc = self._store.job(job_id).description()
        except Py4JJavaError:
            return None  # no longer retained by the status store
        m = re.search(r"\bbatch = (\d+)", desc.get()) if desc.isDefined() else None
        return int(m.group(1)) if m else None

    def summarize(self, job_ids: list[int]) -> dict[str, float]:
        stages: set[int] = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "run_time_ms": 0}
        for sid in stages:
            try:
                data = self._store.stageData(sid, False, None, False, self._empty)
            except Py4JJavaError:
                continue  # no longer retained by the status store
            attempts = [data.apply(i) for i in range(data.size())]
            attempts = [sd for sd in attempts if sd.status().toString() != "SKIPPED"]
            if attempts:
                out["stages"] += 1
            for sd in attempts:
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["run_time_ms"] += sd.executorRunTime()
        return out

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


class ProgressListener:
    """The benchmark's StreamingQueryListener: keeps every progress event
    of the session's streaming query, in trigger order."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events: list = []
        terminated = threading.Event()
        self.events = events
        self._terminated = terminated

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                terminated.set()

        self.listener = _Listener()

    def wait_terminated(self, timeout: float) -> bool:
        """Events arrive asynchronously, in order; once the termination
        event came, every progress event before it has too."""
        return self._terminated.wait(timeout)


OPERATOR_MODULES = ("dedup", "bloom")


def layer_metrics(values: dict[str, float], per_layer: list[dict], log=None) -> dict[str, dict]:
    """Every metric of ``per_layer`` (BENCHMARK.json's list), in order.  A
    layer the workload does not exercise reads 0 and is named in the log,
    so a zero is never mistaken for a measurement."""
    names = [m["name"] for m in per_layer]
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    absent = [n for n in names if n not in values]
    if absent and log is not None:
        log(f"not exercised by this workload (reported as 0): {', '.join(absent)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in per_layer}
