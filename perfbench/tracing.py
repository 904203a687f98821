"""Tracing from outside the program, for ``--trace 1`` runs.

* ``Spans`` wraps public functions of the package's modules with timing
  spans. It replaces the module attribute, and every other binding of the
  same function object made by ``from ... import``, so it must run
  before ``__spark_entry__`` is imported and again after (``sweep``).
  ``functools.wraps`` keeps each wrapper's module and qualname, so
  cloudpickle still ships the original function to Python workers by
  reference.
* ``StreamStats`` is a ``StreamingQueryListener`` summing micro-batch
  progress.
* ``job_counts`` reads a job group's jobs, stages and tasks from the
  status tracker.
* ``proc_status_kb`` / ``proc_io`` / ``group_cpu_s`` read ``/proc`` for
  peak RSS, bytes written and CPU time.
"""

from __future__ import annotations

import fnmatch
import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PKG = "tdei_backend_service_spark"

# (module or package, name patterns): which public functions get a span.
# Spans go around entry points an op reaches, not around per-row helpers.
SPAN_TARGETS = (
    ("session", ("get_spark",)),
    ("backend_service", ("validate_request", "dispatch")),
    ("core.join", ("two_phase_join",)),
    ("operators.bbox", ("bbox_intersect",)),
    ("operators.spatial_join", ("spatial_join",)),
    ("operators.tag_road", ("dataset_tag_road", "knn_join")),
    ("operators.union_dataset", ("union_dataset", "incremental_union_dataset")),
    ("operators.graph", ("*",)),
    ("operators.trajectory", ("*",)),
    ("pipeline.dedup", ("*",)),
    ("streaming", ("run_*", "start_*")),
    ("io.osm_xml", ("export_osm_xml",)),
    ("io.tile_store", ("write_tile_layout",)),
)


def _public_functions(mod, patterns):
    for name, obj in vars(mod).items():
        if (inspect.isfunction(obj) and obj.__module__ == mod.__name__
                and not name.startswith("_")
                and any(fnmatch.fnmatchcase(name, p) for p in patterns)):
            yield name, obj


def _target_modules(spec):
    mod = importlib.import_module(f"{PKG}.{spec}")
    if hasattr(mod, "__path__"):  # a package: every submodule
        for info in pkgutil.iter_modules(mod.__path__):
            yield importlib.import_module(f"{mod.__name__}.{info.name}")
    else:
        yield mod


class Spans:
    """Per-name call counts, total and self seconds. Self time excludes
    the time of spans opened inside the span (per thread)."""

    def __init__(self):
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._wrapped: dict = {}  # original function -> wrapper
        self.calls = defaultdict(int)
        self.total_s = defaultdict(float)
        self.self_s = defaultdict(float)

    def reset(self):
        with self._lock:
            self.calls.clear()
            self.total_s.clear()
            self.self_s.clear()

    def _wrap(self, name, fn):
        spans = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not spans.enabled:
                return fn(*args, **kwargs)
            stack = getattr(spans._local, "stack", None)
            if stack is None:
                stack = spans._local.stack = []
            stack.append(0.0)  # child seconds accumulate here
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                with spans._lock:
                    spans.calls[name] += 1
                    spans.total_s[name] += dt
                    spans.self_s[name] += dt - child
        return wrapper

    def install(self):
        for spec, patterns in SPAN_TARGETS:
            for mod in _target_modules(spec):
                short = mod.__name__[len(PKG) + 1:]
                for fname, fn in _public_functions(mod, patterns):
                    if fn not in self._wrapped:
                        self._wrapped[fn] = self._wrap(f"{short}.{fname}", fn)
                    setattr(mod, fname, self._wrapped[fn])
        self.sweep()

    def sweep(self):
        """Rebind every module-level alias of a wrapped function."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "__spark_entry__"
                                   or modname.startswith(PKG)):
                continue
            for attr, obj in list(vars(mod).items()):
                try:
                    w = self._wrapped.get(obj)
                except TypeError:  # unhashable module attribute
                    continue
                if w is not None and obj is not w:
                    setattr(mod, attr, w)

    def snapshot(self) -> dict:
        with self._lock:
            return {n: {"calls": self.calls[n], "total_s": self.total_s[n],
                        "self_s": self.self_s[n]} for n in self.calls}


def make_stream_stats():
    """A StreamingQueryListener that sums micro-batch progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self.totals = defaultdict(float)

        def reset(self):
            with self._lock:
                self.totals.clear()

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            with self._lock:
                t = self.totals
                t["batches"] += 1
                t["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
                t["addbatch_s"] += d.get("addBatch", 0) / 1000.0
                t["wal_commit_s"] += d.get("walCommit", 0) / 1000.0
                t["state_rows"] += sum(o.numRowsTotal for o in ops)
                t["state_bytes"] += sum(o.memoryUsedBytes for o in ops)
                t["state_commit_s"] += sum(o.commitTimeMs for o in ops) / 1000.0

        def snapshot(self) -> dict:
            with self._lock:
                return dict(self.totals)

    return StreamStats()


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), stages, tasks


def proc_status_kb(pid: int, key: str) -> int:
    """A ``kB`` field of /proc/<pid>/status, such as VmHWM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def proc_io(pid: int, key: str = "write_bytes") -> int:
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def group_cpu_s(pgid: int) -> float:
    """User + system CPU seconds of every live process in a process group,
    including the children each has reaped (Python workers forked by the
    PySpark daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            total += sum(int(x) for x in fields[11:15])
    return total / tick
