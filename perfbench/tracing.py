"""Tracing for the per-layer run, all from outside the program.

- :class:`Recorder` keeps spans (name, start, end, parent, operation id) in
  memory; :func:`Recorder.wrap_module` replaces public functions of a
  program module with span-recording wrappers, so every call the program
  makes through ``module.fn`` is timed without touching its source.
- :func:`parse_event_log` reads Spark's own event log and attributes each
  job (by submit time) and its tasks to the innermost span open then.
- :func:`make_stream_listener` builds a ``StreamingQueryListener``
  collecting micro-batch progress for the ``streaming.*`` metrics.
- :func:`inode_set` snapshots a directory tree for write-amplification,
  file and hardlink counts.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import inspect
import json
import os
import threading
import time


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "op")

    def __init__(self, sid: int, name: str, start: float, parent: int | None, op: int | None):
        self.sid, self.name, self.start, self.parent, self.op = sid, name, start, parent, op
        self.end: float | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Recorder:
    """In-memory span recorder. Disabled recorders cost one attribute test
    per wrapped call, so untraced passes of a traced run stay comparable."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        st = self._stack()
        # a callback thread (foreachBatch) parents under the main thread's
        # innermost span: that is the call that caused it
        top = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), top.sid if top else None, self.op)
            self.spans.append(sp)
        st.append(sp)
        return sp

    def end(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()

    def wrap(self, fn, name: str):
        rec = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            sp = rec.begin(name)
            try:
                return fn(*a, **kw)
            finally:
                rec.end(sp)

        wrapper.__perfbench_wrapped__ = True
        return wrapper

    def wrap_module(self, module, prefix: str) -> int:
        """Wrap the module's public functions defined in it (not imports)."""
        n = 0
        for attr, obj in list(vars(module).items()):
            if attr.startswith("_"):
                continue
            if not inspect.isfunction(obj) or obj.__module__ != module.__name__:
                continue
            if getattr(obj, "__perfbench_wrapped__", False):
                continue
            setattr(module, attr, self.wrap(obj, f"{prefix}.{attr}"))
            n += 1
        return n

    def dump(self, path: str) -> None:
        """Write the closed spans, one JSON object a line."""
        with open(path, "w") as fh:
            for s in self.closed():
                fh.write(json.dumps({"id": s.sid, "name": s.name, "start": s.start,
                                     "end": s.end, "parent": s.parent, "op": s.op}) + "\n")

    # -- analysis -------------------------------------------------------------

    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]

    def self_times(self) -> dict[str, float]:
        """Per layer: span duration minus the union of its children's
        intervals (clipped to the parent), summed over spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.closed():
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.closed():
            covered, cur_a, cur_b = 0.0, None, None
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def innermost(self, t: float) -> Span | None:
        """Innermost closed span open at epoch time ``t`` (latest start)."""
        best = None
        for s in self.closed():
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def ancestors(self, s: Span | None):
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(log_dir: str, rec: Recorder) -> dict:
    """Jobs/stages/tasks from the event log, keeping only jobs submitted
    inside a recorded span; each job is attributed to the innermost span
    open at its submit time (Spark runs jobs lazily, inside sink writes and
    materialisation, so the enclosing span is the caller that paid)."""
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(f))
    stage_job: dict[int, int] = {}
    agg = {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "executor_cpu_s": 0.0, "gc_s": 0.0, "task_overhead_s": 0.0,
        "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
        "spill_mb": 0.0, "python_worker_mb": 0.0,
    }
    job_span: dict[int, Span] = {}
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sp = rec.innermost(ev["Submission Time"] / 1000.0)
                    if sp is None:
                        continue
                    jid = ev["Job ID"]
                    job_span[jid] = sp
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    if ev["Stage Info"]["Stage ID"] in stage_job:
                        agg["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_job:
                        continue
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    run = m.get("Executor Run Time", 0) / 1000.0
                    wall = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                    agg["executor_run_s"] += run
                    agg["task_overhead_s"] += max(0.0, wall - run)
                    agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    agg["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    agg["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                elif kind == "SparkListenerStageExecutorMetrics":
                    em = ev.get("Executor Metrics") or {}
                    py = em.get("ProcessTreePythonRSSMemory", 0) / 1e6
                    agg["python_worker_mb"] = max(agg["python_worker_mb"], py)
    agg["job_spans"] = job_span
    return agg


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event's numbers."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            states = p.stateOperators or []
            row = {
                "start": _epoch(p.timestamp),
                "input_rows": p.numInputRows or 0,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal or 0 for s in states),
                "state_bytes": sum(s.memoryUsedBytes or 0 for s in states),
                "state_commit_ms": sum(s.commitTimeMs or 0 for s in states),
            }
            with self._lock:
                self.progress.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


# ---------------------------------------------------------------------------
# Warehouse inode sets
# ---------------------------------------------------------------------------


def inode_set(root: str) -> dict[tuple[int, int], tuple[int, int]]:
    """(dev, ino) -> (size, link entries seen) for regular files under
    ``root``; symlinks (generation pointers) are not followed."""
    out: dict[tuple[int, int], tuple[int, int]] = {}
    if not os.path.isdir(root):
        return out
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            if not os.path.islink(os.path.join(dirpath, f)):
                k = (st.st_dev, st.st_ino)
                size, n = out.get(k, (st.st_size, 0))
                out[k] = (size, n + 1)
    return out


def live_inodes(root: str) -> set[tuple[int, int]]:
    """Inodes reachable through each table's current-generation pointer
    (or the plain table directory for append-only tables)."""
    live: set[tuple[int, int]] = set()
    if not os.path.isdir(root):
        return live
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if "__gen" in name:
            continue
        target = os.path.realpath(p)
        live.update(inode_set(target).keys())
    return live


def tree_bytes(root: str) -> int:
    """Bytes on disk under ``root``, hard-linked inodes counted once."""
    return sum(size for size, _n in inode_set(root).values())
