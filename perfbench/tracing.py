"""Spans around the program's public calls, plus Spark event-log
attribution of engine work to those spans.

Everything here lives in the benchmark's own process: public functions
are wrapped by replacing the module attribute the callers look up, so
the program itself is unchanged. Spans stay in memory until the run
ends; the event log is parsed once, after the Spark session stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

#: per-phase engine metrics read from the event log
ENGINE_FIELDS = (
    "jobs",
    "tasks",
    "task_busy_s",
    "driver_serial_s",
    "shuffle_mb",
    "spill_mb",
    "python_rows",
)

_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder: (name, start, end, parent) per span.

    Times are epoch seconds so spans line up with the millisecond
    timestamps Spark writes to its event log. Parents are tracked per
    thread; a call made from a pool thread (the canonicalize commit
    wave) has no parent span.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        #: spans are recorded only while active (the timed operations),
        #: so set-up and warm-up calls stay out of the per-layer numbers
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "attrs": {},
        }
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def in_span(self, name: str) -> bool:
        """True when the calling thread is inside a span called ``name``."""
        return any(self.spans[i]["name"] == name for i in self._stack())

    def wrap(self, module, attr: str, name, after=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span.

        ``name`` is a span name or a callable returning one at call
        time (one function can be several phases, depending on the
        operation that calls it). ``after(rec, args, kwargs, result)``
        may add attributes to the finished span.
        """
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            span_name = name() if callable(name) else name
            with self.span(span_name) as rec:
                result = fn(*args, **kwargs)
            if rec is not None and after is not None:
                after(rec, args, kwargs, result)
            return result

        wrapper.__wrapped__ = fn
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def top_level(self, name: str) -> list[dict]:
        """Closed spans called ``name`` that are not nested inside
        another span of the same name (helpers that call each other)."""
        return [s for s in self.closed(name) if not self._has_ancestor(s, name)]

    def _has_ancestor(self, span: dict, name: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False


# ------------------------------------------------------------ event log


def eventlog_conf(log_dir: str) -> dict:
    """Spark confs for a plain, uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _python_row_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the "number of output rows" metric of every
    plan node that runs Python workers (MapInPandas, ArrowEvalPython,
    FlatMapGroupsInPandas, ...): the node kind is recognised by its
    Python-worker metrics, not by name."""
    metrics = plan.get("metrics", [])
    if any("Python workers" in m["name"] for m in metrics):
        out.update(
            m["accumulatorId"]
            for m in metrics
            if m["name"] == "number of output rows"
        )
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def read_eventlog(log_dir: str) -> dict:
    """Jobs and tasks from every event log under ``log_dir``.

    Returns ``{"jobs": [submit_s], "tasks": [dict]}`` with epoch-second
    times; each task carries its busy time, shuffle and spill bytes and
    the rows its Python nodes returned.
    """
    py_acc: set = set()
    jobs: list[float] = []
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            events = [json.loads(line) for line in fh if line.strip()]
        for e in events:
            if "sparkPlanInfo" in e:
                _python_row_accumulators(e["sparkPlanInfo"], py_acc)
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append(e["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                tasks.append(
                    {
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0)
                        + sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "python_rows": sum(
                            int(a.get("Update", 0))
                            for a in info.get("Accumulables", [])
                            if a.get("ID") in py_acc
                        ),
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def engine_by_window(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Engine metrics of the jobs and tasks that started inside any of
    ``windows``. Attribution is by time, not job group: the commit-wave
    thread pools do not inherit job groups, and the benchmark runs one
    operation at a time, so a window holds only its own phase's work.
    ``driver_serial_s`` is window time during which no task ran."""
    out = dict.fromkeys(ENGINE_FIELDS, 0.0)
    for start, end in windows:
        out["jobs"] += sum(1 for t in log["jobs"] if start <= t <= end)
        in_win = [t for t in log["tasks"] if start <= t["launch"] <= end]
        out["tasks"] += len(in_win)
        out["task_busy_s"] += sum(t["run_s"] for t in in_win)
        out["shuffle_mb"] += sum(t["shuffle_bytes"] for t in in_win) / _MB
        out["spill_mb"] += sum(t["spill_bytes"] for t in in_win) / _MB
        out["python_rows"] += sum(t["python_rows"] for t in in_win)
        clipped = [
            (max(start, t["launch"]), min(end, t["finish"])) for t in in_win
        ]
        serial = (end - start) - _covered([c for c in clipped if c[1] > c[0]])
        out["driver_serial_s"] += max(0.0, serial)
    return out


def files_written_since(table_dir: str, since: float) -> tuple[int, int]:
    """(files, bytes) of data files under ``table_dir`` modified at or
    after ``since`` — what one write call left on disk."""
    n_files = n_bytes = 0
    for dirpath, _, names in os.walk(table_dir):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= since:
                n_files += 1
                n_bytes += st.st_size
    return n_files, n_bytes
