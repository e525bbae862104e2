"""Benchmark-side tracing: in-memory spans around calls into the program's
layers, plus a parser for Spark's own event log.

Spans are recorded by wrapping public functions from the benchmark's files;
nothing inside the package is instrumented. Every span has a name, start,
end, parent span and a trace id (one per query, pass or request).
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "nyc_taxi_pyspark_spark"


class Tracer:
    """Spans and counts of one process, kept in memory until ``dump``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        # when False, wrappers call straight through (the untraced baseline
        # inside a traced run)
        self.enabled = True
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- context ------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_trace(self, trace_id: str | None) -> None:
        """Tag spans opened by this thread from now on with ``trace_id``."""
        self._local.trace = trace_id

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def _open(self, name: str) -> dict:
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "trace": getattr(self._local, "trace", None),
            "start": time.time(),
            "end": None,
        }
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is rec:
            stack.pop()
        with self._lock:
            self.spans.append(rec)

    # -- wrapping -----------------------------------------------------------
    def wrap(self, fn, name: str):
        """``fn`` with a span named ``name`` around each call, while enabled."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            self.count(name)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_everywhere(self, fn, name: str) -> int:
        """Replace every binding of ``fn`` in the package with a traced
        wrapper; returns the number of bindings replaced."""
        return replace_everywhere(fn, self.wrap(fn, name))

    # -- reporting ----------------------------------------------------------
    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        payload = {
            "spans": sorted(self.spans, key=lambda s: s["id"]),
            "self_times_s": self_times(self.spans),
            "counts": dict(self.counts),
        }
        if extra:
            payload.update(extra)
        with open(path, "w") as f:
            json.dump(payload, f, default=str)


def replace_everywhere(orig, new) -> int:
    """Rebind every module-level name in the package's loaded modules that
    refers to ``orig`` (``from x import f`` copies the binding) to ``new``."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, attr, new)
                n += 1
    return n


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part of
    its interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        dur = s["end"] - s["start"]
        out[s["name"]] += dur - _covered(children.get(s["id"], []), s["start"], s["end"])
    return dict(out)


# ---------------------------------------------------------------- event log


def event_log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``, in write order. Handles both the
    rolling layout (``eventlog_v2_<app>/events_<N>_<app>``) and single-file
    logs."""
    files: list[tuple[tuple, str]] = []
    for root, _dirs, names in os.walk(log_dir):
        for name in names:
            if name.startswith((".", "appstatus_")):
                continue
            idx = int(name.split("_")[1]) if name.startswith("events_") else 0
            files.append(((root, idx), os.path.join(root, name)))
    return [p for _k, p in sorted(files)]


def _new_agg() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_ms": 0,
        "executor_cpu_ns": 0,
        "gc_ms": 0,
        "task_ms": 0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "input_records": 0,
        "output_bytes": 0,
        "output_records": 0,
    }


def parse_event_log(paths: list[str]) -> dict:
    """Per-job records from Spark event-log JSON lines.

    Returns ``{"jobs": {job_id: {...}}}`` where each job has its submission
    time (epoch ms), ``group`` (``spark.jobGroup.id`` or None) and totals of
    its executed stages and their tasks' metrics. Stages a job skipped
    (reused shuffle output) are not counted.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a truncated last line of a live log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    rec = _new_agg()
                    rec.update(
                        submitted_ms=ev.get("Submission Time"),
                        group=props.get("spark.jobGroup.id"),
                        jobs=1,
                    )
                    jobs[jid] = rec
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    jid = stage_job.get(sid)
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid not in jobs:
                        continue
                    rec = jobs[jid]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    launch, finish = info.get("Launch Time"), info.get("Finish Time")
                    if launch and finish:
                        rec["task_ms"] += finish - launch
                    rec["executor_run_ms"] += m.get("Executor Run Time", 0)
                    rec["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
                    rec["gc_ms"] += m.get("JVM GC Time", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    im = m.get("Input Metrics") or {}
                    rec["input_bytes"] += im.get("Bytes Read", 0)
                    rec["input_records"] += im.get("Records Read", 0)
                    om = m.get("Output Metrics") or {}
                    rec["output_bytes"] += om.get("Bytes Written", 0)
                    rec["output_records"] += om.get("Records Written", 0)
    return {"jobs": jobs}


def sum_jobs(jobs) -> dict:
    out = _new_agg()
    for rec in jobs:
        for k in out:
            out[k] += rec[k]
    return out


def attribute_jobs(jobs: dict, windows: list[tuple[str, float, float]], prefix: str) -> dict:
    """Assign each job to a key: its job group when the benchmark set it
    (groups starting with ``prefix``), else the window ``(key, start_s,
    end_s)`` its submission time falls in. Unmatched jobs go to None."""
    by_key: dict = defaultdict(list)
    ordered = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in ordered]
    for rec in jobs.values():
        group = rec.get("group")
        if group and group.startswith(prefix):
            by_key[group[len(prefix):]].append(rec)
            continue
        t = (rec.get("submitted_ms") or 0) / 1000.0
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and t <= ordered[i][2]:
            by_key[ordered[i][0]].append(rec)
        else:
            by_key[None].append(rec)
    return by_key
