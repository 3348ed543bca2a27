"""Tracing for the traced run: spans recorded around calls into the
program's layers, and Spark's own job and stage counters.

Spans are kept in memory (name, start, end, parent, id) and written out
when the run ends. Wrappers are installed on the program's classes only
in traced mode and removed again afterwards; ``Tracer.enabled`` lets a
run alternate traced and untraced stretches to measure the overhead.

Spark jobs come from the driver's monitoring REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) and are attributed
to the innermost span open at the job's submission time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, key=None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "key": key,
               "parent": stack[-1] if stack else None,
               "thread": threading.get_ident(), "start": time.time()}
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, cls, attr: str, name: str, key_of=None):
        """Wrap ``cls.attr`` in a span; returns the function that undoes it."""
        orig = cls.__dict__[attr]

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, key_of(*args, **kwargs) if key_of else None):
                return orig(*args, **kwargs)

        setattr(cls, attr, wrapper)
        return lambda: setattr(cls, attr, orig)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"])
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
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


# ------------------------------------------------------------ Spark REST
def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def spark_counters(sc, settle_s: float = 0.5) -> dict:
    """Completed jobs and stages from the driver's REST API. Polls until
    the listener has caught up (job list stable, nothing running)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    prev = None
    for _ in range(40):
        jobs = _get(f"{base}/jobs")
        state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if state == prev and state[1] == 0:
            break
        prev = state
        time.sleep(settle_s)
    stages = _get(f"{base}/stages")
    return {"jobs": jobs, "stages": stages}


def job_table(counters: dict) -> list[dict]:
    """One row per job: interval plus summed stage metrics."""
    stages = {s["stageId"]: s for s in counters["stages"] if s.get("status") == "COMPLETE"}
    rows = []
    for j in counters["jobs"]:
        start, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if start is None or end is None:
            continue
        st = [stages[i] for i in j.get("stageIds", []) if i in stages]
        rows.append({
            "job": j["jobId"], "name": j.get("name", ""), "start": start, "end": end,
            "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
            "run_s": sum(s.get("executorRunTime", 0) for s in st) / 1e3,
            "cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
            "input_mb": sum(s.get("inputBytes", 0) for s in st) / 2**20,
            "input_records": sum(s.get("inputRecords", 0) for s in st),
            "output_mb": sum(s.get("outputBytes", 0) for s in st) / 2**20,
            "shuffle_mb": sum(s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                              for s in st) / 2**20,
            "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                            for s in st) / 2**20,
        })
    return rows


def attribute(jobs: list[dict], spans: list[dict]) -> dict[int, list[dict]]:
    """span id -> jobs submitted while it was the innermost open span
    (the latest-starting span that contains the submission time)."""
    out: dict[int, list[dict]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s["start"] <= j["start"] < s["end"] and (best is None or s["start"] > best["start"]):
                best = s
        if best is not None:
            out.setdefault(best["id"], []).append(j)
    return out


def in_window(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [j for j in jobs if lo <= j["start"] < hi]


SPARK_SUMS = ("run_s", "cpu_s", "gc_s", "tasks", "shuffle_mb", "spill_mb", "input_mb", "output_mb")


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    t = {k: float(sum(j[k] for j in jobs)) for k in SPARK_SUMS}
    t["jobs"] = float(len(jobs))
    return t
