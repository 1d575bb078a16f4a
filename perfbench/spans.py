"""Layer spans recorded from the benchmark's own files, and Spark's job,
stage and SQL metrics attributed to them.

A span is opened around each call the benchmark makes, or the program
makes through a name the benchmark wraps, into a layer's public
function. Spans nest in time. Spark work is attributed after the timed
body ends, from the status REST API (``/jobs``, ``/stages``, ``/sql``,
``/storage/rdd``): each job, stage and SQL execution belongs to the
innermost span open when it was submitted, whichever thread submitted
it. The helpers in the last section are pure functions over plain
records, so they are tested without Spark.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

COUNTERS = (
    "wall_s", "driver_s", "jobs", "stages", "tasks", "exec_cpu_s", "gc_s",
    "shuffle_mb", "spill_mb", "py_worker_s", "failed_tasks",
)
PY_WORKER_METRIC = "time to run Python workers"
MB = 2**20


class Tracer:
    """Spans in memory: (name, start, end, depth). Spans from any thread
    share one stack, which holds because the benchmark's spans nest in
    time (a callback thread's span opens inside the span that waits)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            rec = {"name": name, "start": time.time(), "end": None,
                   "depth": len(self._stack)}
            self._stack.append(rec)
            self.spans.append(rec)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(rec)

    def inside(self, prefix: str) -> bool:
        """Whether a span whose name starts with ``prefix`` is open."""
        with self._lock:
            return any(s["name"].startswith(prefix) for s in self._stack)

    def wrap(self, fn, name, outside: str | None = None):
        """``fn`` inside a span; ``name`` is a string or a function of
        the call's ordinal (0, 1, ...) returning one. With ``outside``,
        calls made while a span named ``outside...`` is open get no span
        of their own, so their time stays with that span."""
        calls = [0]

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            if outside is not None and self.inside(outside):
                return fn(*args, **kwargs)
            label = name if isinstance(name, str) else name(calls[0])
            calls[0] += 1
            with self.span(label):
                return fn(*args, **kwargs)

        return inner


@contextmanager
def patched(module, attr: str, replacement):
    """Rebind ``module.attr`` for the duration; the program resolves the
    name at call time, so its own composition runs with the wrapper."""
    orig = getattr(module, attr)
    setattr(module, attr, replacement)
    try:
        yield orig
    finally:
        setattr(module, attr, orig)


# ---------------------------------------------------------------------------
# REST
# ---------------------------------------------------------------------------
def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}", timeout=60) as r:
        return json.load(r)


def snapshot(spark) -> dict:
    """Everything the attribution needs, read once after the timed body."""
    return {
        "jobs": rest(spark, "/jobs"),
        "stages": rest(spark, "/stages"),
        "sql": rest(spark, "/sql?details=true&planDescription=false&length=100000"),
    }


def storage(spark) -> tuple[int, float]:
    """(persisted RDD count, their in-memory plus on-disk MB)."""
    rdds = rest(spark, "/storage/rdd")
    return len(rdds), sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB


# ---------------------------------------------------------------------------
# Pure helpers
# ---------------------------------------------------------------------------
def parse_ts(s: str | None) -> float | None:
    """REST ('2026-10-17T02:19:57.123GMT') or streaming progress
    ('2026-10-17T02:19:57.123Z') timestamp to epoch seconds."""
    if not s:
        return None
    utc = s.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(utc, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_DUR = re.compile(r"([0-9]+(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration(value: str) -> float:
    """SQL metric text to seconds. A multi-task metric reads
    'total (min, med, max (stageId: taskId))\\n3.2 s (...)'; its total is
    the first duration on the last line."""
    m = _DUR.search(value.strip().splitlines()[-1])
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def innermost(spans: list[dict], t: float | None) -> dict | None:
    """The deepest span whose [start, end] holds ``t``."""
    if t is None:
        return None
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["depth"] > best["depth"]):
            best = s
    return best


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_intervals(span: dict, spans: list[dict]) -> list[tuple[float, float]]:
    """The parts of ``span`` not covered by its direct children."""
    kids = sorted(
        (c["start"], c["end"]) for c in spans
        if c["depth"] == span["depth"] + 1 and span["start"] <= c["start"] <= span["end"]
    )
    out, cur = [], span["start"]
    for s, e in kids:
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if span["end"] > cur:
        out.append((cur, span["end"]))
    return out


def driver_time(self_iv: list[tuple[float, float]], jobs: list[tuple[float, float]]) -> float:
    """Self time during which none of the span's own jobs was running."""
    covered = sum(union_length(clip(jobs, s, e)) for s, e in self_iv)
    return sum(e - s for s, e in self_iv) - covered


def new_since(before: dict, after: dict) -> dict:
    """REST records that appeared between two snapshots: jobs by id,
    stages by (id, attempt), SQL executions by id."""
    def keyed(snap):
        return {
            "jobs": {j["jobId"]: j for j in snap["jobs"]},
            "stages": {(s["stageId"], s["attemptId"]): s for s in snap["stages"]},
            "sql": {x["id"]: x for x in snap["sql"]},
        }

    b, a = keyed(before), keyed(after)
    return {k: [v for key, v in a[k].items() if key not in b[k]] for k in a}


def sql_py_worker_s(execution: dict) -> float:
    """Sum of the Python-worker time metric over an execution's nodes."""
    return sum(
        parse_duration(m["value"])
        for node in execution.get("nodes", ())
        for m in node.get("metrics", ())
        if m.get("name") == PY_WORKER_METRIC
    )


def attribute(spans: list[dict], delta: dict) -> dict[str, dict[str, float]]:
    """Per layer name: the COUNTERS summed over that name's spans."""
    out: dict[str, dict[str, float]] = {}
    owned_jobs: dict[int, list[tuple[float, float]]] = {}

    def acc(span, key, v):
        out.setdefault(span["name"], dict.fromkeys(COUNTERS, 0.0))[key] += v

    for j in delta["jobs"]:
        t0, t1 = parse_ts(j.get("submissionTime")), parse_ts(j.get("completionTime"))
        s = innermost(spans, t0)
        if s is None:
            continue
        acc(s, "jobs", 1)
        owned_jobs.setdefault(id(s), []).append((t0, t1 if t1 is not None else s["end"]))
    for st in delta["stages"]:
        if st.get("status") == "SKIPPED":
            continue
        s = innermost(spans, parse_ts(st.get("submissionTime")))
        if s is None:
            continue
        acc(s, "stages", 1)
        acc(s, "tasks", st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0))
        acc(s, "failed_tasks", st.get("numFailedTasks", 0))
        acc(s, "exec_cpu_s", st.get("executorCpuTime", 0) / 1e9)
        acc(s, "gc_s", st.get("jvmGcTime", 0) / 1e3)
        acc(s, "shuffle_mb", st.get("shuffleWriteBytes", 0) / MB)
        acc(s, "spill_mb", st.get("diskBytesSpilled", 0) / MB)
    for x in delta["sql"]:
        s = innermost(spans, parse_ts(x.get("submissionTime")))
        if s is not None:
            acc(s, "py_worker_s", sql_py_worker_s(x))
    for s in spans:
        iv = self_intervals(s, spans)
        acc(s, "wall_s", sum(e - b for b, e in iv))
        acc(s, "driver_s", driver_time(iv, owned_jobs.get(id(s), [])))
    return out
