"""Spans, their arithmetic, and Spark event-log attribution.

Nothing here imports Spark, so the self-tests can check the arithmetic
on hand-made spans and a small recorded event log.

A span is one interval of wall-clock time (``time.time()`` seconds, the
clock Spark's event log also uses, in milliseconds) with a name, a
layer, a kind and the id of the span that caused it:

- ``construct``: a call into a library module (``modify.categorize``);
- ``execute``: the action the harness runs to materialise what that
  call returned; its parent is the construct span;
- ``engine``: a call into a ``functions.<engine>`` entry point, made by
  the library from inside a construct span (possibly on a pool thread);
- ``pass`` and ``stage``: the harness's own structure (one pass and
  its QC and analysis stages).

Spans of one pass share a ``pass_id``. They are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    kind: str
    start: float
    end: float
    parent: int | None
    pass_id: int


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch.

    Calls come from one caller thread, but the library runs some engine
    calls on its own pool threads. A span opened on a thread with no open
    span of its own takes the caller's innermost open span as parent.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = -1
        self._lock = threading.Lock()
        self._local = threading.local()
        self._caller_stack: list[int] = []
        self._caller = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._caller:
            return self._caller_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, kind: str, parent: int | None = None, always: bool = False):
        """Record one span. ``always`` spans (passes and stages, which the
        end-to-end metrics need) are recorded with tracing off too. The
        parent defaults to the innermost open span."""
        if not (self.enabled or always):
            yield None
            return
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else (self._caller_stack[-1] if self._caller_stack else None)
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, layer, kind, time.time(), float("nan"), parent, self.pass_id)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


# ---------------------------------------------------------------------------
# arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its children cover.

    Children may overlap each other (pool threads), so the covered part
    is the union of their intervals, clipped to the parent's."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.sid, [])
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.sid] = (sp.end - sp.start) - union_length(clipped)
    return out


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, samples_beyond)``. With n sorted
    samples, the sample at rank n-11 (0-based) has exactly ten above it
    and sits at percentile 100*(n-10)/n. Fewer than eleven samples
    support no such percentile; the maximum is reported instead, with
    zero samples beyond it."""
    if not values:
        raise ValueError("no samples")
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, 0
    return v[n - 11], 100.0 * (n - 10) / n, 10


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"  # milliseconds


@dataclass
class Job:
    job_id: int
    submitted: float  # seconds since the epoch
    stages: list[int]
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    python_run_s: float = 0.0


def read_event_log(path: str) -> dict[int, Job]:
    """Jobs of one Spark event log with their tasks' executor metrics.

    A task belongs to the job that first listed its stage; later jobs that
    list the same stage reuse its output and run no tasks for it."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
                jobs[job.job_id] = job
                for st in job.stages:
                    stage_job.setdefault(st, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                job_id = stage_job.get(ev["Stage ID"])
                metrics = ev.get("Task Metrics")
                if job_id is None or not metrics:
                    continue
                job = jobs[job_id]
                job.task_s += metrics.get("Executor Run Time", 0) / 1000.0
                job.shuffle_write_bytes += metrics.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        job.python_bytes_sent += int(acc.get("Update", 0))
                    elif acc.get("Name") == PY_RUN:
                        job.python_run_s += int(acc.get("Update", 0)) / 1000.0
    return jobs


def attribute_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[Job]]:
    """Map each job to the innermost span open when it was submitted.

    Jobs are matched by time window over all jobs, not by job group: the
    library's pool threads do not inherit the caller's group. Where
    several spans of the same depth are open (engine calls on parallel
    pool threads), the one that started last wins. Jobs submitted
    outside every span are left out."""
    depth: dict[int, int] = {}
    for sp in spans:  # parents are recorded before their children
        depth[sp.sid] = 0 if sp.parent is None else depth[sp.parent] + 1
    by_span: dict[int, list[Job]] = {}
    ordered = sorted(spans, key=lambda s: (s.start, s.sid))
    for job in sorted(jobs.values(), key=lambda j: j.submitted):
        best = None
        for sp in ordered:
            if sp.start > job.submitted:
                break
            if sp.end >= job.submitted and (
                best is None or (depth[sp.sid], sp.start) >= (depth[best.sid], best.start)
            ):
                best = sp
        if best is not None:
            by_span.setdefault(best.sid, []).append(job)
    return by_span
