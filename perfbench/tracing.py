"""Spans, the latency rules and Spark event-log attribution.

Everything here is plain Python over recorded numbers, so the rules the
benchmark reports by (tail percentile, self time, job-to-op attribution)
are unit-tested without a Spark session (``perfbench/tests``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import glob
import json
import os
import time

#: Percentiles op_tail_s may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: Ops that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: str | None  # id of the op the span belongs to


class Tracer:
    """In-memory spans around the calls into each layer.

    Spans nest by call order: a span opened while another is open is its
    child.  They are kept in memory and written out when the run ends.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, op))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def until_first_job(start: float, submits: list[float], end: float) -> float:
    """Time from ``start`` until the first job submitted at or after it,
    or until ``end`` when none is.  A collector that only fetches and
    builds a frame runs no Spark job, so this is how long it ran when
    its caller's first job follows it."""
    later = [t for t in submits if start <= t <= end]
    return (min(later) if later else end) - start


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    sp = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return (sp.end - sp.start) - union_length(clip(kids, sp.start, sp.end))


def self_times(spans: list[Span], ops: set[str] | None = None) -> dict[str, float]:
    """Total self time per span name, over the spans of ``ops`` (all
    spans when ``ops`` is None)."""
    out: dict[str, float] = {}
    for i, sp in enumerate(spans):
        if ops is None or sp.op in ops:
            out[sp.name] = out.get(sp.name, 0.0) + self_time(spans, i)
    return out


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least TAIL_BEYOND of ``n``
    ops beyond it.  Below 2 * TAIL_BEYOND ops not even the median has
    that many beyond it, and the tail is the slowest op (100)."""
    for p in TAIL_LADDER:
        if round(n * (100 - p), 6) >= TAIL_BEYOND * 100:
            return p
    return 100.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_tail(latencies: list[float]) -> tuple[float, float]:
    """(op_tail_s, the percentile it was read at)."""
    p = tail_percentile(len(latencies))
    return percentile(latencies, p), p


# --- Spark event log ---------------------------------------------------------


@dataclasses.dataclass
class Job:
    id: int
    group: str | None
    submit: float  # seconds since the epoch
    end: float
    stages: list[int]
    name: str  # the result stage's name, e.g. "localCheckpoint at ..."


@dataclasses.dataclass
class TaskTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_start_s: float = 0.0
    py_run_s: float = 0.0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for f in dataclasses.fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


#: Python-worker SQL metrics (milliseconds and bytes) as the task
#: accumulables name them.
_PY_MS_START = ("time to start Python workers", "time to initialize Python workers")
_PY_MS_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclasses.dataclass
class EventLog:
    jobs: list[Job]
    stage_job: dict[int, int]  # stage id -> job id
    completed_stages: dict[int, int]  # job id -> completed stage count
    job_tasks: dict[int, TaskTotals]  # job id -> task totals
    progress: list[dict]  # StreamingQueryProgress records


def _task_totals(ev: dict) -> TaskTotals:
    t = TaskTotals(tasks=1)
    m = ev.get("Task Metrics") or {}
    t.run_s = m.get("Executor Run Time", 0) / 1e3
    t.cpu_s = m.get("Executor CPU Time", 0) / 1e9
    t.gc_s = m.get("JVM GC Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_read_bytes = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t.shuffle_write_bytes = (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    t.spill_bytes = m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name in _PY_MS_START:
            t.py_start_s += int(upd) / 1e3
        elif name == _PY_MS_RUN:
            t.py_run_s += int(upd) / 1e3
        elif name == _PY_SENT:
            t.py_sent_bytes += int(upd)
        elif name == _PY_RETURNED:
            t.py_returned_bytes += int(upd)
    return t


def read_event_log(log_dir: str) -> EventLog:
    """Parse every uncompressed event log file under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    completed: dict[int, int] = {}
    tasks: dict[int, TaskTotals] = {}
    progress: list[dict] = []
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = sorted(ev.get("Stage Infos") or [], key=lambda s: s["Stage ID"])
                    job = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1e3,
                        float("nan"),
                        list(ev.get("Stage IDs") or []),
                        infos[-1]["Stage Name"] if infos else "",
                    )
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job.setdefault(sid, job.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        completed[jid] = completed.get(jid, 0) + 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        tasks.setdefault(jid, TaskTotals()).add(_task_totals(ev))
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    progress.append(ev["progress"])
    return EventLog(
        sorted(jobs.values(), key=lambda j: j.id), stage_job, completed, tasks, progress
    )


def attribute_jobs(jobs: list[Job], spans: list[Span], layer_prefixes: tuple[str, ...]):
    """Map each job to (op id, layer span name).

    A job whose job group is an op id belongs to that op.  Any other job,
    such as a stream micro-batch under its query's run-id group, belongs
    to the op whose span contains its submission time.  Within the op it
    belongs to the innermost span, among those named with one of
    ``layer_prefixes``, that contains its submission time; ``None`` when
    no such span does.  Jobs outside every op are left out.
    """
    ops = {s.op: s for s in spans if s.name == "op"}
    out: dict[int, tuple[str, str | None]] = {}
    for job in jobs:
        op = job.group if job.group in ops else None
        if op is None:
            op = next(
                (o for o, s in ops.items() if s.start <= job.submit <= s.end), None
            )
        if op is None:
            continue
        inner = [
            s
            for s in spans
            if s.op == op
            and s.name.startswith(layer_prefixes)
            and s.start <= job.submit <= s.end
        ]
        layer = max(inner, key=lambda s: s.start).name if inner else None
        out[job.id] = (op, layer)
    return out


def progress_time(p: dict) -> float:
    """A progress record's trigger start, in seconds since the epoch."""
    import datetime as dt

    ts = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=dt.timezone.utc).timestamp()
