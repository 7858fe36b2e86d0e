"""Measurement plumbing: progress listener, spans, event log.

* ``ProgressLog`` — a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` of every query. It is registered in both
  modes: the end-to-end trigger times come from it.
* ``Tracer`` — spans around the benchmark's calls into the producer
  and the publish step, and around ``merge_lww_bucketed``, which is
  wrapped from here by swapping the module attribute (nothing inside
  the package is changed) and only in a traced run. Spans stay in
  memory until the run ends.
* ``read_event_log`` — Spark's JSON event log (written uncompressed)
  reduced to jobs with their stages' task counters.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql.streaming import StreamingQueryListener

UPSERT_SINK = "ForeachBatchSink"


@dataclass
class Trigger:
    query_id: str
    run_id: str
    batch_id: int
    start: float  # epoch seconds
    duration_ms: dict
    rows: int
    sink: str

    @property
    def wall_s(self) -> float:
        return self.duration_ms.get("triggerExecution", 0) / 1000.0

    @property
    def end(self) -> float:
        return self.start + self.wall_s


def _epoch(ts: str) -> float:
    # progress timestamps look like 2026-10-16T18:25:45.381Z
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


class ProgressLog(StreamingQueryListener):
    """Every progress event, plus a count of terminated query runs so
    callers can wait until the asynchronous listener bus caught up."""

    def __init__(self) -> None:
        self.triggers: list[Trigger] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t = Trigger(str(p.id), str(p.runId), p.batchId, _epoch(p.timestamp),
                    dict(p.durationMs), p.numInputRows, p.sink.description)
        with self._cv:
            self.triggers.append(t)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` query runs have terminated in total."""
        with self._cv:
            if not self._cv.wait_for(lambda: len(self.terminated) >= n, timeout):
                raise TimeoutError("streaming listener did not catch up")

    def upserts(self, since: int = 0) -> list[Trigger]:
        """Upsert-query triggers that read input, from index ``since``."""
        with self._cv:
            ts = self.triggers[since:]
        return [t for t in ts if t.sink.startswith(UPSERT_SINK) and t.rows > 0]

    def dead_letter_triggers(self, since: int = 0) -> list[Trigger]:
        with self._cv:
            ts = self.triggers[since:]
        return [t for t in ts if not t.sink.startswith(UPSERT_SINK) and t.rows > 0]

    def mark(self) -> int:
        with self._cv:
            return len(self.triggers)


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


def _files(path: str) -> dict[str, tuple[float, int]]:
    """Data files under a state dir: relpath -> (mtime, size)."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(root, n)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_mtime, st.st_size)
    return out


class Tracer:
    """In-memory spans. ``wrap_merge`` replaces the merge function
    with a timing wrapper; ``restore()`` puts the original back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, attrs))

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                tracer.record(name, self.t0, time.time())
                return False

        return _Ctx()

    def wrap_merge(self, module) -> None:
        """``merge_lww_bucketed`` with the files it wrote: dirty
        buckets, new data files and their bytes, from a listing of the
        state dir before and after the call."""
        orig = module.merge_lww_bucketed

        def wrapper(spark, incoming, path, key, seq_col="arrival_seq", num_buckets=32):
            before = _files(path) if os.path.isdir(path) else {}
            t0 = time.time()
            try:
                return orig(spark, incoming, path, key, seq_col, num_buckets)
            finally:
                t1 = time.time()
                after = _files(path) if os.path.isdir(path) else {}
                new = {p: v for p, v in after.items() if before.get(p) != v}
                dirty = {p.split(os.sep, 1)[0] for p in new}
                self.record("merge.merge_lww_bucketed", t0, t1,
                            buckets=num_buckets, dirty=len(dirty), files=len(new),
                            bytes=sum(v[1] for v in new.values()))

        module.merge_lww_bucketed = wrapper
        self._undo.append((module, "merge_lww_bucketed", orig))

    def restore(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    def named(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name]


@dataclass
class Job:
    job_id: int
    submit: float
    end: float
    query_id: str | None
    batch_id: int | None
    stages: list[int]
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order (rolling logs are numbered)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(files, key=order)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with submit/end times, the streaming (query, batch) they ran
    for, and task counters summed over their stages."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    bid = props.get("streaming.sql.batchId")
                    j = Job(e["Job ID"], e["Submission Time"] / 1000.0, 0.0,
                            props.get("sql.streaming.queryId"),
                            int(bid) if bid is not None else None,
                            list(e.get("Stage IDs", [])))
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e.get("Stage ID")))
                    m = e.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.run_s += m.get("Executor Run Time", 0) / 1000.0
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def within(t: float, spans: list[Span]) -> bool:
    return any(s.start <= t <= s.end for s in spans)


def p50(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0
