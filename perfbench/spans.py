"""Spans for the traced benchmark run.

A span has a name (``<layer>.<what>``, layers named after the engine's
packages: io, sources, operators, plans, streaming, harness), a start and
an end, its parent span and a trace id (the query name or micro-batch id).
Spans live in memory and are written out once, after the Spark session
has stopped.

Counts come from Spark itself:

- calls made in this thread run under a job group of their own
  (``setJobGroup``), and ``statusTracker()`` lists the group's jobs;
- micro-batch jobs run in the stream's thread; the event log's job-start
  properties carry the stream run id as job group and the batch id;
- stages, tasks, shuffle-write and spill bytes per job come from the
  uncompressed event log;
- per-batch ``durationMs`` comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one plain file
    }


class Span:
    __slots__ = ("sid", "name", "trace_id", "parent", "start", "end", "jobs", "attrs")

    def __init__(self, sid, name, trace_id, parent, start):
        self.sid, self.name, self.trace_id = sid, name, trace_id
        self.parent, self.start, self.end = parent, start, None
        self.jobs: list[int] = []
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op
    that still yields a Span, so timed code is the same in both modes."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: dict[int, str] = {}
        self.listener: ProgressListener | None = None
        if enabled:
            self.listener = ProgressListener()
            spark.streams.addListener(self.listener)

    def now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None and parent is not None:
            trace_id = parent.trace_id
        s = Span(len(self.spans), name, trace_id, parent.sid if parent else None, self.now())
        s.attrs.update(attrs)
        if not self.enabled:
            yield s
            s.end = self.now()
            return
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        group = f"perfbench-span-{s.sid}"
        self._groups[s.sid] = group
        sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = self.now()
            s.jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._groups[self._stack[-1].sid], self._stack[-1].name)
            else:  # a null value removes the property
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, trace_id: str, start: float, end: float, parent: Span | None, jobs=()) -> Span:
        """A span measured elsewhere (a micro-batch, timed by the stream's
        own timing hook)."""
        s = Span(len(self.spans), name, trace_id, parent.sid if parent else None, start)
        s.end = end
        s.jobs = sorted(jobs)
        if self.enabled:
            self.spans.append(s)
        return s

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.sid]

    def all_jobs(self, s: Span) -> list[int]:
        """The span's own jobs plus those of every descendant."""
        out = set(s.jobs)
        for c in self.children(s):
            out.update(self.all_jobs(c))
        return sorted(out)


class ProgressListener(StreamingQueryListener):
    """Keeps each stream's start order and every progress report."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[tuple[str, str]] = []  # (query id, run id)
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append((str(event.id), str(event.runId)))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append(
                {
                    "run_id": str(p.runId),
                    "batch_id": int(p.batchId),
                    "input_rows": int(p.numInputRows),
                    "duration_ms": dict(p.durationMs),
                }
            )

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, run_id: str, n_batches: int, timeout: float = 10.0) -> list[dict]:
        """Progress reports arrive asynchronously; wait until the stream's
        last batch has reported."""
        end = time.monotonic() + timeout
        while True:
            with self.lock:
                got = [p for p in self.progress if p["run_id"] == run_id]
            if len(got) >= n_batches or time.monotonic() > end:
                return sorted(got, key=lambda p: p["batch_id"])
            time.sleep(0.05)


class EventLog:
    """Per-job stages, tasks, shuffle-write and spill bytes, and the job
    group / micro-batch id of every job, from an uncompressed event log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        job_stages: dict[int, list[int]] = {}
        self.job_props: dict[int, dict] = {}
        stage_tasks: dict[int, int] = {}
        stage_shuffle: dict[int, int] = {}
        stage_spill: dict[int, int] = {}
        with open(paths[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    job_stages[jid] = ev.get("Stage IDs", [])
                    self.job_props[jid] = ev.get("Properties") or {}
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    stage_shuffle[sid] = stage_shuffle.get(sid, 0) + sw
                    sp = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    stage_spill[sid] = stage_spill.get(sid, 0) + sp
        # A stage listed by several jobs ran in the first of them; the
        # later ones skip it (its shuffle output is reused).
        owner: dict[int, int] = {}
        for jid in sorted(job_stages):
            for sid in job_stages[jid]:
                owner.setdefault(sid, jid)
        self.job: dict[int, dict] = {
            jid: {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            for jid in job_stages
        }
        for sid, jid in owner.items():
            if sid in stage_tasks:  # skipped stages have no task ends
                j = self.job[jid]
                j["stages"] += 1
                j["tasks"] += stage_tasks[sid]
                j["shuffle_write_bytes"] += stage_shuffle[sid]
                j["spill_bytes"] += stage_spill[sid]

    def totals(self, jobs) -> dict:
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for jid in jobs:
            for k, v in self.job.get(jid, {}).items():
                out[k] += v
        return out

    def batch_jobs(self, run_id: str, batch_id: int) -> list[int]:
        """Jobs a stream run launched for one micro-batch."""
        return sorted(
            jid
            for jid, p in self.job_props.items()
            if p.get("spark.jobGroup.id") == run_id
            and str(p.get("streaming.sql.batchId")) == str(batch_id)
        )
