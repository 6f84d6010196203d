"""Spans and Spark counters, collected from outside the program.

A ``Tracer`` records one span per call the benchmark makes into a layer:
name, start, end, parent and — when tracing is on — the Spark counters
of the job group the span ran under. Counters come from Spark's own
bookkeeping, which works with ``spark.ui.enabled=false``:

* jobs and their stage ids from ``SparkContext.statusTracker()``;
* per-stage task counts, shuffle bytes, spill bytes and executor run
  time from the live application status store
  (``sc._jsc.sc().statusStore().stageData``).

Spans stay in memory; ``Tracer.spans`` is written out when the run ends.
With tracing off a span only takes two clock readings.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_ms", "input_bytes", "input_records", "output_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    id: int
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    job_ids: set = field(default_factory=set)

    @property
    def duration(self) -> float:
        return self.end - self.start


def group_counters(spark, group: str) -> tuple[dict, set[int]]:
    """Sum the Spark counters of every job that ran under ``group``;
    also return those jobs' ids.

    Skipped stages (their shuffle output was reused) count neither as
    stages nor as tasks."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    out = dict.fromkeys(COUNTER_KEYS, 0)
    stage_ids: set[int] = set()
    job_ids = set(tracker.getJobIdsForGroup(group))
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(int(s) for s in info.stageIds)
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["shuffle_read_bytes"] += s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_ms"] += s.executorRunTime()
            out["input_bytes"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["output_bytes"] += s.outputBytes()
    return out, job_ids


def written_files(spark, job_ids: set[int], since_ms: int) -> int:
    """Files written by the SQL executions, submitted since ``since_ms``
    (epoch ms), that ran any of ``job_ids`` — the "number of written
    files" metric of each write command, read from the SQL status store."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    total = 0
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.submissionTime() < since_ms:
            break
        vals, it = e.metricValues(), e.jobs().keys().iterator()
        jobs = set()
        while it.hasNext():
            jobs.add(int(it.next()))
        if vals is None or not jobs & job_ids:
            continue
        metrics = e.metrics()
        for j in range(metrics.size()):
            m = metrics.apply(j)
            if m.name() == "number of written files":
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


class Tracer:
    """Span recorder. ``enabled=False`` records timings only: no job
    groups are set and no counters are read."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._run = f"perfbench-{time.time_ns()}"
        # (stream run id, id of the span that started it): a stream's
        # jobs run under its run id, not under the span's job group.
        self.streams: list[tuple[str, int]] = []
        if enabled:
            self._listen()

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Started(StreamingQueryListener):
            def onQueryStarted(self, event):
                if tracer._stack:
                    tracer.streams.append((str(event.runId), tracer._stack[-1].id))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Started()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self.enabled:
            self.spark.streams.removeListener(self._listener)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(name=name, start=time.perf_counter(), parent=parent, id=next(self._ids))
        group = f"{self._run}-{s.id}"
        if self.enabled:
            sc = self.spark.sparkContext
            sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled:
                # Jobs of a child span ran under the child's own group;
                # fold them into the parent so each span's counters
                # cover everything that ran inside it.
                s.counters, s.job_ids = group_counters(self.spark, group)
                own = self._children(s)
                for run_id, owner in self.streams:
                    if owner == s.id:
                        counters, jobs = group_counters(self.spark, run_id)
                        own.append(Span(run_id, 0, s.id, -1, 0, counters, jobs))
                for c in own:
                    s.job_ids |= c.job_ids
                    for k in COUNTER_KEYS:
                        s.counters[k] += c.counters.get(k, 0)
                if self._stack:
                    sc.setJobGroup(f"{self._run}-{self._stack[-1].id}", self._stack[-1].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def _children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        return s.duration - covered(s, self._children(s))

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "self_s": self.self_time(s), "counters": s.counters}
            for s in sorted(self.spans, key=lambda s: s.id)
        ]


def covered(parent: Span, children: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the parent."""
    total, cur_end = 0.0, parent.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, cur_end), min(c.end, parent.end)
        if hi > lo:
            total += hi - lo
            cur_end = hi
    return total


def check_tree(spans: list[dict]) -> list[str]:
    """Well-formedness of a dumped span tree: every child lies inside its
    parent and every self time is non-negative."""
    by_id = {s["id"]: s for s in spans}
    errors = []
    for s in spans:
        if s["end"] < s["start"]:
            errors.append(f"{s['name']}: ends before it starts")
        if s["self_s"] < -1e-9:
            errors.append(f"{s['name']}: negative self time {s['self_s']}")
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errors.append(f"{s['name']}: unknown parent {s['parent']}")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            errors.append(f"{s['name']}: not inside parent {p['name']}")
    return errors
