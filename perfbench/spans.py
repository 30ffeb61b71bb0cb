"""Spans and Spark-side counters recorded around calls into the package.

A ``Tracer`` wraps each call the benchmark makes into a package module in a
span (name, start, end, parent) kept in memory. With counters on, the call
also runs under its own Spark job group; right after it returns, the job
group's jobs are read from the status tracker and their stages' shuffle
write bytes and failed tasks from the status store (which keeps only a
bounded number of stages, hence the read per call, not at the end).

With ``enabled=False`` a span is a bare pair of clock reads and no job group
is set: that is the mode end-to-end metrics are measured in.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None        # Spark job group, with counters on
    jobs: int = 0
    tasks_failed: int = 0
    shuffle_write_bytes: int = 0
    # per job: (name, shuffle write bytes, failed tasks); the name is the
    # call site ("collect at .../graph/superstep.py:123"), which attributes
    # jobs of a module that runs inside another module's call
    job_list: list[tuple[str, int, int]] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the block as layer ``name``; nested spans become children."""
        idx = len(self.spans)
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(idx)
        if self.enabled:
            s.group = f"perfbench-{idx}-{name}"
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._count(s)
                if self._stack:     # back in the parent's job group
                    p = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(p.group, p.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _count(self, s: Span) -> None:
        jsc = self.sc._jsc.sc()
        # the listener bus is asynchronous: let it deliver the call's
        # task-end events before reading stage metrics
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(s.group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            shuffle = failed = 0
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # skipped stage: never attempted
                    continue
                failed += st.numFailedTasks()
                shuffle += st.shuffleWriteBytes()
            try:
                name = store.job(jid).name()
            except Py4JJavaError:       # evicted from the bounded job list
                name = ""
            s.jobs += 1
            s.tasks_failed += failed
            s.shuffle_write_bytes += shuffle
            s.job_list.append((name, shuffle, failed))

    # ---------------------------------------------------------- summaries
    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus the part of it that
        child spans cover (children of one span never overlap here)."""
        out: dict[str, float] = defaultdict(float)
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child_time[i]
        return dict(out)

    def jobs_at(self, call_site: str) -> dict:
        """Counters of the jobs whose call site contains ``call_site``."""
        jobs = [j for s in self.spans for j in s.job_list if call_site in j[0]]
        return {"jobs": len(jobs),
                "shuffle_write_bytes": sum(j[1] for j in jobs),
                "tasks_failed": sum(j[2] for j in jobs)}

    def totals(self) -> dict[str, dict]:
        """Per layer: the Spark counters summed over its spans."""
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"jobs": 0, "tasks_failed": 0,
                                        "shuffle_write_bytes": 0})
            t["jobs"] += s.jobs
            t["tasks_failed"] += s.tasks_failed
            t["shuffle_write_bytes"] += s.shuffle_write_bytes
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")
