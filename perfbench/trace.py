"""Spans and counters recorded from the benchmark's own call sites.

An operation is split at the boundaries the benchmark itself calls:
``op`` -> ``construct`` (building the DataFrame: the query lane's
function, ``ds.query`` or ``spark.sql``), ``plan`` (forcing Catalyst's
executed plan) and ``exec`` (the action), plus the write-path calls
``append`` / ``commit``.  Every span sets its own Spark job group, so
the jobs it started are read back from the JVM status store, recorded
as ``spark_job`` child spans (timestamps from the store) and summed
into execution counters.  Py4J round trips are counted by wrapping the
gateway client's ``send_command`` while tracing is on.

Spans live in memory and are written once, at the end of the run.
A workload that writes during set-up traces that write with a tracer
of its own; those spans go to the same file, apart from the loop's.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict

_STAGE_FIELDS = {
    "tasks": ("numTasks", 1.0),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "input_bytes": ("inputBytes", 1.0),
    "input_records": ("inputRecords", 1.0),
}


class Span:
    __slots__ = ("id", "parent", "name", "attrs", "start", "end")

    def __init__(self, sid, parent, name, attrs, start, end=None):
        self.id, self.parent, self.name = sid, parent, name
        self.attrs, self.start, self.end = attrs, start, end

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": self.start, "end": self.end, **self.attrs}


class Tracer:
    """Records spans and per-span-name counters for one run.

    With ``spark=None`` it records spans only (used by the self-tests).
    """

    on = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._seen_stages: set[int] = set()
        self._py4j_calls = 0
        self._client = None
        self._send = None
        if spark is not None:
            # every Py4J round trip goes through this one method; wrap
            # the instance attribute so the count needs no package hook
            self._client = spark.sparkContext._gateway._gateway_client
            self._send = self._client.send_command

            def counted(*args, **kwargs):
                self._py4j_calls += 1
                return self._send(*args, **kwargs)

            self._client.send_command = counted

    def close(self) -> None:
        if self._client is not None:
            self._client.send_command = self._send
            self._client = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None, name, attrs,
                 time.time())
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{s.id}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        calls0 = self._py4j_calls
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.spark is not None:
                self.counts[f"py4j.{name}"] += self._py4j_calls - calls0
                self._collect_jobs(s, group)
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(
                        f"perfbench-{parent.id}", parent.name)
                else:
                    self.spark.sparkContext.setLocalProperty(
                        "spark.jobGroup.id", None)

    def _collect_jobs(self, s: Span, group: str) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else s.start
            end = done.get().getTime() / 1e3 if done.isDefined() else s.end
            # the store keeps millisecond times: clamp into the parent
            self.spans.append(Span(next(self._ids), s.id, "spark_job",
                                   {"job_id": int(job_id)},
                                   max(start, s.start), min(end, s.end)))
            self.counts[f"jobs.{s.name}"] += 1
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.stageAttempt(
                        sid, 0, False, gw.jvm.java.util.ArrayList(), False,
                        gw.new_array(gw.jvm.double, 0))._1()
                except Exception:  # skipped stage: never ran, not stored
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                self.counts["stages"] += 1
                for key, (getter, scale) in _STAGE_FIELDS.items():
                    self.counts[key] += getattr(st, getter)() * scale
                self.counts["spill_bytes"] += (st.memoryBytesSpilled()
                                               + st.diskBytesSpilled())

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, cur), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str, setup: list | None = None) -> None:
        """The timed loop's spans under ``loop``; spans a workload
        traced during set-up (their own ids) under ``setup``."""
        with open(path, "w") as f:
            json.dump({"setup": setup or [],
                       "loop": [s.as_dict() for s in self.spans]}, f)


class NullTracer:
    """The untraced run: spans cost one context-manager entry, nothing else."""

    on = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def close(self) -> None:
        pass
