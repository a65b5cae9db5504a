"""Spans and Spark engine counters for the traced benchmark run.

A span covers one layer boundary: a pass, an operation (one call the CLI
makes into a module), or a Spark job. Pass and operation spans come from the
benchmark's own calls; job spans come from the submission and completion
times in the SparkContext status store. Spans are kept in memory and written
out once, when the run ends.

Self time of a span is its duration minus the part of its interval that its
children cover. Children may overlap (``run_rules_batched`` runs two jobs at
once), so the covered part is the length of the union of the child intervals,
never their sum.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Engine counters summed per operation from the status store's stage data.
# ``spill_bytes`` is the on-disk size of spilled data.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when those are given."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(clipped):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    kind: str  # "pass" | "op" | "job"
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the union of its children's intervals."""
    covered = union_length([(c.start, c.end) for c in children], span.start, span.end)
    return span.duration - covered


class Clock:
    """Epoch seconds read off the monotonic clock, so span times line up with
    the status store's epoch-millisecond job times but never jump."""

    def __init__(self) -> None:
        self._offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._offset


class Trace:
    """In-memory span store. ``children(span)`` and ``self_time`` work on it;
    ``dump`` writes every span as one JSON document."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, kind: str, name: str, layer: str, start: float, parent: Span | None = None) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, kind, name, layer, start)
        self.spans.append(span)
        return span

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str, meta: dict) -> None:
        doc = {
            "meta": meta,
            "spans": [
                {
                    "id": s.id,
                    "parent": s.parent,
                    "kind": s.kind,
                    "name": s.name,
                    "layer": s.layer,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self_time(s, self.children(s)),
                    "attrs": s.attrs,
                }
                for s in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)


class SparkStatus:
    """Reads finished jobs and their stages from the SparkContext status
    store (the store behind the web UI, present with the UI disabled).

    The store retains only the last ``spark.ui.retainedJobs`` jobs and
    ``spark.ui.retainedStages`` stages (1000 each), so callers drain it after
    every operation. Jobs are counted by the delta of the scheduler's next
    job id, which stays exact even when retention has evicted a record.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._scheduler = jsc.dagScheduler()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._empty_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_stages: set[int] = set()
        self.last_job = self.next_job_id()
        self.read_s = 0.0  # time spent reading the store: the tracing overhead

    def next_job_id(self) -> int:
        return self._scheduler.nextJobId()  # py4j unboxes the AtomicInteger

    def _read(self, obj) -> dict:
        return json.loads(self._json.writeValueAsString(obj))

    def drain(self) -> tuple[list[Span], dict]:
        """Job spans and summed engine counters of every job submitted since
        the previous drain, plus the RDD storage still held."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        first, last = self.last_job, self.next_job_id()
        self.last_job = last
        totals = dict.fromkeys(COUNTERS, 0)
        totals["jobs"] = last - first
        jobs = []
        for job_id in range(first, last):
            try:
                job = self._read(self._store.job(job_id))
            except Py4JJavaError:  # evicted from the store: counted, not timed
                continue
            start, end = job.get("submissionTime"), job.get("completionTime")
            if start is not None and end is not None:
                jobs.append(
                    Span(-1, None, "job", f"job {job_id}", "spark", start / 1000.0, end / 1000.0,
                         {"job_id": job_id, "status": job.get("status")})
                )
            for stage_id in job.get("stageIds", ()):
                if stage_id in self._seen_stages:
                    continue
                try:
                    attempts = self._read(
                        self._store.stageData(stage_id, False, self._empty_status, False, self._no_quantiles)
                    )
                except Py4JJavaError:  # evicted from the store
                    continue
                ran = [a for a in attempts if a.get("status") not in ("SKIPPED", "PENDING")]
                if not ran:
                    continue
                self._seen_stages.add(stage_id)
                for a in ran:
                    totals["stages"] += 1
                    totals["tasks"] += a["numCompleteTasks"]
                    totals["executor_run_s"] += a["executorRunTime"] / 1e3
                    totals["executor_cpu_s"] += a["executorCpuTime"] / 1e9
                    totals["jvm_gc_s"] += a["jvmGcTime"] / 1e3
                    totals["shuffle_read_bytes"] += a["shuffleReadBytes"]
                    totals["shuffle_write_bytes"] += a["shuffleWriteBytes"]
                    totals["spill_bytes"] += a["diskBytesSpilled"]
                    totals["input_bytes"] += a["inputBytes"]
        totals["cached_bytes"] = sum(
            r["memoryUsed"] + r["diskUsed"] for r in self._read(self._store.rddList(True))
        )
        self.read_s += time.perf_counter() - t0
        return jobs, totals
