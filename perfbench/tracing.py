"""Span tracing for the benchmark's traced runs.

A span wraps one public engine call made by a workload. It records
name, start, end, parent span and request id, runs the call under its
own Spark job group, and afterwards reads that group's counts from the
status store (which works with the UI off): jobs, stages, tasks,
executor run ms, JVM CPU ms, shuffle read/write bytes, spill bytes and
input bytes. The counts are the span's own: a nested span sets its own
group, so jobs launched inside a child are the child's. Spans stay in
memory; ``dump`` writes them when the run ends.

With tracing off, ``span`` only yields; no job group is set and no
status-store call is made. With tracing on, the time the tracer spends
on its own bookkeeping is summed per phase (``overhead_s``), which
gives ``trace.overhead_pct``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNT_KEYS = (
    "jobs", "stages", "tasks", "exec_run_ms", "jvm_cpu_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    request: int | None
    phase: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.phase = "setup"
        self.overhead_s: dict[str, float] = {}
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans), name=name,
            parent=parent.span_id if parent else None,
            request=request if request is not None
            else (parent.request if parent else None),
            phase=self.phase, start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(self._group(s), name)
        booked = time.perf_counter() - t_book
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            s.counts = self._counts(self._group(s))
            booked += time.perf_counter() - s.end
            self.overhead_s[s.phase] = (
                self.overhead_s.get(s.phase, 0.0) + booked)

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.span_id}-{s.name}"

    def _counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job-end events reach the status store through the listener
        # bus asynchronously; drain it so the group's jobs are final
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(COUNT_KEYS, 0)
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 -- evicted or never run
                continue
            done = st.numCompleteTasks()
            if done == 0:
                continue  # skipped (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += done
            out["exec_run_ms"] += st.executorRunTime()
            out["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            )
            out["input_bytes"] += st.inputBytes()
        return out

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span made without a session (its start)."""
        if self.enabled:
            self.spans.append(Span(
                span_id=len(self.spans), name=name, parent=None,
                request=None, phase=self.phase, start=start, end=end,
                counts=dict.fromkeys(COUNT_KEYS, 0),
            ))

    # ----------------------------------------------------------- summaries

    def named(self, name: str, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (phase is None or s.phase == phase)]

    def self_ms_by_layer(self) -> dict[str, float]:
        """A span's self time is its duration minus its children's
        (children of one span run one after another)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            own = max(0.0, s.ms - child_ms.get(s.span_id, 0.0))
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), layer=s.layer) for s in self.spans], f,
            )
