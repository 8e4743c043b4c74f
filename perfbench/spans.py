"""Spans and Spark counters for the traced run.

Spans are recorded only here, around the benchmark's own calls into a
layer's public functions. With counters on, every span also runs under
its own Spark job group, so the jobs, stages and task metrics Spark
already keeps can be read back per span once the operation has ended,
outside the timed region:

- job ids per group from ``statusTracker().getJobIdsForGroup``;
- stage ids per job from ``statusTracker().getJobInfo``;
- task metrics per stage from ``statusStore().lastStageAttempt(id)``, one
  stage id at a time (py4j cannot fill the Scala default arguments of
  ``stageList``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = {
    # StageData getter -> (metric, scale to seconds or bytes)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. ``counters=True`` also tags each span's Spark
    jobs with a job group of its own (the traced mode)."""

    def __init__(self, spark, counters: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0
        self.collect_s = 0.0

    @contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        group = None
        if self.counters:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            self.sc.setJobGroup(group, f"{op}:{name}")
        s = Span(name, op, parent, time.perf_counter(), group=group)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.counters:
                if self._stack:
                    outer = self.spans[self._stack[-1]].group
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc._jsc.clearJobGroup()

    def op_spans(self, op: str) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.op == op]

    def collect(self, op: str) -> None:
        """Read Spark's counters for every span of ``op`` into
        ``span.counts``. Call after the operation, outside its timing."""
        if not self.counters:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = jsc.statusTracker(), jsc.statusStore()
        for _, s in self.op_spans(op):
            counts = {"jobs": 0, "stages": 0, "tasks": 0}
            for f, _scale in STAGE_FIELDS.values():
                counts[f] = 0
            for jid in tracker.getJobIdsForGroup(s.group):
                counts["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info.isEmpty():
                    continue
                for sid in info.get().stageIds():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # stage evicted or never submitted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    for getter, (f, scale) in STAGE_FIELDS.items():
                        counts[f] += getattr(st, getter)() * scale
            s.counts = counts
        self.collect_s += time.perf_counter() - t0

    def self_times(self, op: str | None = None) -> dict[str, float]:
        """Per span name: the summed time not covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if op is None or s.op == op:
                out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out

    def records(self) -> list[dict]:
        return [
            {
                "name": s.name, "op": s.op, "id": i, "parent": s.parent,
                "start": s.start, "end": s.end, "counts": s.counts,
            }
            for i, s in enumerate(self.spans)
        ]


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase seconds of the DataFrame's own QueryExecution."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    for name in out:
        p = phases.get(name)
        if p.isDefined():
            out[name] = p.get().durationMs() / 1000.0
    return out
