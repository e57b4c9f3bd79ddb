"""Spans around the program's public functions, with Spark counters.

The benchmark records spans from its own files: ``Tracer.patch``
replaces a module attribute with a wrapper, at the place where the
program's caller looks the function up at call time, and ``restore``
puts the original back. Nothing in the program changes.

Each span gets the Spark work that started inside it. Job and stage ids
grow monotonically, so the ids handed out between the span's start and
end are its jobs and stages; their counters are read from the status
store (it is populated with ``spark.ui.enabled=false`` too). Job groups
are not used for this, because ``write_with_progress`` sets its own.

Spans are kept in memory; ``Tracer.spans`` is written out by the caller
when the run ends.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

#: StageData getters read per stage, keyed by the counter name a span
#: carries (times in seconds, sizes in bytes)
_STAGE_COUNTERS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "run_s": ("executorRunTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    #: counters of stages with input records, i.e. the scans
    scan: dict[str, float] = field(default_factory=dict)
    #: tracer time spent inside this span on behalf of its children
    overhead: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one SparkSession; single-threaded callers."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = True

    # -- Spark counters ---------------------------------------------------

    def _ids(self) -> tuple[int, int]:
        dag = self._jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def _counters(self, jobs: range, stages: range) -> tuple[dict, dict]:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        jvm = self._sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(jvm.double, 0)
        total = dict.fromkeys(_STAGE_COUNTERS, 0.0)
        total.update(jobs=len(jobs), stages=0, tasks=0)
        scan = {"tasks": 0, "input_bytes": 0.0, "input_records": 0.0}
        for sid in stages:
            try:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            except Exception:  # py4j wraps NoSuchElementException: evicted
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue
                total["stages"] += 1
                total["tasks"] += st.numTasks()
                vals = {k: getattr(st, g)() * f for k, (g, f) in _STAGE_COUNTERS.items()}
                for k, v in vals.items():
                    total[k] += v
                if vals["input_records"] > 0:
                    scan["tasks"] += st.numTasks()
                    scan["input_bytes"] += vals["input_bytes"]
                    scan["input_records"] += vals["input_records"]
        return total, scan

    # -- spans ------------------------------------------------------------

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn(*args, **kwargs)`` inside a span named ``name`` and
        return its result."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t_pre = time.perf_counter()
        parent = self.spans[self._stack[-1]] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp.id)
        j0, s0 = self._ids()
        sp.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            j1, s1 = self._ids()
            sp.counters, sp.scan = self._counters(range(j0, j1), range(s0, s1))
            if parent is not None:
                parent.overhead += (sp.start - t_pre) + (time.perf_counter() - sp.end)

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` so every call records a span ``name``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # -- derived ------------------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span, name: str) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            for c in self.children(todo.pop()):
                if c.name == name:
                    out.append(c)
                todo.append(c)
        return out

    def self_s(self, sp: Span) -> float:
        """Span wall time minus the part its child spans cover and the
        tracer's own bookkeeping for them (children run on the caller's
        thread, so they never overlap)."""
        return sp.dur - sum(c.dur for c in self.children(sp)) - sp.overhead
