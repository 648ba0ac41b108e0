"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around each call into a library
layer; nothing inside the library is instrumented. Spark's own figures
come from outside too:

- each op's jobs carry a ``SparkContext.addJobTag`` tag, and the job
  and stage totals are read back from the status store (it is kept
  with ``spark.ui.enabled=false``);
- Catalyst phase times are read from the ``QueryExecution`` of the
  frame an action ran on, by wrapping ``DataFrame.collect`` for the
  duration of the run. ``count()`` plans a new Dataset, so only
  ``collect`` actions report phases.

Outside a tagged op the wrapper only forwards the call, so untraced
ops pay no Py4J reads.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass

STAGE_FIELDS = {
    # status-store StageData accessor -> (metric, scale to the unit)
    "executorRunTime": ("spark.executor_run_ms", 1.0),
    "executorCpuTime": ("spark.executor_cpu_ms", 1e-6),
    "jvmGcTime": ("spark.gc_ms", 1.0),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1.0),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1.0),
    "memoryBytesSpilled": ("spark.spill_bytes", 1.0),
    "diskBytesSpilled": ("spark.spill_bytes", 1.0),
    "inputBytes": ("spark.input_bytes", 1.0),
    "outputBytes": ("spark.output_bytes", 1.0),
    "numCompleteTasks": ("spark.tasks", 1.0),
}
CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder; ``span`` nests by call order."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_ms(self, ops: set[int] | None = None) -> dict[str, list[float]]:
        """Per span name, the self time (duration minus the part its
        children cover) of every span, optionally only for ``ops``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if ops is None or s.op in ops:
                out.setdefault(s.name, []).append(
                    (s.end - s.start - child[i]) * 1e3
                )
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


class NullTracer:
    """The untraced run's tracer: every span is a no-op."""

    _null = contextlib.nullcontext()

    def span(self, name: str, op: int | None = None):
        return self._null


def _phase_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        found = phases.get(name)
        if found.isDefined():
            out[name] = float(found.get().durationMs())
    return out


class SparkProbe:
    """Tags each op's jobs and reads back their totals."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._catalyst: dict[str, float] = {}
        self._active = False
        self._orig_collect = None

    def install(self) -> None:
        """Wrap ``DataFrame.collect`` to accumulate Catalyst phases."""
        from pyspark.sql.classic.dataframe import DataFrame  # noqa: PLC0415

        orig = DataFrame.collect
        probe = self

        def collect(df):
            rows = orig(df)
            if probe._active:
                for k, v in _phase_ms(df).items():
                    probe._catalyst[k] = probe._catalyst.get(k, 0.0) + v
            return rows

        self._orig_collect = orig
        DataFrame.collect = collect

    def uninstall(self) -> None:
        if self._orig_collect is not None:
            from pyspark.sql.classic.dataframe import DataFrame  # noqa: PLC0415

            DataFrame.collect = self._orig_collect
            self._orig_collect = None

    @contextlib.contextmanager
    def tagged(self, tag: str):
        self._catalyst = {}
        self.sc.addJobTag(tag)
        self._active = True
        try:
            yield
        finally:
            self._active = False
            self.sc.removeJobTag(tag)

    def catalyst_ms(self) -> dict[str, float]:
        return {
            f"catalyst.{k}_ms": self._catalyst.get(k, 0.0) for k in CATALYST_PHASES
        }

    def counters(self, tag: str, wall: tuple[float, float]) -> dict[str, float]:
        """Job and stage totals for ``tag``; ``wall`` is the op's
        (start, end) in epoch seconds, for the Spark driver's self time."""
        store = self._jsc.statusStore()
        out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
        job_ids = list(self._jsc.statusTracker().getJobIdsForTag(tag))
        out["spark.jobs"] = float(len(job_ids))
        intervals = []
        stages: set[int] = set()
        for j in job_ids:
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for s in sorted(stages):
            attempts = store.stageData(s, False, None, False, None)
            for a in range(attempts.size()):
                data = attempts.apply(a)
                for field, (name, scale) in STAGE_FIELDS.items():
                    out[name] += float(getattr(data, field)()) * scale
        out["driver.self_ms"] = uncovered_ms(wall, intervals)
        return out


def uncovered_ms(wall: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Milliseconds of ``wall`` not covered by any of ``intervals``."""
    start, end = wall
    covered = 0.0
    cursor = start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return max(0.0, (end - start - covered) * 1e3)
