"""Spans around calls into the library's layers, plus Spark's own counters.

The benchmark wraps a layer's public function at every name its callers
resolve (``load_table`` and ``pin`` are imported by name into many
operator modules), so a span opens and closes around each call. Spans
are kept in memory as (name, start, end, parent, op) and summarised at
the end of the run. Each span also runs its Spark jobs under its own
job group, so Spark's status store can say which jobs, stages, tasks
and bytes each op caused, and which of those jobs ran while a query was
still being built.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# spans whose jobs count as spark.build_jobs
BUILD_SPANS = ("geonames.build", "operators.build")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for an op's root span
    op: int


@dataclass
class Tracer:
    sc: object  # SparkContext whose job group follows the open span
    spans: list[Span] = field(default_factory=list)
    counters: list[dict[str, float]] = field(default_factory=list)  # per op
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)

    @property
    def op(self) -> int:
        return len(self.counters) - 1

    def count(self, name: str, value: float) -> None:
        self.counters[-1][name] = self.counters[-1].get(name, 0) + value

    def _group(self, index: int) -> str:
        return f"perfbench-span-{index}"

    @contextmanager
    def span(self, name: str):
        index = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        span = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(span)
        self._stack.append(index)
        self.sc.setJobGroup(self._group(index), name)
        try:
            yield
        finally:
            self._stack.pop()
            outer = self._group(self._stack[-1]) if self._stack else "perfbench-idle"
            self.sc.setJobGroup(outer, "")
            span.end = time.perf_counter()

    @contextmanager
    def op_span(self):
        """Root span of one timed op."""
        self.counters.append({})
        with self.span("op.self"):  # its self time is reported as op.self_s
            yield

    def wrap(self, fn, name: str, after=None):
        """``fn`` inside a span ``name``; ``after(args, result)`` records
        counters once the call has returned."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            self.count(name + "_calls", 1)
            if after is not None:
                after(args, result)
            return result

        return traced

    def install(self, fn, name: str, after=None, package: str = "etl_geonames_spark") -> int:
        """Rebind every module-level name in ``package`` that refers to
        ``fn`` to a traced wrapper; returns how many names were rebound."""
        traced = self.wrap(fn, name, after)
        bound = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._undo.append((mod, attr, value))
                    setattr(mod, attr, traced)
                    bound += 1
        return bound

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._undo):
            setattr(mod, attr, value)
        self._undo.clear()

    # -- summaries ---------------------------------------------------------

    def self_times(self) -> list[dict[str, float]]:
        """Per op: span name -> summed self time (duration minus the part
        its child spans cover). Across one op these sum to its wall."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        per_op: list[dict[str, float]] = [defaultdict(float) for _ in self.counters]
        for i, s in enumerate(self.spans):
            per_op[s.op][s.name] += (s.end - s.start) - child[i]
        return [dict(d) for d in per_op]

    def op_walls(self) -> list[float]:
        return [s.end - s.start for s in self.spans if s.parent < 0]

    def spark_counters(self) -> list[dict[str, float]]:
        """Per op: Spark jobs, stages, tasks, bytes and times from the
        status store, by the job groups the spans ran under."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        build = {i for i, s in enumerate(self.spans) if s.name in BUILD_SPANS}

        def under_build(i: int) -> bool:
            while i >= 0:
                if i in build:
                    return True
                i = self.spans[i].parent
            return False

        per_op = [defaultdict(float) for _ in self.counters]
        for i, s in enumerate(self.spans):
            out = per_op[s.op]
            for job_id in tracker.getJobIdsForGroup(self._group(i)):
                out["spark.jobs"] += 1
                out["spark.build_jobs"] += under_build(i)
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else []:
                    stage = _stage(store, stage_id)
                    if stage is None or stage.status().toString() != "COMPLETE":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += stage.numCompleteTasks()
                    out["spark.input_bytes"] += stage.inputBytes()
                    out["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
                    out["spark.executor_run_s"] += stage.executorRunTime() / 1000.0
                    out["spark.gc_s"] += stage.jvmGcTime() / 1000.0
        return [dict(d) for d in per_op]

    def write(self, path: str) -> None:
        """Spans as TSV: op, name, start, end, parent."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("op\tname\tstart\tend\tparent\n")
            for s in self.spans:
                f.write(f"{s.op}\t{s.name}\t{s.start:.6f}\t{s.end:.6f}\t{s.parent}\n")


def _stage(store, stage_id: int):
    try:
        return store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # NoSuchElementException: the stage never ran
        return None


def dir_bytes(path: str) -> int:
    """Bytes in the data files (``part-*``) under an output directory."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.startswith("part-")
    )
