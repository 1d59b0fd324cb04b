"""Spans around the benchmark's calls into the program, and per-operation
engine counters read from Spark's own status store.

Spans are kept in memory and written out once, when the run ends. A span
records its name, start, end, parent span and the operation it belongs
to; a layer's self time is its duration minus the part covered by its
child spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; otherwise every span is a no-op.
    ``enabled`` marks a traced run, whose runner sets ``active`` on every
    other operation so the run also measures its own overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield attrs
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.op, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time in seconds per span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def totals(self, name: str) -> tuple[float, int]:
        """(total seconds, count) of the spans called ``name``."""
        ds = [s.end - s.start for s in self.spans if s.name == name]
        return sum(ds), len(ds)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class SparkCounters:
    """Per-operation job/stage/task counters from the engine's status
    store. Each operation runs under its own job group; streaming
    micro-batches run under the query's run id, passed in as extra
    groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.slots = 0

    def begin(self) -> str:
        """Start a new job group for the next operation; returns its id."""
        self.slots += 1
        group = f"perfbench-slot-{self.slots}"
        self.sc.setJobGroup(group, group)
        return group

    def collect(self, groups: list[str]) -> dict[str, float]:
        sc = self.sc
        jsc = sc._jsc.sc()
        # Listener events are asynchronous: let the status store catch up.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        jobs = stages = tasks = 0
        run_ms = gc_ms = shuffle_b = job_ms = 0
        for g in groups:
            for jid in sc.statusTracker().getJobIdsForGroup(g):
                info = sc.statusTracker().getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    job_ms += (jd.completionTime().get().getTime()
                               - jd.submissionTime().get().getTime())
                for sid in info.stageIds:
                    try:
                        attempts = store.stageData(sid, False, None, False, no_quantiles)
                    except Py4JJavaError:  # evicted from the status store
                        continue
                    for sd in _seq(attempts):
                        if str(sd.status()) != "COMPLETE":
                            continue
                        stages += 1
                        tasks += sd.numCompleteTasks()
                        run_ms += sd.executorRunTime()
                        gc_ms += sd.jvmGcTime()
                        shuffle_b += sd.shuffleWriteBytes()
        return dict(jobs=jobs, stages=stages, tasks=tasks, run_ms=run_ms,
                    gc_ms=gc_ms, shuffle_bytes=shuffle_b, job_ms=job_ms)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()
