"""Spans around the engine's layer entry points, and the Spark work each
span caused, read back from the AppStatusStore by job tag.

A span is opened around every wrapped call: name, start, end, parent and
op id. Spans live in memory until the run ends. While a span is open its
job tag is set on the SparkContext, so every job the call issues carries
the tags of the span and of all its open ancestors; the jobs of a span
are the jobs holding its tag.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass(frozen=True)
class Job:
    id: int
    tags: frozenset[str]
    start: float
    end: float
    stages: int
    stages_skipped: int
    tasks: int
    tasks_failed: int
    exec_s: float
    exec_cpu_s: float
    gc_s: float
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    input_b: int


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = s.duration - union_length((a, b) for a, b in clipped if b > a)
    return out


class Tracer:
    """Records spans; ``sc`` is the SparkContext whose jobs get tagged."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            self.sc.removeJobTag(s.tag)
            self._stack.pop()
            s.end = time.time()

    def wrap(
        self,
        owner: object,
        attr: str,
        name: str,
        probe: Callable[..., Callable[[], dict[str, float]]] | None = None,
    ) -> None:
        """Replace ``owner.attr`` (a module function or a class method) by
        a version that runs inside a span called ``name``. ``probe`` is
        called with the call's arguments before it runs and returns a
        function whose result, taken after the call, lands in the span's
        ``attrs``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            after = probe(*args, **kwargs) if probe else None
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if after:
                s.attrs.update(after())
            return result

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)

    def outermost(self, name: str) -> list[Span]:
        """Spans called ``name`` with no ancestor of the same name (a
        write that calls another write counts once)."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and by_id[p].name != name:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out


def read_jobs(sc) -> list[Job]:
    """Every job the AppStatusStore still holds, with its stages' task
    metrics summed (skipped stages ran nothing and add nothing)."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not j.submissionTime().isDefined() or not j.completionTime().isDefined():
            continue
        sums = dict.fromkeys(
            ("run_ms", "cpu_ns", "gc_ms", "sr", "sw", "spill", "input"), 0
        )
        for sid in j.stageIds().mkString(",").split(","):
            if not sid:
                continue
            st = store.lastStageAttempt(int(sid))
            if str(st.status()) == "SKIPPED":
                continue
            sums["run_ms"] += st.executorRunTime()
            sums["cpu_ns"] += st.executorCpuTime()
            sums["gc_ms"] += st.jvmGcTime()
            sums["sr"] += st.shuffleReadBytes()
            sums["sw"] += st.shuffleWriteBytes()
            sums["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sums["input"] += st.inputBytes()
        out.append(
            Job(
                id=j.jobId(),
                tags=frozenset(j.jobTags().mkString("\n").split("\n")),
                start=j.submissionTime().get().getTime() / 1000.0,
                end=j.completionTime().get().getTime() / 1000.0,
                stages=j.stageIds().size(),
                stages_skipped=j.numSkippedStages(),
                tasks=j.numTasks() - j.numSkippedTasks(),
                tasks_failed=j.numFailedTasks(),
                exec_s=sums["run_ms"] / 1000.0,
                exec_cpu_s=sums["cpu_ns"] / 1e9,
                gc_s=sums["gc_ms"] / 1000.0,
                shuffle_read_b=sums["sr"],
                shuffle_write_b=sums["sw"],
                spill_b=sums["spill"],
                input_b=sums["input"],
            )
        )
    return out


def jobs_of(jobs: list[Job], spans: Iterable[Span]) -> list[Job]:
    """Distinct jobs carrying the tag of any of ``spans``."""
    tags = {s.tag for s in spans}
    return [j for j in jobs if j.tags & tags]
