"""Outside-in span tracer for the traced benchmark run.

The tracer wraps public functions of the engine at the module attribute
their callers resolve (``pipeline.normalize_by_site``,
``dedup.connected_components``, ...) — nothing inside the engine
changes. Each call opens a span with a Spark job group of its own and
restores the caller's group on exit, so every Spark job run inside a
span lands in exactly one span. Spans stay in memory; the Spark job data (submit
and completion times, task counts) is read from the status store once,
when the run ends, and folded into per-layer metrics:

- ``s``: span wall time; ``self_s``: wall time minus child spans;
- ``jobs`` / ``tasks``: jobs and tasks (skipped stages excluded) run in
  the span's own job group;
- ``gap_s``: wall time minus the union of the submit-to-complete
  intervals of the jobs in the span and its children — time spent
  between jobs.

The status store keeps ``spark.ui.retainedJobs`` jobs; the benchmark
session raises that limit so the end-of-run read sees every job.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)


class Tracer:
    """``targets``: (module, attribute, span name) triples wrapped while
    the tracer is started. A tracer built with ``on=False`` records
    nothing and wraps nothing — the untraced run's stand-in."""

    def __init__(self, spark, targets, on: bool = True):
        self.sc = spark.sparkContext
        self.on = on
        self.targets = list(targets)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def start(self) -> None:
        """Begin the measured phase: forget earlier spans and wrap the
        targets."""
        if not self.on:
            return
        self.spans.clear()
        for module, attr, name in self.targets:
            self._wrap(module, attr, name)

    def stop(self) -> None:
        """End the measured phase: restore the wrapped attributes."""
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    # -- recording ------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        prev_group = self.sc.getLocalProperty(_GROUP)
        sp = Span(name, f"pb-{len(self.spans)}", parent, time.time())
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(_GROUP, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)

    def _wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper until
        :meth:`stop`."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    # -- folding --------------------------------------------------------

    def _jobs_by_group(self) -> dict[str, list[tuple[float, float, int]]]:
        """group -> [(submit_s, complete_s, tasks_run)]."""
        wanted = {sp.group for sp in self.spans}
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)  # a Scala Seq[JobData]
        out: dict[str, list] = {}
        for i in range(jobs.length()):
            jd = jobs.apply(i)
            grp = jd.jobGroup()
            if grp.isEmpty() or grp.get() not in wanted:
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            t0 = sub.get().getTime() / 1e3 if not sub.isEmpty() else None
            t1 = comp.get().getTime() / 1e3 if not comp.isEmpty() else None
            if t0 is None:
                continue
            out.setdefault(grp.get(), []).append((
                t0, t1 if t1 is not None else t0,
                jd.numTasks() - jd.numSkippedTasks(),
            ))
        return out

    def fold(self, cycles: int, names: list[str]) -> dict[str, float]:
        """Per-layer metrics summed over all spans of each name and
        divided by the run's timed ``cycles``. Every name in ``names``
        is reported, 0 when it never ran."""
        by_group = self._jobs_by_group()
        acc: dict[str, dict[str, float]] = {
            n: {"s": 0.0, "self_s": 0.0, "jobs": 0.0, "tasks": 0.0,
                "gap_s": 0.0}
            for n in names
        }
        for sp in self.spans:
            if sp.name not in acc:
                continue
            a = acc[sp.name]
            wall = sp.end - sp.start
            own = by_group.get(sp.group, [])
            subtree = list(own)
            stack = list(sp.children)
            while stack:
                ch = stack.pop()
                subtree.extend(by_group.get(ch.group, []))
                stack.extend(ch.children)
            a["s"] += wall
            a["self_s"] += wall - sum(c.end - c.start for c in sp.children)
            a["jobs"] += len(own)
            a["tasks"] += sum(j[2] for j in own)
            a["gap_s"] += max(0.0, wall - _union(
                [(max(j[0], sp.start), min(j[1], sp.end)) for j in subtree]
            ))
        return {f"{n}.{k}": v / cycles
                for n in names for k, v in acc[n].items()}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
