"""In-memory spans around the benchmark's calls into the library.

A span has a name, start, end, parent and iteration id, and sets its own
Spark job group while it is open, so the status-store numbers of the jobs
it runs attach to it. Spans nest ``iteration -> op -> layer call``; they stay
in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import time


class Span:
    __slots__ = ("id", "name", "parent", "iteration", "start", "end", "group", "spark")

    def __init__(self, sid: int, name: str, parent: int | None, iteration: str):
        self.id = sid
        self.name = name
        self.parent = parent
        self.iteration = iteration
        self.start = self.end = 0.0
        self.group = f"perfbench-span-{sid}"
        self.spark: dict[str, float] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: every span is the same empty context manager."""

    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


class Tracer:
    def __init__(self, status, idle_group: str):
        self.status = status
        self.idle_group = idle_group
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.iteration = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.iteration)
        self.spans.append(sp)
        self.status.set_group(sp.group)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.status.set_group(parent.group if parent else self.idle_group)

    def collect_spark(self, spans: list[Span]) -> None:
        """Attach each span's own (not its children's) Spark numbers."""
        self.status.drain()
        for sp in spans:
            sp.spark = self.status.group_stats(sp.group)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it the child spans cover."""
        covered, edge = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return sp.duration - covered

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def inclusive_spark(self, sp: Span) -> dict[str, float]:
        """Spark numbers of a span and everything under it; the skew and
        max-task figures take the worst, the rest add up."""
        out: dict[str, float] = {}
        for s in self.subtree(sp):
            for k, v in s.spark.items():
                if k in ("spark.max_task_s", "spark.task_skew"):
                    out[k] = max(out.get(k, 0.0), v)
                else:
                    out[k] = out.get(k, 0.0) + v
        return out

    def find(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.subtree(within) if within else self.spans
        return [s for s in pool if s.name == name]

    def dump(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "iteration": s.iteration,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_time(s), 6),
                "job_group": s.group,
                "spark": {k: round(v, 6) for k, v in s.spark.items()},
            }
            for s in self.spans
        ]
