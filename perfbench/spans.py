"""In-memory span recorder for the traced run.

The tree is ``run -> workload -> op -> phase -> spark.job``: an op is one
request, query, micro-batch or store epoch; phases are ``build``,
``collect``, ``check`` and ``compact``; job spans take their submission
and completion times from Spark's status store.  Spans stay in memory
and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, /,
            parent: int | None = None, **attrs) -> int:
        """Record a finished span (times in epoch seconds)."""
        if not self.enabled:
            return 0
        sid = next(self._ids)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, /, **attrs):
        """Open a span around a block; yields its record (or None)."""
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def covered(start: float, end: float,
            intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of
    ``intervals`` (which may overlap each other or stick out)."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part its children cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"],
        [(c["start"], c["end"]) for c in children])


def children_of(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def descendants(sid: int, kids: dict[int, list[dict]],
                name: str) -> list[dict]:
    """Every span named ``name`` anywhere below ``sid``."""
    out, todo = [], list(kids.get(sid, []))
    while todo:
        s = todo.pop()
        if s["name"] == name:
            out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def driver_gap(op: dict, kids: dict[int, list[dict]]) -> float:
    """An op's self time with its Spark job spans, at any depth, as the
    children: wall time no job covers (planning, scheduling waits and
    Python/py4j time on the driver)."""
    return self_time(op, descendants(op["id"], kids, "spark.job"))
