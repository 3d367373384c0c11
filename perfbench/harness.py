"""Timed operations, their spans and their Spark layer counts.

A workload runs each operation (one request, query, micro-batch or
store epoch) inside :meth:`Harness.op`.  Only the body is timed; a body
that raises marks the operation failed and the run goes on.  In a
traced run the body runs under its own job group; afterwards the
harness reads the status store for that group's jobs, records a
``spark.job`` span for each under the phase that submitted it, and sums
the stage counts onto the operation.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from datetime import datetime

from perfbench.layers import SparkLayers, aggregate
from perfbench.spans import Tracer


class Harness:
    def __init__(self, spark, traced: bool) -> None:
        self.tracer = Tracer(traced)
        self.layers = SparkLayers(spark) if traced else None
        self.ops: list[dict] = []
        self._seq = itertools.count()

    @contextmanager
    def op(self, path: str, label: str, items: int = 1):
        """Time one operation of ``path`` ("a" or "b")."""
        rec = {"path": path, "label": label, "items": items, "ok": True,
               "span": None}
        group = f"perfbench-{next(self._seq)}"
        with self.tracer.span("op", path=path, label=label) as span:
            if self.layers:
                self.layers.start(group)
            t0 = time.perf_counter()
            try:
                yield rec
            except Exception as e:  # a failed call stays counted
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
            finally:
                rec["wall_s"] = time.perf_counter() - t0
                if self.layers:
                    self.layers.clear_group()
        self.ops.append(rec)
        if span is not None:
            rec["span"] = span["id"]
            self._job_spans(rec, span["id"],
                            self.layers.jobs(self.layers.job_ids(group)))

    @contextmanager
    def phase(self, name: str):
        with self.tracer.span(name):
            yield

    def fail(self, path: str, label: str, wall_s: float,
             error: Exception) -> None:
        """Count a call that raised outside :meth:`op` as one failed
        operation of ``path``."""
        self.ops.append({"path": path, "label": label, "items": 0,
                         "ok": False, "wall_s": wall_s, "span": None,
                         "error": f"{type(error).__name__}: {error}"[:500]})

    def check(self, rec: dict, fn) -> None:
        """Run an output check after the timed body; a check that
        raises or returns False marks the operation failed.  An
        operation that already failed is not checked."""
        if not rec["ok"]:
            return
        with self.tracer.span("check", op=rec["span"]):
            try:
                ok = bool(fn())
            except Exception as e:  # a wrong or broken answer is a failure
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
                ok = False
        rec["ok"] = rec["ok"] and ok

    def add_stream_batches(self, path: str, label: str, batches: list[dict],
                           group: str) -> None:
        """Record finished micro-batches (``layers.stream_batch`` dicts
        with a ``timestamp``) as operations; the query's jobs are
        attributed to the batch whose interval holds their submission."""
        spans = []
        for b in batches:
            start = datetime.fromisoformat(
                b["timestamp"].replace("Z", "+00:00")).timestamp()
            end = start + b["trigger_ms"] / 1e3
            rec = {"path": path, "label": label, "items": b["rows"],
                   "ok": True, "wall_s": b["trigger_ms"] / 1e3,
                   "stream": b, "span": None}
            if self.tracer.enabled:
                rec["span"] = self.tracer.add("op", start, end, path=path,
                                              label=label, batch=b["batch"])
                spans.append((rec, start, end))
            self.ops.append(rec)
        if self.layers:
            jobs = self.layers.jobs(self.layers.job_ids(group))
            for rec, start, end in spans:
                mine = [j for j in jobs if j["start"] is not None
                        and start <= j["start"] <= end]
                self._job_spans(rec, rec["span"], mine)

    # -- internals -----------------------------------------------------

    def _job_spans(self, rec: dict, op_id: int, jobs: list[dict]) -> None:
        phases = [s for s in self.tracer.spans if s["parent"] == op_id]
        for j in jobs:
            if j["start"] is None:
                continue
            parent = next((p["id"] for p in phases
                           if p["start"] <= j["start"] <= (p["end"] or 0)),
                          op_id)
            self.tracer.add("spark.job", j["start"], j["end"] or j["start"],
                            parent=parent, job=j["job"],
                            stages=len(j["stages"]),
                            skipped=j["skipped_stages"])
        rec["spark"] = aggregate(jobs)
