"""Registry point requests from one closed-loop client (path a of
``query``): ``latest``, ``history``, a fingerprint lookup through the
SQL door, ``subjects``, ``statistics`` and the compatibility ``check``.
Every answer is checked against the pure-Python model the generator
wrote beside each request.
"""

from __future__ import annotations

import json
import os

from axonops_schema_registry_spark.api import RegistryAnalytics
from perfbench.gen import CYCLE


class Lookup:
    def __init__(self, spark, harness, inputs: str) -> None:
        self.spark, self.h, self.inputs = spark, harness, inputs
        self.sent = 0

    def reference(self) -> None:
        with open(os.path.join(self.inputs, "registry",
                               "requests.json")) as f:
            self.requests = json.load(f)

    def warm(self) -> None:
        """Open the facade over the corpus, then send the last cycle of
        the stream, answers unchecked (the timed cycles start from the
        first)."""
        corpus = self.spark.read.parquet(
            os.path.join(self.inputs, "registry", "corpus.parquet"))
        self.reg = RegistryAnalytics(self.spark, corpus)
        self.reg.live().createOrReplaceTempView("perfbench_registry_live")
        for req in self.requests[-len(CYCLE):]:
            self._answer(req)

    def run_cycle(self) -> None:
        """Send the next cycle of the request mix."""
        for req in self.requests[self.sent:self.sent + len(CYCLE)]:
            with self.h.op("a", req["op"]) as rec:
                got = self._answer(req)
            rec["part"] = "api"
            self.h.check(rec, lambda: got == req["expect"])
        self.sent += len(CYCLE)

    def _answer(self, req: dict):
        """Send one request; return its answer in the model's shape."""
        op, subject, reg = req["op"], req.get("subject"), self.reg
        h = self.h
        if op == "latest":
            with h.phase("build"):
                df = reg.latest(subject).select("version", "schema_id")
            with h.phase("collect"):
                return [[r.version, r.schema_id] for r in df.collect()]
        if op == "history":
            with h.phase("build"):
                df = reg.history(subject).select("version", "schema_id")
            with h.phase("collect"):
                return [[r.version, r.schema_id] for r in df.collect()]
        if op == "fingerprint":
            with h.phase("build"):
                df = self.spark.sql(
                    "SELECT subject, version FROM perfbench_registry_live "
                    "WHERE fingerprint = :fp", args={"fp": req["fingerprint"]})
            with h.phase("collect"):
                return sorted([r.subject, r.version] for r in df.collect())
        if op == "subjects":
            with h.phase("build"):
                df = reg.subjects()
            with h.phase("collect"):
                return sorted(r.subject for r in df.collect())
        if op == "statistics":
            with h.phase("build"):
                df = reg.statistics()
            with h.phase("collect"):
                return sorted([r.schema_type, r.n_subjects, r.n_versions]
                              for r in df.collect())
        if op == "check":
            with h.phase("collect"):
                ok, _ = reg.check(req["schema_text"], subject,
                                  mode="BACKWARD",
                                  schema_type=req["schema_type"])
            return {"compatible": ok}
        raise ValueError(f"unknown request type {op!r}")
