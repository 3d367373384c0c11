"""``ingest``: the write paths.

Path a replays the generated audit-event files as a file-source stream
(``audit_stream_from_events``) and drains them with
``trigger(availableNow=True)`` through three separate queries, each with
its own checkpoint and state store: ``windowed_metrics`` and
``rate_limit_flags`` (complete mode, memory sink) and
``dedup_by_request_id`` (append mode, parquet sink).  Path b ingests the
generated documents epoch by epoch through
``BucketedDedupStore.process_batch`` and then ``compact``\\ s the store.

Checks: each stream's output equals the batch form of the same
transformation over the same files, and the store's ``all_flags()``
equals ``incremental_dedup_flags`` over the whole corpus.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from axonops_schema_registry_spark.llm.dedup import incremental_dedup_flags
from axonops_schema_registry_spark.operators.core import (
    release_checkpoint,
    release_plan_caches,
)
from axonops_schema_registry_spark.streaming.audit import (
    audit_stream_from_events,
    dedup_by_request_id,
    normalize_audit,
    rate_limit_flags,
    windowed_metrics,
)
from axonops_schema_registry_spark.streaming.dedup_store import (
    BucketedDedupStore,
)
from perfbench.layers import dir_usage, progress_records, stream_batch

QUERIES = (("windowed_metrics", windowed_metrics),
           ("rate_limit_flags", rate_limit_flags),
           ("dedup_by_request_id", dedup_by_request_id))


def _rows(rows) -> list[tuple]:
    return sorted(tuple(repr(v) for v in r) for r in rows)


class Ingest:
    name = "ingest"

    def __init__(self, spark, harness, inputs: str) -> None:
        self.spark, self.h, self.inputs = spark, harness, inputs
        self.audit_dir = os.path.join(inputs, "audit")
        self.docs_path = os.path.join(inputs, "tables", "documents.parquet")
        self.work = os.path.join(inputs, "ingest_work")
        self.cycles = 0
        self.warm_in_run_s = 0.0
        self.stores: list[dict] = []
        self.drains: list[dict] = []

    def reference(self) -> None:
        with open(os.path.join(self.inputs, "plan.json")) as f:
            self.epochs = json.load(f)["epochs"]
        audit = normalize_audit(self.spark.read.parquet(self.audit_dir))
        self.expect = {
            "windowed_metrics": _rows(windowed_metrics(audit).collect()),
            "rate_limit_flags": _rows(rate_limit_flags(audit).collect()),
            "dedup_by_request_id": sorted(
                r.request_id for r in
                dedup_by_request_id(audit).select("request_id").collect())}
        docs = self.spark.read.parquet(self.docs_path)
        self.expect_flags = _rows(
            incremental_dedup_flags(docs)
            .select("doc_id", "is_dup", "dup_of").collect())
        release_plan_caches()
        self.n_text_bytes = sum(
            len(r.text.encode()) for r in docs.select("text").collect())

    def warm(self) -> None:
        """Nothing to do before the timed cycles: :meth:`reference` has
        run the store's operators, and each stream's first micro-batch
        (the 100-event file) is its warm-up; the first cycle's are timed
        into :attr:`warm_in_run_s`."""

    def run(self, seconds: float) -> None:
        """Whole cycles until ``seconds`` have gone (at least one)."""
        start = time.perf_counter()
        while True:
            self._cycle(f"c{self.cycles}")
            self.cycles += 1
            if time.perf_counter() - start >= seconds:
                return

    # -- one cycle -----------------------------------------------------

    def _cycle(self, tag: str) -> None:
        root = os.path.join(self.work, tag)
        for qname, fn in QUERIES:
            self._drain(root, tag, qname, fn)
        self._store(os.path.join(root, "store"))
        shutil.rmtree(root, ignore_errors=True)

    def _drain(self, root: str, tag: str, qname: str, fn) -> None:
        ckpt = os.path.join(root, "ckpt", qname)
        sink = os.path.join(root, "sink", qname)
        table = f"perfbench_{qname}_{tag}"
        t0 = time.perf_counter()
        try:
            out = fn(audit_stream_from_events(self.spark, self.audit_dir))
            w = (out.writeStream.trigger(availableNow=True)
                 .option("checkpointLocation", ckpt))
            if qname == "dedup_by_request_id":
                w = (w.format("parquet").option("path", sink)
                     .outputMode("append"))
            else:
                w = w.format("memory").queryName(table).outputMode("complete")
            q = w.start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
            batches = [dict(stream_batch(p), timestamp=p["timestamp"])
                       for p in progress_records(q)]
            if len(batches) < 2:
                raise RuntimeError(f"{len(batches)} micro-batches, "
                                   "expected the warm-up and one more")
            warm = batches[0]["trigger_ms"] / 1e3
        except Exception as e:  # the drain counts as one failed operation
            self.h.fail("a", qname, time.perf_counter() - t0, e)
            return
        wall = time.perf_counter() - t0
        # the first cycle's warm-up batches are set-up; later cycles'
        # are in neither set-up nor path a, so set-up does not grow
        # with the number of cycles a run completes
        if self.cycles == 0:
            self.warm_in_run_s += warm
        self.h.add_stream_batches("a", qname, batches[1:], str(q.runId))
        self.drains.append({"query": qname, "wall_s": wall,
                            "batches": len(batches),
                            "rows": sum(b["rows"] for b in batches),
                            "checkpoint_bytes": dir_usage(ckpt)[0]})
        self.h.check(self.h.ops[-1], lambda: self._stream_output(
            qname, table, sink) == self.expect[qname])
        if qname != "dedup_by_request_id":
            self.spark.catalog.dropTempView(table)

    def _stream_output(self, qname: str, table: str, sink: str):
        if qname == "dedup_by_request_id":
            return sorted(r.request_id for r in self.spark.read.parquet(sink)
                          .select("request_id").collect())
        return _rows(self.spark.table(table).collect())

    def _store(self, store_dir: str) -> None:
        docs = self.spark.read.parquet(self.docs_path)
        store = BucketedDedupStore(self.spark, store_dir)
        info = {"epochs": [], "compact_s": 0.0}
        h = self.h
        for e, (lo, hi) in enumerate(self.epochs):
            part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            flags = None
            with h.op("b", "epoch", items=hi - lo) as rec:
                with h.phase("build"):
                    flags = store.process_batch(part, e)
            if flags is not None:
                release_checkpoint(flags)
            info["epochs"].append(rec["wall_s"])
        with h.op("b", "compact", items=0) as rec:
            with h.phase("compact"):
                store.compact(below_epoch=len(self.epochs))
        info["compact_s"] = rec["wall_s"]
        info["bytes"], info["files"] = dir_usage(store_dir)
        h.check(rec, lambda: _rows(
            store.all_flags().select("doc_id", "is_dup", "dup_of")
            .collect()) == self.expect_flags)
        self.stores.append(info)
