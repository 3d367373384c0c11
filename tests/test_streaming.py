"""Structured Streaming tests: replay the events parquet as a file-source
stream and assert the streaming results equal the batch-mode results of
the same transformations (the point of the pure DataFrame→DataFrame
design)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table
from axonops_schema_registry_spark.streaming.audit import (
    CollectingWebhookSink,
    audit_stream_from_events,
    cef_format,
    dedup_by_request_id,
    filter_event_types,
    normalize_audit,
    rate_limit_flags,
    windowed_metrics,
)


@pytest.fixture(scope="module")
def audit_batch(spark, sf_dir):
    return normalize_audit(load_table(spark, sf_dir, "events"))


@pytest.fixture(scope="module")
def stream_source(sf_dir):
    # file-source dir containing the events parquet split for multi-batch
    d = tempfile.mkdtemp(prefix="audit_stream_")
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, "part-0.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name):
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append" if not stream_df.isStreaming else "append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql(f"SELECT * FROM {name}")
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def test_stream_filter_and_formats(spark, stream_source, audit_batch):
    stream = audit_stream_from_events(spark, stream_source)
    filtered = filter_event_types(stream, ("error", "purchase"))
    got = _run_stream(spark, cef_format(filtered), "cef_sink").collect()
    want = cef_format(
        filter_event_types(audit_batch, ("error", "purchase"))).collect()
    assert sorted(r.line for r in got) == sorted(r.line for r in want)
    assert got[0].line.startswith("CEF:0|axonops|")


def test_stream_windowed_metrics_with_watermark(spark, stream_source,
                                                audit_batch):
    stream = audit_stream_from_events(spark, stream_source)
    agg = windowed_metrics(stream, window="1 hour")
    ckpt = tempfile.mkdtemp(prefix="ckpt_metrics_")
    q = (agg.writeStream.format("memory").queryName("metrics_sink")
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.window_start, r.event_type): (r.n_events, r.n_failures)
           for r in spark.sql("SELECT * FROM metrics_sink").collect()}
    shutil.rmtree(ckpt, ignore_errors=True)
    want = {(r.window_start, r.event_type): (r.n_events, r.n_failures)
            for r in windowed_metrics(audit_batch).collect()}
    assert got == want and len(got) > 0


def test_stream_dedup_then_windowed_metrics_composes(spark, sf_dir,
                                                     audit_batch):
    """The audit transforms compose on one stream: the first sets the
    event-time watermark and the second keeps it (Spark refuses to
    redefine one).  The source delivers every event twice, in two
    micro-batches; the composed stream equals the composed batch form
    over one copy."""
    d = tempfile.mkdtemp(prefix="audit_stream_twice_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_composed_")
    try:
        for i in range(2):
            shutil.copy(os.path.join(sf_dir, "events.parquet"),
                        os.path.join(d, f"part-{i}.parquet"))
        stream = audit_stream_from_events(spark, d)
        agg = windowed_metrics(dedup_by_request_id(stream), window="1 hour")
        q = (agg.writeStream.format("memory").queryName("composed_sink")
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(tuple(r) for r in
                     spark.sql("SELECT * FROM composed_sink").collect())
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    want = sorted(tuple(r) for r in windowed_metrics(
        dedup_by_request_id(audit_batch), window="1 hour").collect())
    assert got == want and len(got) > 0


def test_rate_limit_flags_batch_mode(audit_batch):
    flags = rate_limit_flags(audit_batch, window="1 hour",
                             max_per_window=3).collect()
    assert len(flags) > 0
    limited = [r for r in flags if r.rate_limited]
    for r in limited:
        assert r.n_requests > 3


def test_dedup_by_request_id(spark, audit_batch):
    doubled = audit_batch.unionByName(audit_batch)
    deduped = dedup_by_request_id(doubled)
    assert deduped.count() == audit_batch.count()


def test_webhook_sink_offset_tracking(spark, stream_source):
    stream = audit_stream_from_events(spark, stream_source)
    sink = CollectingWebhookSink()
    ckpt = tempfile.mkdtemp(prefix="ckpt_webhook_")
    q = (filter_event_types(stream, ("signup",))
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert sink.state == "RUNNING"
    assert sink.offset == sum(n for _, n in sink.batches)
    assert sink.offset > 0


def test_session_windows_batch_mode(audit_batch):
    from axonops_schema_registry_spark.streaming.audit import session_metrics

    sessions = session_metrics(audit_batch, gap="10 minutes").collect()
    assert len(sessions) > 0
    for r in sessions:
        assert r.session_end > r.session_start
        assert r.n_events >= 1 and r.n_failures <= r.n_events
    # per-actor event counts are conserved across that actor's sessions
    by_actor: dict[int, int] = {}
    for r in sessions:
        by_actor[r.actor_id] = by_actor.get(r.actor_id, 0) + r.n_events
    want = {r.actor_id: r.n
            for r in audit_batch.groupBy("actor_id").count()
            .withColumnRenamed("count", "n").collect()}
    assert by_actor == want


def test_audit_chain_detects_tampering(spark):
    from axonops_schema_registry_spark.streaming.audit import (
        audit_hash_chain,
    )

    rows = [("k", 1, "a"), ("k", 2, "b"), ("k", 3, "c")]
    df = spark.createDataFrame(rows, "key string, seq int, record string")
    base = audit_hash_chain(df, "key", ["seq"], "record").collect()[0]
    assert base["n_events"] == 3 and len(base["head_hash"]) == 64

    # same records, any single byte changed ANYWHERE → different head
    tampered = spark.createDataFrame(
        [("k", 1, "a"), ("k", 2, "X"), ("k", 3, "c")],
        "key string, seq int, record string")
    t = audit_hash_chain(tampered, "key", ["seq"], "record").collect()[0]
    assert t["head_hash"] != base["head_hash"]

    # reordering with the same multiset of records also changes the head
    reordered = spark.createDataFrame(
        [("k", 1, "b"), ("k", 2, "a"), ("k", 3, "c")],
        "key string, seq int, record string")
    r = audit_hash_chain(reordered, "key", ["seq"], "record").collect()[0]
    assert r["head_hash"] != base["head_hash"]


def test_stream_source_long_ts_schema(spark):
    """Legacy generator runs carry ts as nanos-in-a-LONG; the footer
    sniff in audit_stream_from_events must pick the bigint user schema
    and normalize_audit must branch to timestamp_micros (the r3 driver
    regression hit the reverse direction — TIMESTAMP_NTZ files against a
    hardcoded 'ts bigint' schema)."""
    import datetime

    base_us = int(datetime.datetime(2024, 1, 10).timestamp()) * 1_000_000
    rows = [(i, (base_us + i * 1_000_000) * 1000, i % 3,
             "error" if i % 5 == 0 else "view", float(i), f"p{i}")
            for i in range(20)]
    d = tempfile.mkdtemp(prefix="audit_long_ts_")
    try:
        spark.createDataFrame(
            rows, "event_id bigint, ts bigint, user_id bigint, "
                  "event_type string, value double, props string") \
            .coalesce(1).write.mode("overwrite").parquet(d)
        stream = audit_stream_from_events(spark, d)
        assert dict(stream.dtypes)["ts"].startswith("timestamp")
        out = _run_stream(spark, filter_event_types(stream, ("error",)),
                          "long_ts_audit")
        got = {r["event_id"]: r["ts"] for r in out.collect()}
        assert set(got) == {0, 5, 10, 15}
        assert got[5].timestamp() == base_us / 1_000_000 + 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_parse_audit_json_long_ts_payload(spark):
    """Kafka-path guard (ADVICE r4): a LONG-ts (epoch-nanos) JSON topic
    must flow through the same dtype branch as the file source — the old
    hardcoded 'ts timestamp' DDL would null-out or misparse it."""
    import datetime
    import json as _json

    from axonops_schema_registry_spark.streaming.audit import (
        parse_audit_json,
    )

    base_us = int(datetime.datetime(2024, 1, 10).timestamp()) * 1_000_000
    lines = [_json.dumps({
        "event_id": i, "ts": (base_us + i * 1_000_000) * 1000,
        "user_id": i % 3, "event_type": "error" if i % 5 == 0 else "view",
        "value": float(i), "props": f"p{i}"}) for i in range(10)]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    out = parse_audit_json(df, ts_type="bigint")
    assert dict(out.dtypes)["ts"].startswith("timestamp")
    rows = {r.event_id: r for r in out.collect()}
    assert len(rows) == 10 and rows[0].ts is not None
    assert rows[0].ts.year == 2024 and rows[0].outcome == "failure"
    assert (rows[1].ts - rows[0].ts).total_seconds() == 1.0


def test_parse_audit_json_iso_ts_payload(spark):
    from axonops_schema_registry_spark.streaming.audit import (
        parse_audit_json,
    )

    df = spark.createDataFrame(
        [('{"event_id": 1, "ts": "2024-01-10T00:00:05", "user_id": 7, '
          '"event_type": "view", "value": 1.5, "props": "x"}',)],
        "value string")
    row = parse_audit_json(df, ts_type="timestamp_ntz").collect()[0]
    assert row.ts is not None and row.ts.second == 5
    assert row.actor_id == 7 and row.outcome == "success"


def test_parse_audit_json_rejects_unknown_ts_type(spark):
    import pytest as _pytest

    from axonops_schema_registry_spark.streaming.audit import (
        parse_audit_json,
    )

    df = spark.createDataFrame([("{}",)], "value string")
    with _pytest.raises(ValueError):
        parse_audit_json(df, ts_type="date")


def test_network_sinks_end_to_end(spark, stream_source):
    """The NDJSON webhook and framed syslog sinks as REAL foreachBatch
    targets of a Structured Streaming query, delivering to live local
    receivers — the deployment shape of the reference's audit fanout
    (audit_webhook.go / audit_syslog.go)."""
    import json as _json

    from bdd_audit import SyslogReceiver, WebhookReceiver

    from axonops_schema_registry_spark.streaming.audit import (
        HttpWebhookSink,
        SyslogTcpSink,
        audit_stream_from_events,
    )

    wh, sy = WebhookReceiver(), SyslogReceiver()
    stream = filter_event_types(
        audit_stream_from_events(spark, stream_source), ("error",))
    wh_sink = HttpWebhookSink(wh.url)
    sy_sink = SyslogTcpSink("127.0.0.1", sy.port,
                            app_name="spark-audit")
    ckpt1 = tempfile.mkdtemp(prefix="ckpt_wh_")
    ckpt2 = tempfile.mkdtemp(prefix="ckpt_sy_")
    q1 = (stream.writeStream.foreachBatch(wh_sink)
          .option("checkpointLocation", ckpt1)
          .trigger(availableNow=True).start())
    q2 = (stream.writeStream.foreachBatch(sy_sink)
          .option("checkpointLocation", ckpt2)
          .trigger(availableNow=True).start())
    q1.awaitTermination(120)
    q2.awaitTermination(120)
    shutil.rmtree(ckpt1, ignore_errors=True)
    shutil.rmtree(ckpt2, ignore_errors=True)

    import time
    n_expected = filter_event_types(
        normalize_audit(spark.read.parquet(stream_source)),
        ("error",)).count()
    for _ in range(100):
        if len(wh.events) >= n_expected \
                and len(sy.messages) >= n_expected:
            break
        time.sleep(0.05)
    assert len(wh.events) == n_expected
    assert all(e["event_type"] == "error" for e in wh.events)
    assert len(sy.messages) == n_expected
    assert all("spark-audit" in m and '"outcome": "failure"' in m
               for m in sy.messages)
    # framing round-trip: the receiver reconstructed exact messages,
    # so each parses back to the JSON the sink serialized
    payload = _json.loads(sy.messages[0].split(" - - - ", 1)[1])
    assert payload["event_type"] == "error"


def test_incremental_dedup_stream_equals_batch(spark, sf_dir):
    """Two-micro-batch streaming ingestion produces the IDENTICAL
    first-wins dedup flags as one batch run over the full corpus —
    the order-independence contract of incremental_dedup_flags."""
    import time as _time

    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        IncrementalDedupSink,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    d = tempfile.mkdtemp(prefix="dedup_stream_")
    docs.filter(f"doc_id < {cut}").coalesce(1) \
        .write.parquet(os.path.join(d, "b0"))
    docs.filter(f"doc_id >= {cut}").coalesce(1) \
        .write.parquet(os.path.join(d, "b1"))
    src = tempfile.mkdtemp(prefix="dedup_src_")
    for i, sub in enumerate(("b0", "b1")):
        part = next(p for p in os.listdir(os.path.join(d, sub))
                    if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(d, sub, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = IncrementalDedupSink(track_flags=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_dedup_")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    for p in (d, src, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    want = {r.doc_id: (r.is_dup, r.dup_of)
            for r in incremental_dedup_flags(docs).collect()}
    assert sink.flags == want
    assert any(dup for dup, _ in sink.flags.values())


def test_curation_stream_equals_batch(spark, sf_dir):
    """Two-micro-batch streaming curation (dedup -> decontaminate ->
    PII-scrub) produces IDENTICAL per-document verdicts to the batch
    cur1 composition over the full corpus."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.llm.text import pii_redact
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        CurationSink,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 7 == 0,
                        F.lit(" mail root@example.com"))
                 .otherwise(F.lit("")))).select("doc_id", "source", "text")
    eval_set = planted.filter(F.col("source") == "src1") \
        .select("doc_id", "text")
    train = planted.filter(F.col("source") != "src1") \
        .select("doc_id", "text")

    # batch expectation: the cur1 composition
    dedup = incremental_dedup_flags(train, "doc_id", "text", 0.8, 3)
    contam = (contamination_flags(train, eval_set, "doc_id", "text", 5)
              .select("doc_id",
                      F.col("n_shared_spans").alias("n_eval_spans")))
    want_df = (train.join(dedup, "doc_id")
               .join(contam, "doc_id", "left")
               .na.fill({"n_eval_spans": 0})
               .withColumn("clean_text",
                           F.when(~F.col("is_dup")
                                  & (F.col("n_eval_spans") == 0),
                                  pii_redact("text"))))
    want = {r.doc_id: (r.is_dup, r.dup_of, r.n_eval_spans, r.clean_text)
            for r in want_df.collect()}

    # streaming run, 2 micro-batches
    cut = train.approxQuantile("doc_id", [0.5], 0.0)[0]
    d = tempfile.mkdtemp(prefix="cur_stream_")
    src = tempfile.mkdtemp(prefix="cur_src_")
    for i, pred in enumerate((f"doc_id < {cut}", f"doc_id >= {cut}")):
        sub = os.path.join(d, f"b{i}")
        train.filter(pred).coalesce(1).write.parquet(sub)
        part = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(sub, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = CurationSink(eval_set, track_results=True)
    ckpt = tempfile.mkdtemp(prefix="ckpt_cur_")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    for p in (d, src, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    got = {k: (v["is_dup"], v["dup_of"], v["n_eval_spans"],
               v["clean_text"]) for k, v in sink.results.items()}
    assert got == want
    # the scrub is observable: at least one kept doc got redacted
    assert any(v["clean_text"] and "<EMAIL>" in v["clean_text"]
               for v in sink.results.values())
    # and the stage drops something: a dup or a contaminated doc exists
    assert any(v["is_dup"] or v["n_eval_spans"] > 0
               for v in sink.results.values())


def test_bucketed_dedup_store_equals_batch(spark, sf_dir):
    """The disk-backed bucket store produces the IDENTICAL first-wins
    flags as the one-shot batch operator, without rescanning earlier
    documents per batch."""
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.streaming.dedup_store import (
        BucketedDedupStore,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    store_dir = tempfile.mkdtemp(prefix="dedup_store_")
    src = tempfile.mkdtemp(prefix="store_src_")
    ckpt = tempfile.mkdtemp(prefix="store_ckpt_")
    try:
        for i, pred in enumerate((f"doc_id < {cut}",
                                  f"doc_id >= {cut}")):
            sub = tempfile.mkdtemp(prefix="store_part_")
            docs.filter(pred).coalesce(1).write.mode("overwrite") \
                .parquet(sub)
            part = next(p for p in os.listdir(sub)
                        if p.endswith(".parquet"))
            dst = os.path.join(src, f"part-{i}.parquet")
            shutil.copy(os.path.join(sub, part), dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
            shutil.rmtree(sub, ignore_errors=True)

        sink = BucketedDedupStore(spark, store_dir, track_flags=True)
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        want = {r.doc_id: (r.is_dup, r.dup_of)
                for r in incremental_dedup_flags(docs).collect()}
        assert sink.flags == want
        assert any(d for d, _ in sink.flags.values())
        # the store holds every document's buckets exactly once
        n_bucket_ids = (spark.read.parquet(
            os.path.join(store_dir, "buckets"))
            .select("id").distinct().count())
        assert n_bucket_ids == docs.count()
    finally:
        for p in (store_dir, src, ckpt):
            shutil.rmtree(p, ignore_errors=True)


def test_bucketed_dedup_store_epoch_replay_idempotent(spark):
    """foreachBatch is at-least-once: replaying an epoch must neither
    double-append state nor change any verdict."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        BucketedDedupStore,
    )

    store_dir = tempfile.mkdtemp(prefix="replay_store_")
    try:
        sink = BucketedDedupStore(spark, store_dir, threshold=0.8,
                                  ngram=3, track_flags=True)
        words = "alpha beta gamma delta epsilon zeta eta theta".split()
        b0 = spark.createDataFrame(
            [(i, " ".join(words[(i + j) % 8] for j in range(8)))
             for i in range(5)], "doc_id bigint, text string")
        b1 = spark.createDataFrame(
            [(10 + i, " ".join(words[(i + j) % 8] for j in range(8)))
             for i in range(5)], "doc_id bigint, text string")
        sink(b0, epoch_id=0)
        sink(b1, epoch_id=1)
        flags_once = dict(sink.flags)
        # duplicates across batches exist (identical rotations)
        assert any(d for d, _ in flags_once.values())

        # replay epoch 1 (simulated retry after a partial failure)
        sink(b1, epoch_id=1)
        assert sink.flags == flags_once
        # the store holds each document's tokens exactly once
        toks = spark.read.parquet(os.path.join(store_dir, "toks"))
        per_doc = (toks.groupBy("id", "token").count()
                   .agg(F.max("count")).first()[0])
        assert per_doc == 1
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


def test_curation_sink_store_backed_survives_restart(spark):
    """CurationSink(store_dir=...) keeps its dedup state in the
    BucketedDedupStore's epoch-partitioned parquet: a SECOND sink
    instance (fresh process, same store_dir) continues from the stored
    epochs, and the merged verdicts equal one batch run over the full
    corpus — batch ≡ streaming-across-restarts."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.llm.text import pii_redact
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        CurationSink,
    )

    def doc(i: int, email: bool = False) -> str:
        body = " ".join(f"w{i}x{j}" for j in range(8))  # disjoint vocab
        return body + (" mail root@example.com" if email else "")

    # batch 0: five distinct docs, doc 1 carries PII (kept → redacted)
    b0 = spark.createDataFrame(
        [(i, doc(i, email=(i == 1))) for i in range(5)],
        "doc_id bigint, text string")
    # batch 1: three repeats of batch-0 docs (dups only visible THROUGH
    # the store after the restart) plus one fresh PII doc
    b1 = spark.createDataFrame(
        [(10, doc(0)), (11, doc(3)), (12, doc(4)),
         (15, doc(9, email=True))],
        "doc_id bigint, text string")
    train = b0.unionByName(b1)
    eval_set = spark.createDataFrame(
        [(100, doc(2))], "doc_id bigint, text string")

    dedup = incremental_dedup_flags(train, "doc_id", "text", 0.8, 3)
    contam = (contamination_flags(train, eval_set, "doc_id", "text", 5)
              .select("doc_id",
                      F.col("n_shared_spans").alias("n_eval_spans")))
    want_df = (train.join(dedup, "doc_id")
               .join(contam, "doc_id", "left")
               .na.fill({"n_eval_spans": 0})
               .withColumn("clean_text",
                           F.when(~F.col("is_dup")
                                  & (F.col("n_eval_spans") == 0),
                                  pii_redact("text"))))
    want = {r.doc_id: (r.is_dup, r.dup_of, r.n_eval_spans, r.clean_text)
            for r in want_df.collect()}

    store_dir = tempfile.mkdtemp(prefix="cur_store_")
    try:
        sink_a = CurationSink(eval_set, store_dir=store_dir,
                              track_results=True)
        sink_a(b0, epoch_id=0)
        # "restart": a brand-new sink object, nothing carried over
        # except the on-disk store
        sink_b = CurationSink(eval_set, store_dir=store_dir,
                              track_results=True)
        sink_b(b1, epoch_id=1)
        got = {k: (v["is_dup"], v["dup_of"], v["n_eval_spans"],
                   v["clean_text"])
               for s in (sink_a, sink_b) for k, v in s.results.items()}
        assert got == want
        # cross-restart dedup actually happened: a batch-1 doc is
        # flagged against its batch-0 original through the store
        assert any(v["is_dup"] and v["dup_of"] is not None
                   and v["dup_of"] < 10
                   for k, v in sink_b.results.items())
        # contamination + PII legs ran too
        assert any(n_spans > 0 for _, _, n_spans, _ in got.values())
        assert any(clean and "<EMAIL>" in clean
                   for _, _, _, clean in got.values())
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


def test_curation_sink_quality_leg_stream_equals_batch(spark):
    """The qf1-class quality gate inside CurationSink (VERDICT r15
    ask #4): the weight table is fitted ONCE on a fixed reference
    corpus, so per-document quality verdicts are batching-independent
    and the streamed results — INCLUDING a store-backed restart in the
    middle — equal one batch composition (dedup + decontaminate +
    quality-score + PII) over the full corpus.  The planted contrast
    makes every leg observable: a reference-like doc passes the gate,
    a spam-like doc fails it, a dup is dropped, a contaminated doc is
    dropped, and a kept doc is redacted."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )
    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_weights,
        quality_score_with_weights,
    )
    from axonops_schema_registry_spark.llm.text import pii_redact
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        CurationSink,
    )

    GOOD = "good fine prose text here now"
    SPAM = "spam buy spam buy cheap cheap"
    ref = spark.createDataFrame(
        [(101, GOOD), (102, "fine good text prose again"),
         (103, SPAM), (104, "buy now spam cheap deal")],
        "doc_id bigint, text string")
    ref_pos = spark.createDataFrame([(101,), (102,)], "doc_id bigint")

    def unique(i):
        return " ".join(f"u{i}q{j}" for j in range(6))

    # b0: 1=reference-like + PII (kept+redacted), 2=spam-like
    # (quality-dropped), 3=eval-contaminated, 4=plain unique (scores 0
    # -> quality-dropped: the no-evidence policy)
    b0 = spark.createDataFrame(
        [(1, GOOD + " mail root@example.com"),
         (2, SPAM + " " + unique(2)),
         (3, unique(3)),
         (4, unique(4))],
        "doc_id bigint, text string")
    # b1: 10 duplicates doc 1 (dup-dropped through the store/state),
    # 11 is reference-like and kept
    b1 = spark.createDataFrame(
        [(10, GOOD + " mail root@example.com"),
         (11, "good prose fine text indeed")],
        "doc_id bigint, text string")
    train = b0.unionByName(b1)
    eval_set = spark.createDataFrame(
        [(100, unique(3))], "doc_id bigint, text string")

    # batch twin: same fixed reference-fitted weights, composed legs
    wts = quality_filter_weights(ref, ref_pos)
    dedup = incremental_dedup_flags(train, "doc_id", "text", 0.8, 3)
    contam = (contamination_flags(train, eval_set, "doc_id", "text", 5)
              .select("doc_id",
                      F.col("n_shared_spans").alias("n_eval_spans")))
    scores = (quality_score_with_weights(train, wts)
              .select("doc_id",
                      F.col("score_micro").alias("quality_score_micro")))
    want_df = (train.join(dedup, "doc_id")
               .join(contam, "doc_id", "left")
               .join(scores, "doc_id", "left")
               .na.fill({"n_eval_spans": 0, "quality_score_micro": 0})
               .withColumn("quality_keep",
                           F.col("quality_score_micro") > 0)
               .withColumn("clean_text",
                           F.when(~F.col("is_dup")
                                  & (F.col("n_eval_spans") == 0)
                                  & F.col("quality_keep"),
                                  pii_redact("text"))))
    want = {r.doc_id: (r.is_dup, r.dup_of, r.n_eval_spans,
                       r.quality_score_micro, r.quality_keep,
                       r.clean_text)
            for r in want_df.collect()}

    def run(store_dir=None):
        sink_a = CurationSink(eval_set, store_dir=store_dir,
                              track_results=True, quality_ref=ref,
                              quality_pos_ids=ref_pos)
        sink_a(b0, epoch_id=0)
        if store_dir is not None:
            # "restart": a brand-new sink, only the on-disk store and
            # the (re-fit, deterministic) reference weights carry over
            sink_b = CurationSink(eval_set, store_dir=store_dir,
                                  track_results=True, quality_ref=ref,
                                  quality_pos_ids=ref_pos)
        else:
            sink_b = sink_a
        sink_b(b1, epoch_id=1)
        return {k: (v["is_dup"], v["dup_of"], v["n_eval_spans"],
                    v["quality_score_micro"], v["quality_keep"],
                    v["clean_text"])
                for s in {id(sink_a): sink_a, id(sink_b): sink_b}.values()
                for k, v in s.results.items()}

    # in-memory path
    assert run() == want
    # store-backed restart path
    store_dir = tempfile.mkdtemp(prefix="cur_q_store_")
    try:
        got = run(store_dir)
        assert got == want
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)

    # every leg observably fired
    assert want[1][5] and "<EMAIL>" in want[1][5]   # kept + redacted
    assert want[1][4] and not want[2][4]            # quality contrast
    assert want[4][3] == 0 and not want[4][4]       # no-evidence drop
    assert want[3][2] > 0 and want[3][5] is None    # contaminated drop
    assert want[10][0] and want[10][5] is None      # dup drop
    assert want[11][4] and want[11][5] is not None  # second keeper


def test_coded_case_sql_rewrites_only_result_literals(spark):
    """coded_case_sql must leave every branch CONDITION intact (verbs
    are uppercase, path fragments contain '/') and code exactly the
    lowercase result labels; the coded classifier must agree with the
    string classifier row-for-row."""
    from axonops_schema_registry_spark.streaming.audit import (
        audit_classify_sql,
        audit_path_flag_exprs,
        audit_reason_sql,
        audit_target_type_sql,
        coded_case_sql,
    )

    for base_sql in (audit_classify_sql(flags=True),
                     audit_target_type_sql(flags=True),
                     audit_reason_sql()):
        coded, labels = coded_case_sql(base_sql)
        # conditions intact: verbs and path fragments survive verbatim
        for kept in ("'POST'", "'GET'", "'/subjects'"):
            assert (kept in coded) == (kept in base_sql)
        # every lowercase result literal was coded away
        import re
        assert not re.search(r"'[a-z_]*'", coded)

    # the label tables pin the actual code assignments: reason's full
    # table in branch order, classify/target spot values
    _, reason_labels = coded_case_sql(audit_reason_sql())
    assert reason_labels == [
        "", "no_valid_credentials", "permission_denied", "not_found",
        "already_exists", "validation_error", "invalid_schema",
        "rate_limited", "internal_error"]
    _, cls_labels = coded_case_sql(audit_classify_sql(flags=True))
    assert cls_labels[:3] == ["auth_failure", "auth_forbidden",
                              "schema_import"]
    assert "kek_delete_permanent" in cls_labels
    _, tgt_labels = coded_case_sql(audit_target_type_sql(flags=True))
    assert set(tgt_labels) == {"subject", "schema", "config", "mode",
                               "dek", "kek", "exporter", "user",
                               "apikey", ""}

    # end-to-end: coded + decode == string CASE on a request sample
    req = spark.createDataFrame(
        [("POST", "/subjects/s1/versions", False, 200),
         ("DELETE", "/subjects/s1/versions/1", True, 200),
         ("GET", "/schemas/ids/5", False, 404),
         ("PUT", "/config/s1", False, 200),
         ("POST", "/admin/apikeys/k/rotate", False, 200),
         ("DELETE", "/dek-registry/v1/keks/k1", False, 401),
         ("PATCH", "/nonsense", False, 500)],
        "verb string, path string, is_permanent boolean, status int")
    flagged = req.selectExpr(
        "verb", "path", "is_permanent", "status",
        *[f"{e} AS {n}" for n, e in audit_path_flag_exprs().items()])
    coded_sql, labels = coded_case_sql(audit_classify_sql(flags=True))
    got = (flagged.selectExpr(f"{coded_sql} AS code",
                              f"{audit_classify_sql(flags=True)} AS s")
           .collect())
    for r in got:
        assert labels[r["code"]] == r["s"]


def test_bucketed_dedup_store_compaction_preserves_flags(spark):
    """compact() folds pre-watermark epochs into a base generation:
    post-compaction batches see the identical prior state (flags match
    a never-compacted twin store), folded epoch dirs are gone, and a
    replay of a post-watermark epoch stays idempotent."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        BucketedDedupStore,
    )

    def batch(ids):
        return spark.createDataFrame(
            [(i, " ".join(f"w{i % 7}t{j}" for j in range(8)))
             for i in ids], "doc_id bigint, text string")

    b0, b1, b2 = batch(range(5)), batch(range(10, 15)), \
        batch(range(20, 25))
    d_plain = tempfile.mkdtemp(prefix="cmp_plain_")
    d_comp = tempfile.mkdtemp(prefix="cmp_comp_")
    try:
        plain = BucketedDedupStore(spark, d_plain, track_flags=True)
        comp = BucketedDedupStore(spark, d_comp, track_flags=True)
        for s in (plain, comp):
            s(b0, epoch_id=0)
            s(b1, epoch_id=1)
        comp.compact(below_epoch=2)  # watermark: epochs 0-1 committed
        for s in (plain, comp):
            s(b2, epoch_id=2)
        assert comp.flags == plain.flags
        # cross-batch dups exist (w{i%7} vocab repeats across batches)
        assert any(d for d, _ in comp.flags.values())
        # folded epoch dirs are gone; base generation holds them
        buckets = os.path.join(d_comp, "buckets")
        live = [d for d in os.listdir(buckets)
                if d.startswith("epoch=")]
        assert live == ["epoch=2"]
        assert os.path.isdir(os.path.join(d_comp, "buckets_base", "g0"))
        # replaying the post-watermark epoch after compaction is still
        # idempotent
        before = dict(comp.flags)
        comp(b2, epoch_id=2)
        assert comp.flags == before
        # a second compaction folds epoch 2 into generation 1 and
        # sweeps generation 0
        comp.compact(below_epoch=3)
        assert not os.path.isdir(os.path.join(d_comp, "buckets_base",
                                              "g0"))
        assert os.path.isdir(os.path.join(d_comp, "buckets_base", "g1"))
        b3 = batch(range(30, 35))
        plain(b3, epoch_id=3)
        comp(b3, epoch_id=3)
        assert comp.flags == plain.flags
    finally:
        for p in (d_plain, d_comp):
            shutil.rmtree(p, ignore_errors=True)


def test_embedding_dedup_store_equals_batch(spark, sf_dir):
    """The embedding-modality store produces IDENTICAL first-wins
    semantic-dedup flags to the one-shot batch operator across
    micro-batches, with planted near-duplicate vectors found across
    the batch boundary through the stored bucket table."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        EmbeddingDedupStore,
        embedding_dedup_flags,
    )

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    # plant exact duplicates of batch-0 vectors into batch 1 so
    # cross-batch semantic dups exist at any threshold
    planted = (emb.filter(F.col("vec_id") < 20)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       "embedding"))
    b0 = emb.filter(F.col("vec_id") < 250)
    b1 = emb.filter(F.col("vec_id") >= 250).unionByName(planted)
    full = b0.unionByName(b1)

    want = {r.vec_id: (r.is_dup, r.dup_of)
            for r in embedding_dedup_flags(full).collect()}

    store_dir = tempfile.mkdtemp(prefix="emb_store_")
    try:
        sink = EmbeddingDedupStore(spark, store_dir, track_flags=True)
        sink(b0, epoch_id=0)
        sink(b1, epoch_id=1)
        assert sink.flags == want
        # the planted copies were flagged against their batch-0
        # originals through the store
        for vid in range(20):
            assert sink.flags[100000 + vid] == (True, vid)
        # replay idempotence
        before = dict(sink.flags)
        sink(b1, epoch_id=1)
        assert sink.flags == before
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)


def test_dedup_store_fails_loudly_on_corrupt_meta(spark):
    """A present-but-unreadable meta.json is store corruption (the
    compacted base would become invisible and dup-flagging would
    silently stop) — the meta read must raise, not default to empty state;
    only a MISSING file means 'no compaction yet'."""
    from axonops_schema_registry_spark.streaming.dedup_store import (
        BucketedDedupStore,
    )

    d = tempfile.mkdtemp(prefix="meta_corrupt_")
    try:
        store = BucketedDedupStore(spark, d)
        assert store.log.meta() == {"gen": -1, "below": 0}  # missing: ok
        with open(store.log.meta_path, "w") as f:
            f.write("{truncated")  # simulated torn write
        with pytest.raises(RuntimeError, match="corrupt dedup-store"):
            store.log.meta()
        # meta pointing at a missing base generation is equally loud
        with open(store.log.meta_path, "w") as f:
            f.write('{"gen": 0, "below": 1}')
        with pytest.raises(RuntimeError, match="missing base"):
            store.log.read(store.buckets_dir, 5)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_empty_codebook_sample_raises(spark):
    """_sampled_ids must fail loudly when the congruence sample is
    empty (no id ≡ 0 mod stride) instead of letting PQ/IVF silently
    emit empty frames."""
    from axonops_schema_registry_spark.llm.similarity import pq_encode

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(1, 20, 2)],
        "vec_id bigint, embedding array<double>")
    with pytest.raises(Exception, match="empty codebook"):
        pq_encode(vecs, m=2, centroid_stride=31).collect()


def test_exporter_crash_mid_batch_resumes_exactly_once(spark, sf_dir):
    """VERDICT r13 stretch #7 — the one streaming-exactly-once corner
    the suites didn't force: kill the exporter between the delivery
    commit and Spark's checkpoint offset write, restart on the same
    checkpoint, and assert no schema-event is duplicated or lost.

    Mechanism under test (reference anchor:
    internal/exporter/exporter.go:199-324 offset semantics): Spark
    re-delivers the uncommitted micro-batch with the SAME epoch_id on
    restart; IdempotentExporterSink's epoch-keyed atomic commit turns
    that at-least-once redelivery into exactly-once delivery, and its
    offset() recovers the delivered count from disk like the
    reference re-reading its stored offset on resume."""
    from pyspark.sql.streaming import StreamingQueryException

    from axonops_schema_registry_spark.streaming.exporter import (
        IdempotentExporterSink,
    )

    # two disjoint source files -> two micro-batches (file source,
    # maxFilesPerTrigger=1)
    src = tempfile.mkdtemp(prefix="exp_crash_src_")
    out = tempfile.mkdtemp(prefix="exp_crash_out_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_exp_crash_")
    try:
        events = spark.read.parquet(os.path.join(sf_dir,
                                                 "events.parquet"))
        for i, half in enumerate((events.filter("event_id % 2 = 0"),
                                  events.filter("event_id % 2 = 1"))):
            hd = tempfile.mkdtemp(prefix=f"exp_half{i}_")
            half.coalesce(1).write.mode("overwrite").parquet(hd)
            part = next(f for f in os.listdir(hd)
                        if f.endswith(".parquet"))
            shutil.move(os.path.join(hd, part),
                        os.path.join(src, f"part-{i}.parquet"))
            shutil.rmtree(hd, ignore_errors=True)

        def start(sink):
            stream = audit_stream_from_events(spark, src)
            return (stream.writeStream.foreachBatch(sink)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True).start())

        # run 1: crash AFTER epoch 0 is delivered, BEFORE Spark
        # commits its offset
        crash_sink = IdempotentExporterSink(out, fail_after_epoch=0)
        q = start(crash_sink)
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
        assert crash_sink.committed_epochs() == [0]
        n_epoch0 = crash_sink.offset()
        assert n_epoch0 > 0

        # run 2: same checkpoint, fresh sink process — Spark MUST
        # re-deliver epoch 0 (its offset was never committed); the
        # sink must skip it and deliver only epoch 1
        resume_sink = IdempotentExporterSink(out)
        q = start(resume_sink)
        q.awaitTermination(120)
        assert resume_sink.redelivered == [0], (
            "epoch 0 was not re-delivered — the crash window the test "
            "exists to force did not occur")
        assert resume_sink.delivered == [1]

        # exactly-once: delivered rows == batch rows, no dup, no loss
        got = sorted(int(r["event_id"])
                     for r in resume_sink.committed_rows())
        want = sorted(r.event_id for r in events.collect())
        assert got == want
        assert resume_sink.offset() == len(want)
    finally:
        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_line_dedup_stream_equals_batch(spark, sf_dir):
    """Two-micro-batch streaming line dedup (in-id-order batches)
    emits the IDENTICAL cleaned corpus to one batch line_dedup run —
    the keep-first elector is the same document either way.  Also
    pins epoch-replay idempotence via the overwrite partition."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        LineDedupSink,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    cut = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    d = tempfile.mkdtemp(prefix="ln_stream_")
    docs.filter(f"doc_id < {cut}").coalesce(1) \
        .write.parquet(os.path.join(d, "b0"))
    docs.filter(f"doc_id >= {cut}").coalesce(1) \
        .write.parquet(os.path.join(d, "b1"))
    src = tempfile.mkdtemp(prefix="ln_src_")
    for i, sub in enumerate(("b0", "b1")):
        part = next(p for p in os.listdir(os.path.join(d, sub))
                    if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(d, sub, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    res_dir = tempfile.mkdtemp(prefix="ln_res_")
    sink = LineDedupSink(track_results=True, results_dir=res_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_ln_")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    want = {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
            for r in line_dedup(docs).collect()}
    assert sink.results == want
    assert any(rem for _, rem, _ in
               [(b, r, t) for b, r, t in sink.results.values()])
    disk = {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
            for r in sink.all_results(spark).collect()}
    assert disk == want
    # replay idempotence: re-deliver epoch 0's batch against the
    # POST-stream state — first_epoch stamps mean an epoch's own
    # blocks never cut it, so the overwritten partition (and thus the
    # whole persisted corpus) must be VALUE-identical
    b0 = spark.read.parquet(os.path.join(d, "b0"))
    sink(b0, 0)
    disk2 = {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
             for r in sink.all_results(spark).collect()}
    assert disk2 == want
    for p in (d, src, ckpt, res_dir):
        shutil.rmtree(p, ignore_errors=True)


def test_token_budget_admission_sink_equals_batch_mixture(spark, sf_dir):
    """TokenBudgetAdmissionSink under hash-order arrival (the
    pre-sorted-manifest replay a budgeted ingest actually runs): the
    union of per-epoch admissions equals the batch
    token_budget_mixture answer exactly — ids, mix_rank, cum_tokens —
    across an epoch replay AND a mid-stream restart (fresh sink object,
    same directories; state is disk-only by construction)."""
    from axonops_schema_registry_spark.llm.sampling import (
        portable_hash,
        token_budget_mixture,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    budgets = (docs.select("source").distinct()
               .withColumn("token_budget", F.lit(500)))
    want = {r.doc_id: (r.source, r.mix_rank, r.cum_tokens)
            for r in token_budget_mixture(docs, budgets).collect()}
    assert want, "budget must admit something"

    # split into two batches at the global hash-order median: batch 0
    # is every source's hash-prefix half — ordered arrival per source
    h = portable_hash(F.col("doc_id").cast("string"))
    cut = docs.select(h.alias("h")).approxQuantile("h", [0.5], 0.0)[0]
    b0 = docs.filter(h <= cut)
    b1 = docs.filter(h > cut)

    d = tempfile.mkdtemp(prefix="tba_")
    try:
        sink = TokenBudgetAdmissionSink(budgets, d)
        sink(b0, epoch_id=0)
        # restart mid-stream: a brand-new sink continues from disk
        sink2 = TokenBudgetAdmissionSink(budgets, d)
        sink2(b1, epoch_id=1)
        got = {r.doc_id: (r.source, r.mix_rank, r.cum_tokens)
               for r in sink2.all_admissions(spark).collect()}
        assert got == want
        # at-least-once replay: epoch 1 re-delivered, value-identical
        sink2(b1, epoch_id=1)
        got2 = {r.doc_id: (r.source, r.mix_rank, r.cum_tokens)
                for r in sink2.all_admissions(spark).collect()}
        assert got2 == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_token_budget_admission_prefix_not_knapsack(spark):
    """mix5's prefix semantics hold across batches: once a source's
    cumulative SEEN tokens pass the budget, the source is closed — a
    later small document is rejected even though it would fit the
    remaining budget (greedy knapsack admission is deliberately not
    offered); a zero-budget source admits nothing, and rejected
    documents still advance the cumulative state."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    def words(i, n):
        return " ".join(f"w{i}x{j}" for j in range(n))

    b0 = spark.createDataFrame(
        [(1, "a", words(1, 6)), (2, "a", words(2, 6)),
         (3, "z", words(3, 3))],
        "doc_id bigint, source string, text string")
    # doc 4 overflows (6+6+9 > 15); doc 5 (2 tokens) WOULD fit the
    # leftover 3 but the source is closed by then
    b1 = spark.createDataFrame(
        [(4, "a", words(4, 9)), (5, "a", words(5, 2))],
        "doc_id bigint, source string, text string")
    budgets = spark.createDataFrame(
        [("a", 15), ("z", 0)], "source string, token_budget bigint")

    d = tempfile.mkdtemp(prefix="tba_px_")
    try:
        sink = TokenBudgetAdmissionSink(budgets, d)
        sink(b0, epoch_id=0)
        got0 = {r.doc_id for r in sink.all_admissions(spark).collect()}
        assert got0 == {1, 2}          # z's zero budget admits nothing
        sink(b1, epoch_id=1)
        rows = sink.all_admissions(spark).collect()
        assert {r.doc_id for r in rows} == {1, 2}   # 4 overflows, 5 closed
        # state advanced past the rejections: ranks/cums are the
        # full-prefix values, so a hypothetical later doc sees them
        by_id = {r.doc_id: r for r in rows}
        assert by_id[2].cum_tokens == 12
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_token_budget_admission_seeded_fuzz(spark):
    """Seeded random corpora, random budgets, random hash-order epoch
    cuts: the admission sink always equals the batch mixture (the
    LineDedupSink fuzz convention for the admission family)."""
    import random

    from axonops_schema_registry_spark.llm.sampling import (
        portable_hash,
        token_budget_mixture,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    rng = random.Random(1601)
    for trial in range(3):
        rows = [(i, f"s{rng.randint(0, 3)}",
                 " ".join(f"t{i}w{j}" for j in
                          range(rng.randint(1, 12))))
                for i in range(40)]
        docs = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string")
        budgets = spark.createDataFrame(
            [(f"s{k}", rng.choice([0, 10, 25, 60])) for k in range(4)],
            "source string, token_budget bigint")
        want = {r.doc_id: (r.mix_rank, r.cum_tokens)
                for r in token_budget_mixture(docs, budgets).collect()}

        h = portable_hash(F.col("doc_id").cast("string"))
        qs = sorted(rng.sample(range(1, 10), 2))
        cuts = docs.select(h.alias("h")).approxQuantile(
            "h", [qs[0] / 10, qs[1] / 10], 0.0)
        epochs = [docs.filter(h <= cuts[0]),
                  docs.filter((h > cuts[0]) & (h <= cuts[1])),
                  docs.filter(h > cuts[1])]
        d = tempfile.mkdtemp(prefix="tba_fuzz_")
        try:
            sink = TokenBudgetAdmissionSink(budgets, d)
            for e, b in enumerate(epochs):
                sink(b, epoch_id=e)
            got = {r.doc_id: (r.mix_rank, r.cum_tokens)
                   for r in sink.all_admissions(spark).collect()}
            assert got == want, f"trial {trial} diverged"
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_token_budget_admission_foreachbatch_stream(spark, tmp_path):
    """End-to-end wiring: a structured-streaming file source delivers
    the hash-ordered manifest in two files through a real foreachBatch
    query; the persisted admissions equal the batch mixture."""
    import os

    from axonops_schema_registry_spark.llm.sampling import (
        portable_hash,
        token_budget_mixture,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", " ".join(f"d{i}w{j}" for j in range(5)))
         for i in range(30)],
        "doc_id bigint, source string, text string")
    budgets = spark.createDataFrame(
        [(f"s{k}", 20) for k in range(3)],
        "source string, token_budget bigint")
    want = {r.doc_id: (r.mix_rank, r.cum_tokens)
            for r in token_budget_mixture(docs, budgets).collect()}
    assert want

    h = portable_hash(F.col("doc_id").cast("string"))
    cut = docs.select(h.alias("h")).approxQuantile("h", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, part in enumerate((docs.filter(h <= cut),
                              docs.filter(h > cut))):
        sub = str(tmp_path / f"b{i}")
        part.coalesce(1).write.parquet(sub)
        f = next(p for p in os.listdir(sub) if p.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(os.path.join(sub, f), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    sink = TokenBudgetAdmissionSink(budgets, str(tmp_path / "store"))
    stream = (spark.readStream
              .schema("doc_id bigint, source string, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {r.doc_id: (r.mix_rank, r.cum_tokens)
           for r in sink.all_admissions(spark).collect()}
    assert got == want


def test_token_budget_admission_budget_revision(spark, tmp_path):
    """Budget revisions (VERDICT r16 ask #6): a raise published at a
    future effective epoch admits only FUTURE arrivals — past
    rejections stand and still count against the prefix; a replayed
    pre-revision epoch re-admits under the budgets it originally saw;
    a restart re-applies stored revisions; and the refusal surface
    (retroactive effective epoch, conflicting re-publication,
    different construction base) fails loudly."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    def words(i, n):
        return " ".join(f"w{i}x{j}" for j in range(n))

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, source string, text string")

    budgets = spark.createDataFrame(
        [("a", 15)], "source string, token_budget bigint")
    d = str(tmp_path / "store")

    sink = TokenBudgetAdmissionSink(budgets, d)
    # epoch 0: cum 6, 12 — both admitted; source b has NO budget yet:
    # excluded from the run (mix5 semantics), not part of the prefix
    sink(mk([(1, "a", words(1, 6)), (2, "a", words(2, 6)),
             (30, "b", words(30, 4))]), epoch_id=0)
    # epoch 1: doc 4 overflows (cum 21 > 15), doc 5 closed (cum 23)
    b1 = mk([(4, "a", words(4, 9)), (5, "a", words(5, 2))])
    sink(b1, epoch_id=1)
    assert {r.doc_id for r in sink.all_admissions(spark).collect()} \
        == {1, 2}

    # raise a's budget and give b one, effective from epoch 2
    sink.update_budgets(mk_budgets(spark, [("a", 40), ("b", 10)]),
                        effective_epoch=2)
    # idempotent re-publication (crash-retry shape) is fine...
    sink.update_budgets(mk_budgets(spark, [("a", 40), ("b", 10)]),
                        effective_epoch=2)
    # ...a DIFFERENT table at the same effective epoch is not
    with pytest.raises(RuntimeError, match="different budget revision"):
        sink.update_budgets(mk_budgets(spark, [("a", 99)]),
                            effective_epoch=2)
    # retroactive revision refused (epochs 0-1 already processed)
    with pytest.raises(RuntimeError, match="not above"):
        sink.update_budgets(mk_budgets(spark, [("a", 99)]),
                            effective_epoch=1)

    # epoch 2: a's doc 6 (cum 28 <= 40) admitted — the raise opens
    # FUTURE arrivals only; 4/5 stay rejected though 40 would cover
    # doc 4's cum 21.  b's doc 31 starts b's prefix (cum 3 <= 10);
    # doc 30 is NOT retroactively admitted.
    sink(mk([(6, "a", words(6, 5)), (31, "b", words(31, 3))]),
         epoch_id=2)
    got = {r.doc_id: r.cum_tokens
           for r in sink.all_admissions(spark).collect()}
    assert got == {1: 6, 2: 12, 6: 28, 31: 3}

    # replay of pre-revision epoch 1 uses as-of(1) = 15: identical
    sink(b1, epoch_id=1)
    got2 = {r.doc_id: r.cum_tokens
            for r in sink.all_admissions(spark).collect()}
    assert got2 == got

    # restart: same base budgets, revisions re-applied from disk
    sink2 = TokenBudgetAdmissionSink(budgets, d)
    sink2(mk([(7, "a", words(7, 5))]), epoch_id=3)
    got3 = {r.doc_id: r.cum_tokens
            for r in sink2.all_admissions(spark).collect()}
    assert got3 == {1: 6, 2: 12, 6: 28, 31: 3, 7: 33}

    # a different construction base is a pin violation
    with pytest.raises(RuntimeError, match="different base budgets"):
        TokenBudgetAdmissionSink(
            mk_budgets(spark, [("a", 16)]), d)


def mk_budgets(spark, rows):
    return spark.createDataFrame(
        rows, "source string, token_budget bigint")


def test_token_budget_admission_compact(spark, tmp_path):
    """compact() (ADVICE r16): folding epochs below the checkpoint
    watermark into a generation base preserves all_admissions and the
    prefix state exactly (continued ingest equals the uncompacted
    twin), replaying a folded epoch is refused, and re-compaction is
    a no-op."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    def words(i, n):
        return " ".join(f"w{i}x{j}" for j in range(n))

    rows = [(i, f"s{i % 2}", words(i, 1 + i % 4)) for i in range(24)]
    epochs = [rows[:8], rows[8:16], rows[16:]]

    def mk(rs):
        return spark.createDataFrame(
            rs, "doc_id bigint, source string, text string")

    budgets = mk_budgets(spark, [("s0", 18), ("s1", 14)])

    d1, d2 = str(tmp_path / "plain"), str(tmp_path / "compacted")
    plain = TokenBudgetAdmissionSink(budgets, d1)
    comp = TokenBudgetAdmissionSink(budgets, d2)
    for e in range(2):
        plain(mk(epochs[e]), epoch_id=e)
        comp(mk(epochs[e]), epoch_id=e)

    pre = {r.doc_id: (r.mix_rank, r.cum_tokens)
           for r in comp.all_admissions(spark).collect()}
    comp.compact(spark, below_epoch=2)
    post = {r.doc_id: (r.mix_rank, r.cum_tokens)
            for r in comp.all_admissions(spark).collect()}
    assert post == pre
    # folded epoch partitions are swept; the base carries them now
    import os as _os
    live = [x for x in _os.listdir(comp.state_dir)
            if x.startswith("epoch=")] \
        if _os.path.isdir(comp.state_dir) else []
    assert live == []

    # replaying a folded epoch is refused
    with pytest.raises(RuntimeError, match="below the compaction"):
        comp(mk(epochs[1]), epoch_id=1)

    # continued ingest over the base equals the uncompacted twin
    plain(mk(epochs[2]), epoch_id=2)
    comp(mk(epochs[2]), epoch_id=2)
    want = {r.doc_id: (r.mix_rank, r.cum_tokens)
            for r in plain.all_admissions(spark).collect()}
    got = {r.doc_id: (r.mix_rank, r.cum_tokens)
           for r in comp.all_admissions(spark).collect()}
    assert got == want

    # idempotent: re-compacting the same watermark is a no-op, and a
    # later compact folds base + live into the next generation
    comp.compact(spark, below_epoch=2)
    comp.compact(spark, below_epoch=3)
    got2 = {r.doc_id: (r.mix_rank, r.cum_tokens)
            for r in comp.all_admissions(spark).collect()}
    assert got2 == want
    assert comp.log.meta() == {"gen": 1, "below": 3}


def test_budget_revision_stream_equals_batch(spark, sf_dir):
    """The bud1 seam: TokenBudgetAdmissionSink with a mid-stream
    update_budgets equals the batch budget_revision_admission over
    the same epoch-stamped corpus — ids, mix_rank, cum_tokens — so
    the sink and the bud1 oracle-checked spec pin each other."""
    from axonops_schema_registry_spark.llm.sampling import (
        budget_revision_admission,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("epoch",
                        F.expr("(doc_id DIV 20) % 4").cast("bigint"))
            .select("doc_id", "source", "text", "epoch")
            .localCheckpoint(eager=True))
    srcs = docs.select("source").distinct()
    even = F.substring("source", 4, 10).cast("int") % 2 == 0
    base = srcs.withColumn("token_budget", F.lit(60).cast("bigint"))
    # the raise is deliberately huge so the revision path observably
    # fires at ANY fixture scale (every even-source epoch-2+ arrival
    # admitted past the base 60) — the equality below is the real pin
    raised = (srcs.filter(even)
              .withColumn("token_budget",
                          F.lit(10_000).cast("bigint")))
    revisions = (base.withColumn("effective", F.lit(0).cast("bigint"))
                 .unionByName(raised.withColumn(
                     "effective", F.lit(2).cast("bigint"))))
    want = {r.doc_id: (r.mix_rank, r.cum_tokens)
            for r in budget_revision_admission(docs, revisions)
            .filter("admitted").collect()}
    assert want, "base budget must admit something"

    d = tempfile.mkdtemp(prefix="bud1_")
    try:
        sink = TokenBudgetAdmissionSink(base, d)
        for e in range(4):
            if e == 2:
                sink.update_budgets(raised, effective_epoch=2)
            sink(docs.filter(F.col("epoch") == e), epoch_id=e)
        got = {r.doc_id: (r.mix_rank, r.cum_tokens)
               for r in sink.all_admissions(spark).collect()}
        assert got == want
        # the raise actually bit: some admission is epoch-2+ on an
        # even source beyond the base budget
        adm = sink.all_admissions(spark)
        assert adm.filter(F.col("cum_tokens") > 60).count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_budget_revision_seeded_fuzz(spark):
    """Seeded random corpora, random epoch stamps, random revision
    schedules (raises AND cuts, new sources appearing mid-run): the
    admission sink with update_budgets always equals the batch
    budget_revision_admission — the fuzz convention extended to the
    revision surface."""
    import random

    from axonops_schema_registry_spark.llm.sampling import (
        budget_revision_admission,
    )
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    rng = random.Random(1701)
    for trial in range(3):
        n_src = rng.randint(2, 4)
        rows = [(i, f"s{rng.randint(0, n_src - 1)}",
                 " ".join(f"t{i}w{j}" for j in
                          range(rng.randint(1, 10))),
                 rng.randint(0, 3))
                for i in range(40)]
        docs = spark.createDataFrame(
            rows, "doc_id bigint, source string, text string, "
                  "epoch bigint")
        # base budgets cover a SUBSET of sources (s0 missing in some
        # trials — its pre-revision docs are outside the run); one
        # revision per trial at a random future epoch
        base_rows = [(f"s{k}", rng.choice([5, 15, 40]))
                     for k in range(n_src) if rng.random() > 0.2]
        if not base_rows:
            base_rows = [("s0", 15)]
        rev_epoch = rng.randint(1, 3)
        rev_rows = [(f"s{k}", rng.choice([0, 10, 60]))
                    for k in range(n_src) if rng.random() > 0.4]
        if not rev_rows:
            rev_rows = [("s1", 60)]
        base = spark.createDataFrame(
            base_rows, "source string, token_budget bigint")
        rev = spark.createDataFrame(
            rev_rows, "source string, token_budget bigint")
        revisions = (base.withColumn("effective",
                                     F.lit(0).cast("bigint"))
                     .unionByName(rev.withColumn(
                         "effective",
                         F.lit(rev_epoch).cast("bigint"))))
        want = {r.doc_id: (r.mix_rank, r.cum_tokens)
                for r in budget_revision_admission(docs, revisions)
                .filter("admitted").collect()}

        d = tempfile.mkdtemp(prefix="bud_fuzz_")
        try:
            sink = TokenBudgetAdmissionSink(base, d)
            for e in range(4):
                if e == rev_epoch:
                    sink.update_budgets(rev, effective_epoch=e)
                sink(docs.filter(F.col("epoch") == e), epoch_id=e)
            adm = sink.all_admissions(spark)
            got = ({} if adm is None else
                   {r.doc_id: (r.mix_rank, r.cum_tokens)
                    for r in adm.collect()})
            assert got == want, f"trial {trial} diverged"
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_budget_revision_guard_survives_compact_crash_orphans(
        spark, tmp_path):
    """A crash between compact()'s meta swap and its directory sweep
    leaves orphan live state partitions BELOW the fold watermark;
    the processed-epoch guard must take max(live, watermark-1), not
    max(live) — or a revision could rewrite an already-folded epoch's
    as-of view."""
    import os as _os

    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, source string, text string")

    budgets = mk_budgets(spark, [("a", 50)])
    d = str(tmp_path / "store")
    sink = TokenBudgetAdmissionSink(budgets, d)
    for e in range(3):
        sink(mk([(10 + e, "a", f"w{e}x w{e}y")]), epoch_id=e)
    sink.compact(spark, below_epoch=3)
    # simulate the crash tail: resurrect an orphan epoch=0 partition
    # (readers ignore it via meta.below; only the guard could trip)
    orphan = _os.path.join(sink.state_dir, "epoch=0")
    mk([(10, "a", "w0x w0y")]).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seen"),
        F.lit(2).cast("bigint").alias("nt_seen")) \
        .write.mode("overwrite").parquet(orphan)
    with pytest.raises(RuntimeError, match="not above"):
        sink.update_budgets(mk_budgets(spark, [("a", 99)]),
                            effective_epoch=2)
    sink.update_budgets(mk_budgets(spark, [("a", 99)]),
                        effective_epoch=3)  # above the fold: fine
