"""Audit-event streaming analytics.

Reference surface (citations into /root/reference/):
- ST1 async event bus w/ background writer  → Structured Streaming source
  (internal/auth/audit.go:229-234); backpressure is native.
- ST2 enabled-type filtering                (audit.go:244-251)
- ST3 multi-sink fanout w/ JSON/CEF formats (audit.go:253-299,
  audit_format.go) → one input stream, N queries / foreachBatch
- ST4 webhook batching                      (audit_webhook.go) →
  foreachBatch + processingTime trigger
- ST6 rate limiting (token bucket)          (internal/auth/ratelimit.go) →
  windowed per-actor counts + threshold flag (analytics analog)
- ST7 request metrics                       (internal/metrics/metrics.go:
  517-560) → event-time windowed counts/percentiles

The reference has no watermarks or late-data handling (in-process,
in-order delivery); we add standard Spark semantics: every event-time
aggregation takes ``withWatermark`` so state is bounded, and exactly-once
-ish dedup uses ``dropDuplicatesWithinWatermark`` on the request id.

Every transformation is a pure DataFrame → DataFrame function, so the
SAME code runs in batch mode (unit tests, backfills) and streaming mode —
the idiomatic Structured Streaming design.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

#: Structured audit event (FIXTURES.md §2 / audit.go:166-209, abridged to
#: the driver corpus's observable fields).
AUDIT_DDL = ("event_id bigint, ts timestamp, actor_id bigint, "
             "event_type string, value double, props string, "
             "outcome string, request_id string")


def audit_stream_from_events(spark: SparkSession, source_dir: str,
                             max_files_per_trigger: int = 1) -> DataFrame:
    """Replay an events parquet directory as a file-source audit stream.

    ``maxFilesPerTrigger`` bounds micro-batch size (the reference's
    channel-buffer analog, audit.go:229-234).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Sniff the file footer's ts type with a batch read so the stream's
    # user-supplied schema matches the actual parquet physical type
    # (nanos-as-LONG generator runs vs TIMESTAMP(MICROS) runs).
    footer = spark.read.parquet(source_dir)
    ts_ddl = ("ts bigint"
              if isinstance(footer.schema["ts"].dataType, LongType)
              else "ts timestamp_ntz")
    raw = (spark.readStream
           .schema(f"event_id bigint, {ts_ddl}, user_id bigint, "
                   "event_type string, value double, props string")
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(source_dir))
    return normalize_audit(raw)


def parse_audit_json(lines: DataFrame, ts_type: str = "timestamp") -> DataFrame:
    """Parse JSON audit payloads (one object per row in column ``value``)
    into the normalized audit shape.  ``ts_type`` declares how the topic
    encodes timestamps: ``timestamp`` / ``timestamp_ntz`` for ISO
    strings, ``bigint`` for epoch-nanos LONGs (the legacy generator
    encoding, same as the file source's nanosAsLong) — ``normalize_audit``
    branches on the resulting dtype, the same guard the file source gets
    from footer sniffing (a hardcoded ``ts timestamp`` DDL against a
    LONG-ts topic is exactly the bug class that broke round 3)."""
    if ts_type not in ("timestamp", "timestamp_ntz", "bigint"):
        raise ValueError(f"unsupported ts_type {ts_type!r}")
    parsed = lines.select(
        F.from_json(F.col("value").cast("string"),
                    f"event_id bigint, ts {ts_type}, user_id bigint, "
                    "event_type string, value double, props string")
        .alias("e")).select("e.*")
    return normalize_audit(parsed)


def audit_stream_from_kafka(spark: SparkSession, bootstrap_servers: str,
                            topic: str,
                            ts_type: str = "timestamp") -> DataFrame:
    """Production source: audit events from a Kafka topic (the deployment
    path for the reference's webhook/exporter fanout at scale).  Requires
    the spark-sql-kafka package and a reachable broker — not exercised in
    this container; the file-source replay above is the tested path and
    shares every downstream transformation (including the
    :func:`parse_audit_json` stage, which IS unit-tested both ways)."""
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", bootstrap_servers)
           .option("subscribe", topic)
           .option("startingOffsets", "latest")
           .load())
    return parse_audit_json(raw, ts_type=ts_type)


def normalize_audit(raw: DataFrame) -> DataFrame:
    """events → audit-event shape (works on batch and stream inputs).

    ``ts`` arrives either as nanos-in-a-LONG (legacy generator +
    nanosAsLong) or as a real TIMESTAMP/TIMESTAMP_NTZ.  Branch on the
    dtype in PYTHON — Spark type-checks every CASE branch at analysis
    time, so an illegal ``CAST(ts AS BIGINT)`` in a never-taken branch
    still throws DATATYPE_MISMATCH on timestamp inputs.
    """
    if isinstance(raw.schema["ts"].dataType, LongType):
        ts = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    return raw.select(
        "event_id",
        ts.alias("ts"),
        F.col("user_id").alias("actor_id"),
        "event_type",
        "value",
        "props",
        F.when(F.col("event_type") == "error", "failure")
         .otherwise("success").alias("outcome"),
        F.concat_ws("-", F.col("user_id").cast("string"),
                    F.col("event_id").cast("string")).alias("request_id"),
    )


def filter_event_types(audit: DataFrame,
                       enabled: tuple[str, ...]) -> DataFrame:
    """ST2: enabled-event-type filter (audit.go:244-251)."""
    return audit.filter(F.col("event_type").isin(*enabled))


def json_format(audit: DataFrame) -> DataFrame:
    """ST3: JSON sink format."""
    return audit.select(
        F.to_json(F.struct(*audit.columns)).alias("line"))


def cef_format(audit: DataFrame, vendor: str = "axonops",
               product: str = "schema-registry-spark") -> DataFrame:
    """ST3: CEF (Common Event Format) line formatting
    (audit_format.go's CEF writer re-expressed as column ops):
    CEF:0|vendor|product|version|signature|name|severity|extensions
    """
    severity = F.when(F.col("outcome") == "failure", F.lit(7)) \
        .otherwise(F.lit(3))
    ext = F.concat_ws(" ",
                      F.concat(F.lit("act="), F.col("actor_id")),
                      F.concat(F.lit("request="), F.col("request_id")),
                      F.concat(F.lit("outcome="), F.col("outcome")))
    return audit.select(F.concat_ws(
        "|", F.lit("CEF:0"), F.lit(vendor), F.lit(product), F.lit("1.0"),
        F.col("event_type"), F.col("event_type"), severity.cast("string"),
        ext).alias("line"))


def _watermarked(audit: DataFrame, watermark: str) -> DataFrame:
    """``audit`` with an event-time watermark on ``ts`` — unless an
    upstream transform already set one (its delay then stands): Spark
    refuses to redefine a watermark, and skipping it is what lets these
    transforms compose on one stream, e.g.
    ``windowed_metrics(dedup_by_request_id(stream))``."""
    if "spark.watermarkDelayMs" in audit.schema["ts"].metadata:
        return audit
    return audit.withWatermark("ts", watermark)


def dedup_by_request_id(audit: DataFrame,
                        watermark: str = "30 seconds") -> DataFrame:
    """Exactly-once-ish dedup on request_id within the watermark horizon."""
    wm = _watermarked(audit, watermark)
    if audit.isStreaming:
        return wm.dropDuplicatesWithinWatermark(["request_id"])
    return wm.dropDuplicates(["request_id"])  # batch-mode equivalent


def rate_limit_flags(audit: DataFrame, window: str = "1 minute",
                     watermark: str = "30 seconds",
                     max_per_window: int = 10) -> DataFrame:
    """ST6: token-bucket rate limiting as windowed per-actor analytics —
    actors exceeding ``max_per_window`` requests per window are flagged."""
    return (_watermarked(audit, watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("actor_id"))
            .agg(F.count(F.lit(1)).alias("n_requests"))
            .select(F.col("w.start").alias("window_start"),
                    "actor_id", "n_requests",
                    (F.col("n_requests") > max_per_window)
                    .alias("rate_limited")))


def windowed_metrics(audit: DataFrame, window: str = "1 hour",
                     watermark: str = "30 seconds") -> DataFrame:
    """ST7: per-window, per-type request metrics (count / failures / p95)
    — the streaming analog of the reference's Prometheus histograms."""
    return (_watermarked(audit, watermark)
            .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("outcome") == "failure", 1)
                       .otherwise(0)).alias("n_failures"),
                 F.round(F.expr("percentile_approx(value, 0.95)"), 4)
                 .alias("p95_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "n_failures", "p95_value"))


def session_metrics(audit: DataFrame, gap: str = "5 minutes",
                    watermark: str = "30 seconds") -> DataFrame:
    """Session-windowed per-actor activity (idiomatic extension the
    reference lacks — SURVEY.md §2.11): sessions close after ``gap`` of
    actor inactivity; one row per (actor, session) with bounds + counts."""
    return (_watermarked(audit, watermark)
            .groupBy(F.session_window("ts", gap).alias("w"),
                     F.col("actor_id"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.when(F.col("outcome") == "failure", 1)
                       .otherwise(0)).alias("n_failures"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "actor_id", "n_events", "n_failures"))


class CollectingWebhookSink:
    """ST4/ST5: webhook batch sink with offset/state tracking — the
    exporter state machine (internal/exporter/exporter.go:199-324) as a
    ``foreachBatch`` target.  Real deployments POST the batch; tests and
    local runs collect it."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, int]] = []  # (epoch_id, n_rows)
        self.rows: list = []
        self.state = "STARTING"
        self.offset = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.collect()
        self.rows.extend(rows)
        self.batches.append((epoch_id, len(rows)))
        self.offset += len(rows)
        self.state = "RUNNING"


# every path substring the classifier tests, in one place: the flag
# names below become precomputed boolean columns when the two-stage
# shape is used (audit_path_flag_exprs), so the giant CASE chains
# reference cheap attributes instead of re-inlining contains() per
# branch — the difference between ~3 KB and >64 KB of generated Java
# (the JVM method limit whole-stage codegen must stay under)
_AUDIT_PATH_FLAGS: tuple[tuple[str, str], ...] = (
    ("p_import", "/import/"), ("p_compat", "/compatibility/"),
    ("p_subjects", "/subjects/"), ("p_versions", "/versions"),
    ("p_schema_ids", "/schemas/ids/"), ("p_users", "/admin/users"),
    ("p_password", "/me/password"), ("p_apikeys", "/admin/apikeys"),
    ("p_revoke", "/revoke"), ("p_rotate", "/rotate"),
    ("p_keks", "/dek-registry/v1/keks"), ("p_deks_seg", "/deks/"),
    ("p_deks", "/deks"), ("p_undelete", "/undelete"),
    ("p_test", "/test"), ("p_exporters", "/exporters"),
    ("p_pause", "/pause"), ("p_resume", "/resume"),
    ("p_reset", "/reset"), ("p_config", "/config"),
    ("p_mode", "/mode"),
)


def audit_path_flag_exprs(path: str = "path") -> dict[str, str]:
    """Ordered {flag_name: SQL expr} for every path substring the
    classifier tests.  Computing these ONCE in their own projection and
    letting the CASE chains reference the boolean columns keeps each
    codegen unit far below the JVM's 64 KB method limit; inlining the
    contains() calls at every branch (the ``flags=False`` legacy shape)
    overflowed it at 50+ branches and silently fell back to interpreted
    row-at-a-time evaluation.  The exprs are engine-portable: the
    DuckDB oracle computes them in a WITH stage from the same strings.
    """
    return {n: f"contains({path}, '{s}')" for n, s in _AUDIT_PATH_FLAGS}


def audit_classify_sql(verb: str = "verb", path: str = "path",
                       perm: str = "is_permanent",
                       status: str = "status",
                       flags: bool = False) -> str:
    """The audit middleware's event-type classification
    (determineEventType, audit.go:762-941) as ONE portable SQL CASE
    expression — branch order preserved exactly.  The same string runs
    under Catalyst (``F.expr``) and DuckDB, so the driver oracle checks
    the classification logic itself, not two hand-written copies.  At
    100 TB this is how raw access logs become audit analytics: a
    whole-stage-codegen expression, no UDF.

    ``flags=True`` emits the precomputed-boolean form: every
    ``contains(path, X)`` becomes a reference to the matching
    :func:`audit_path_flag_exprs` column — the shape that keeps the
    generated code under the 64 KB method limit."""
    if flags:
        by_sub = {s: n for n, s in _AUDIT_PATH_FLAGS}

        def c(sub: str) -> str:
            return by_sub[sub]
    else:
        def c(sub: str) -> str:
            return f"contains({path}, '{sub}')"

    return f"""CASE
 WHEN {status} = 401 THEN 'auth_failure'
 WHEN {status} = 403 THEN 'auth_forbidden'
 WHEN {c('/import/')} AND {verb} = 'POST' THEN 'schema_import'
 WHEN {c('/compatibility/')} AND {verb} = 'POST'
   THEN 'compatibility_check'
 WHEN {c('/subjects/')} AND {c('/versions')} AND {verb} = 'POST'
   THEN 'schema_register'
 WHEN {c('/subjects/')} AND {c('/versions')} AND {verb} = 'DELETE'
   THEN CASE WHEN {perm} THEN 'schema_delete_permanent'
             ELSE 'schema_delete_soft' END
 WHEN {c('/subjects/')} AND {c('/versions')} AND {verb} = 'GET'
   THEN 'schema_get'
 WHEN {c('/subjects/')} AND NOT {c('/versions')} AND {verb} = 'POST'
   THEN 'schema_lookup'
 WHEN {c('/schemas/ids/')} THEN 'schema_get'
 WHEN {c('/subjects/')} AND NOT {c('/versions')} AND {verb} = 'DELETE'
   THEN CASE WHEN {perm} THEN 'subject_delete_permanent'
             ELSE 'subject_delete_soft' END
 WHEN {path} = '/subjects' AND {verb} = 'GET' THEN 'subject_list'
 WHEN {c('/admin/users')} THEN
   CASE {verb} WHEN 'POST' THEN 'user_create'
               WHEN 'PUT' THEN 'user_update'
               WHEN 'DELETE' THEN 'user_delete' ELSE '' END
 WHEN {c('/me/password')} AND {verb} = 'POST' THEN 'password_change'
 WHEN {c('/admin/apikeys')} THEN
   CASE WHEN {c('/revoke')} AND {verb} = 'POST' THEN 'apikey_revoke'
        WHEN {c('/rotate')} AND {verb} = 'POST' THEN 'apikey_rotate'
        WHEN {verb} = 'POST' THEN 'apikey_create'
        WHEN {verb} = 'PUT' THEN 'apikey_update'
        WHEN {verb} = 'DELETE' THEN 'apikey_delete' ELSE '' END
 WHEN {c('/dek-registry/v1/keks')} AND {c('/deks/')} THEN
   CASE WHEN {verb} = 'POST' AND {c('/undelete')} THEN 'dek_undelete'
        WHEN {verb} = 'POST' THEN 'dek_create'
        WHEN {verb} = 'DELETE' AND {perm} THEN 'dek_delete_permanent'
        WHEN {verb} = 'DELETE' THEN 'dek_delete_soft' ELSE '' END
 WHEN {c('/dek-registry/v1/keks')} AND {c('/deks')}
   AND {verb} = 'POST' THEN 'dek_create'
 WHEN {c('/dek-registry/v1/keks')} AND NOT {c('/deks')} THEN
   CASE WHEN {c('/test')} AND {verb} = 'POST' THEN 'kek_test'
        WHEN {verb} = 'POST' AND {c('/undelete')} THEN 'kek_undelete'
        WHEN {verb} = 'POST' THEN 'kek_create'
        WHEN {verb} = 'PUT' THEN 'kek_update'
        WHEN {verb} = 'DELETE' AND {perm} THEN 'kek_delete_permanent'
        WHEN {verb} = 'DELETE' THEN 'kek_delete_soft' ELSE '' END
 WHEN {c('/exporters')} THEN
   CASE WHEN {c('/pause')} AND {verb} = 'PUT' THEN 'exporter_pause'
        WHEN {c('/resume')} AND {verb} = 'PUT' THEN 'exporter_resume'
        WHEN {c('/reset')} AND {verb} = 'PUT' THEN 'exporter_reset'
        WHEN {c('/config')} AND {verb} = 'PUT'
          THEN 'exporter_config_update'
        WHEN {verb} = 'POST' THEN 'exporter_create'
        WHEN {verb} = 'PUT' THEN 'exporter_update'
        WHEN {verb} = 'DELETE' THEN 'exporter_delete' ELSE '' END
 WHEN {c('/config')} THEN
   CASE {verb} WHEN 'GET' THEN 'config_get'
               WHEN 'PUT' THEN 'config_update'
               WHEN 'DELETE' THEN 'config_delete' ELSE '' END
 WHEN {c('/mode')} THEN
   CASE {verb} WHEN 'GET' THEN 'mode_get'
               WHEN 'PUT' THEN 'mode_update'
               WHEN 'DELETE' THEN 'mode_delete' ELSE '' END
 ELSE '' END"""


def audit_target_type_sql(path: str = "path", flags: bool = False) -> str:
    """extractTarget's type column (audit.go:1098-1147), same
    switch-case order.  ``flags=True`` as in :func:`audit_classify_sql`."""
    if flags:
        by_sub = {s: n for n, s in _AUDIT_PATH_FLAGS}

        def c(sub: str) -> str:
            return by_sub[sub]
    else:
        def c(sub: str) -> str:
            return f"contains({path}, '{sub}')"

    return f"""CASE
 WHEN {c('/subjects/')} THEN 'subject'
 WHEN {c('/schemas/ids/')} THEN 'schema'
 WHEN {c('/config')} THEN 'config'
 WHEN {c('/mode')} THEN 'mode'
 WHEN {c('/dek-registry/v1/keks')} THEN
   CASE WHEN {c('/deks')} THEN 'dek' ELSE 'kek' END
 WHEN {c('/exporters')} THEN 'exporter'
 WHEN {c('/admin/users')} THEN 'user'
 WHEN {c('/admin/apikeys')} THEN 'apikey'
 WHEN {c('/import/')} THEN 'schema'
 ELSE '' END"""


def audit_reason_sql(status: str = "status") -> str:
    """reasonFromStatusCode (audit.go:1024-1046)."""
    return f"""CASE
 WHEN {status} >= 200 AND {status} < 400 THEN ''
 WHEN {status} = 401 THEN 'no_valid_credentials'
 WHEN {status} = 403 THEN 'permission_denied'
 WHEN {status} = 404 THEN 'not_found'
 WHEN {status} = 409 THEN 'already_exists'
 WHEN {status} = 400 THEN 'validation_error'
 WHEN {status} = 422 THEN 'invalid_schema'
 WHEN {status} = 429 THEN 'rate_limited'
 WHEN {status} >= 500 THEN 'internal_error'
 ELSE '' END"""


_LOWER_LITERAL = re.compile(r"'([a-z_]*)'")


def coded_case_sql(sql: str) -> tuple[str, list[str]]:
    """Rewrite a classifier CASE so every lowercase result literal
    becomes a small INT code; return (coded_sql, labels) where
    ``labels[code]`` recovers the string.

    Why: at 100 TB the classification runs on every log row, and both
    the generated Java for 50 branches of UTF8String results and the
    partial-aggregation hash over four string keys are pure overhead —
    coding the labels keeps each whole-stage-codegen unit far below the
    JVM 64 KB method limit (the one-stage string form overflowed it and
    fell back to interpreted evaluation, BENCH_r06's aud3 regression)
    and shuffles 4 ints per group instead of 4 strings.  The decode is
    an array-literal lookup AFTER aggregation, over group-cardinality
    rows.

    Mechanical by construction: only ``'[a-z_]*'`` literals are
    touched, which in the audit classifier grammar is exactly the
    result labels — HTTP verbs are uppercase and path fragments all
    contain ``/``, so branch CONDITIONS are left intact and the CASE
    structure (branch order = reference switch order, audit.go:762-941)
    is untouched.
    """
    labels: list[str] = []

    def sub(m: re.Match[str]) -> str:
        s = m.group(1)
        if s not in labels:
            labels.append(s)
        return str(labels.index(s))

    return _LOWER_LITERAL.sub(sub, sql), labels


class HttpWebhookSink:
    """Webhook audit delivery over real HTTP — the reference's
    WebhookOutput wire format (audit_webhook.go:130-200): events are
    serialized as newline-delimited JSON and POSTed in batches.

    Usable directly as a ``foreachBatch`` target; ``send_events`` is
    the synchronous primitive (the reference batches asynchronously —
    per-executor batching in foreachBatch gives the same amortization
    on a cluster, without a driver-side queue)."""

    def __init__(self, url: str, timeout: float = 5.0) -> None:
        self.url = url
        self.timeout = timeout

    def send_events(self, events: list[dict]) -> None:
        import json as _json
        import urllib.request

        body = "".join(_json.dumps(e, default=str) + "\n"
                       for e in events).encode()
        req = urllib.request.Request(
            self.url, data=body, method="POST",
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=self.timeout):
            pass

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = [r.asDict(recursive=True) for r in batch_df.collect()]
        if rows:
            self.send_events(rows)


class SyslogTcpSink:
    """Syslog audit delivery: RFC 5424 messages with RFC 5425
    message-length framing over TCP, app-name in the header — the
    reference's SyslogOutput format (audit_syslog.go:23-61; TLS is a
    transport wrapper around the identical framing)."""

    def __init__(self, host: str, port: int,
                 app_name: str = "schema-registry",
                 timestamp_col: str = "ts",
                 clock: "Callable[[], str] | None" = None) -> None:
        self.addr = (host, port)
        self.app_name = app_name
        self.timestamp_col = timestamp_col
        # emit-time fallback when an event carries no timestamp — the
        # reference stamps time.Now() at write (audit_syslog.go:44);
        # injectable for deterministic tests
        self.clock = clock or (lambda: datetime.now(timezone.utc)
                               .strftime("%Y-%m-%dT%H:%M:%SZ"))

    @staticmethod
    def _rfc5424_ts(value) -> str:
        if isinstance(value, datetime):
            # collect() returns TimestampType as a NAIVE datetime in
            # the DRIVER's OS timezone (TimestampType.fromInternal uses
            # datetime.fromtimestamp) — and Python's astimezone() on a
            # naive value applies exactly that local zone, so this
            # converts to the correct absolute instant on any OS/session
            # timezone combination
            return (value.astimezone(timezone.utc)
                    .strftime("%Y-%m-%dT%H:%M:%SZ"))
        return str(value)

    def send(self, message: str, timestamp: str | None = None) -> None:
        import socket

        ts = timestamp or self.clock()
        frame = (f"<134>1 {ts} localhost "
                 f"{self.app_name} - - - {message}").encode()
        # RFC 5425 MSG-LEN counts OCTETS: encode before measuring
        payload = str(len(frame)).encode() + b" " + frame
        with socket.create_connection(self.addr, timeout=5.0) as sock:
            sock.sendall(payload)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import json as _json

        has_ts = self.timestamp_col in batch_df.columns
        for r in batch_df.collect():
            d = r.asDict(recursive=True)
            ts = (self._rfc5424_ts(d[self.timestamp_col])
                  if has_ts and d.get(self.timestamp_col) is not None
                  else None)
            self.send(_json.dumps(d, default=str), timestamp=ts)


def audit_hash_chain(df: DataFrame, key_col: str, order_cols: list[str],
                     record_col: str) -> DataFrame:
    """Tamper-evident audit chain per key (F16: the before_hash /
    after_hash chaining the reference's audit events carry,
    mode_enforcement.feature): fold sha256(acc || record) over the
    key's records in ``order_cols`` order, seeded with 'genesis'.

    The fold is inherently sequential per key — same cogrouped
    applyInPandas shape as the registration gate; keys parallelize,
    records stream through hashlib one Arrow batch at a time.  Returns
    (key, n_events, head_hash): equal head hashes prove equal histories.
    """
    import hashlib

    import pandas as pd

    schema = f"{key_col} string, n_events long, head_hash string"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols)
        acc = "genesis"
        for rec in pdf["__rec"]:
            acc = hashlib.sha256((acc + rec).encode()).hexdigest()
        return pd.DataFrame([{key_col: pdf[key_col].iloc[0],
                              "n_events": len(pdf), "head_hash": acc}])

    return (df.withColumn("__rec", F.col(record_col))
            .select(key_col, *order_cols, "__rec")
            .groupBy(key_col).applyInPandas(fold, schema))
