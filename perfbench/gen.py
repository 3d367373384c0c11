"""Seeded input generator for the benchmark.

Everything a workload feeds the library is made here from one seed, so
the same seed gives byte-equal files (``perfbench/tests`` checks this):

- ``registry/``: a schema-registry corpus of Avro, JSON Schema and
  Protobuf subjects (``corpus.parquet``) and the registry request stream
  with the answer each request must get (``requests.json``);
- ``tables/``: the catalog tables the query specs read (``region`` ...
  ``embeddings``), shaped like ``catalog.TABLES`` at about a tenth of
  sf0.1;
- ``audit/``: audit-event parquet files for the stream replay, with Zipf
  actors, out-of-order events and duplicated request ids;
- ``plan.json``: the document epoch assignment for the dedup store and
  the order the bench specs run in.

Usage: ``python3 perfbench/gen.py --seed 7 --out DIR``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = ("registry", "tables", "audit", "plan")

# -- sizes (see perfbench/DESIGN.md) ------------------------------------------
N_SUBJECTS = 48
MAX_VERSIONS = 8
N_REQUESTS = 1000          # more than any run can send; runs take a prefix
ZIPF_S = 1.1
SPEC_PASSES = 8            # passes of the batch spec order written out

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_DOCS, EMB_DIM = 10000, 500, 64

N_AUDIT, AUDIT_WARM = 2000, 100   # the first file is the warm-up batch
N_ACTORS = 200
OOO_SHARE, OOO_MAX_S = 0.1, 20.0      # stays inside the 30 s watermark
DUP_SHARE, DUP_MAX_S = 0.05, 10.0
N_EPOCHS = 2

#: the bench-spec subset of the ``query`` workload, by the module that
#: builds it: one pass (set-up runs another, cold) has to fit in a run
BATCH_SPECS = {
    "llm_queries": ["dd2_minhash_lsh_dedup", "gq1_gopher_quality",
                    "smp1_stratified_sample"],
    "relational": ["q1_pricing_summary", "a10_event_metrics"],
    "registry_queries": ["r1_latest_live_schema"],
    "streaming_queries": ["st9_token_bucket"],
}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


# -- registry corpus ------------------------------------------------------------

_AVRO_T = ("string", "int", "long", "double")
_JSON_T = ("string", "integer", "number")
_PROTO_T = ("string", "int32", "int64", "double")


def _avro(name: str, types: list[str], bad_last: bool = False) -> str:
    fields = []
    for i, t in enumerate(types):
        f = {"name": f"f{i}", "type": t}
        if i > 0 and not (bad_last and i == len(types) - 1):
            f["default"] = "" if t == "string" else 0
        fields.append(f)
    return json.dumps({"type": "record", "name": name, "fields": fields},
                      separators=(",", ":"))


def _json_schema(name: str, types: list[str],
                 require_last: bool = False) -> str:
    req = ["f0"] + ([f"f{len(types) - 1}"] if require_last else [])
    return json.dumps({"title": name, "type": "object",
                       "properties": {f"f{i}": {"type": t}
                                      for i, t in enumerate(types)},
                       "required": req, "additionalProperties": False},
                      separators=(",", ":"))


def _proto(name: str, types: list[str], retype_first: bool = False) -> str:
    lines = [f"  {('int32' if retype_first and i == 0 else t)} f{i} = {i + 1};"
             for i, t in enumerate(types)]
    return 'syntax = "proto3";\nmessage ' + name + " {\n" + \
        "\n".join(lines) + "\n}\n"


def _render(stype: str, name: str, types: list[str],
            incompatible: bool = False) -> str:
    """One schema of ``types`` fields.  ``incompatible`` breaks BACKWARD
    against the same list minus its last field: Avro drops the new
    field's default, JSON requires it, Protobuf retypes ``f0``."""
    if stype == "AVRO":
        return _avro(name, types, bad_last=incompatible)
    if stype == "JSON":
        return _json_schema(name, types, require_last=incompatible)
    return _proto(name, types, retype_first=incompatible)


def registry_corpus(rng: random.Random) -> tuple[list[dict], dict]:
    """Rows (subject, version, schema_type, schema_text, deleted,
    fingerprint, schema_id) plus per-subject field types for the
    request generator."""
    rows, shape = [], {}
    schema_id = 0
    for s in range(N_SUBJECTS):
        subject = f"sub{s:03d}-value"
        stype = rng.choices(("AVRO", "JSON", "PROTOBUF"), (2, 1, 1))[0]
        pool = {"AVRO": _AVRO_T, "JSON": _JSON_T, "PROTOBUF": _PROTO_T}[stype]
        n_ver = rng.randint(1, MAX_VERSIONS)
        types = [pool[0]] + [rng.choice(pool) for _ in range(n_ver + 1)]
        name = f"Rec{s:03d}"
        for v in range(1, n_ver + 1):
            text = _render(stype, name, types[:v])
            schema_id += 1
            rows.append({
                "subject": subject, "version": v, "schema_type": stype,
                "schema_text": text,
                # soft-delete some non-latest versions
                "deleted": v < n_ver and rng.random() < 0.1,
                "fingerprint": hashlib.sha256(text.encode()).hexdigest(),
                "schema_id": schema_id})
        shape[subject] = {"type": stype, "name": name, "types": types,
                          "n_ver": n_ver}
    return rows, shape


def _expected_reads(rows: list[dict]) -> dict:
    live = [r for r in rows if not r["deleted"]]
    by_subject: dict[str, list[dict]] = {}
    for r in live:
        by_subject.setdefault(r["subject"], []).append(r)
    for v in by_subject.values():
        v.sort(key=lambda r: r["version"])
    stats: dict[str, list] = {}
    for subj, vs in by_subject.items():
        st = stats.setdefault(vs[0]["schema_type"], [0, 0])
        st[0] += 1
        st[1] += len(vs)
    return {"by_subject": by_subject, "stats": stats}


#: one cycle of the closed loop: the request mix, in a seeded order
#: per cycle; a quarter are compatibility checks (POSTs)
CYCLE = (["latest"] * 5 + ["history"] * 3 + ["fingerprint"] * 3
         + ["subjects"] * 2 + ["statistics"] * 2 + ["check"] * 5)


def lookup_requests(rng: random.Random, rows: list[dict],
                    shape: dict) -> list[dict]:
    """The closed-loop request stream with each request's expected
    answer, drawn from the pure-Python model of the corpus."""
    model = _expected_reads(rows)
    subjects = sorted(shape)
    rng.shuffle(subjects)  # popularity rank is seeded too
    weights = _zipf_weights(len(subjects))
    live_rows = [r for r in rows if not r["deleted"]]
    ops: list[str] = []
    while len(ops) < N_REQUESTS:
        cycle = list(CYCLE)
        rng.shuffle(cycle)
        ops += cycle
    out = []
    for i, op in enumerate(ops):
        subject = rng.choices(subjects, weights)[0]
        live = model["by_subject"][subject]
        req = {"id": i, "op": op, "subject": subject}
        if op == "check":
            sh = shape[subject]
            compatible = rng.random() < 0.5
            req.update(schema_type=sh["type"], schema_text=_render(
                sh["type"], sh["name"], sh["types"][:sh["n_ver"] + 1],
                incompatible=not compatible))
            req["expect"] = {"compatible": compatible}
        elif op == "latest":
            req["expect"] = [[live[-1]["version"], live[-1]["schema_id"]]]
        elif op == "history":
            req["expect"] = [[r["version"], r["schema_id"]] for r in live]
        elif op == "fingerprint":
            fp = rng.choice(live_rows)["fingerprint"]
            req["fingerprint"] = fp
            req["expect"] = sorted([r["subject"], r["version"]]
                                   for r in live_rows
                                   if r["fingerprint"] == fp)
        elif op == "subjects":
            req["expect"] = sorted(model["by_subject"])
        else:
            req["expect"] = sorted([t, n, v] for t, (n, v)
                                   in model["stats"].items())
        out.append(req)
    return out


def write_registry(seed: int, out: str) -> None:
    rng = random.Random(f"registry:{seed}")
    rows, shape = registry_corpus(rng)
    cols = ("subject", "version", "schema_type", "schema_text", "deleted",
            "fingerprint", "schema_id")
    schema = pa.schema([("subject", pa.string()), ("version", pa.int32()),
                        ("schema_type", pa.string()),
                        ("schema_text", pa.string()),
                        ("deleted", pa.bool_()), ("fingerprint", pa.string()),
                        ("schema_id", pa.int64())])
    _write(pa.Table.from_pydict({c: [r[c] for r in rows] for c in cols},
                                schema=schema),
           os.path.join(out, "registry", "corpus.parquet"))
    reqs = lookup_requests(rng, rows, shape)
    with open(os.path.join(out, "registry", "requests.json"), "w") as f:
        json.dump(reqs, f, separators=(",", ":"))


# -- catalog tables ---------------------------------------------------------------

def _ts(base: datetime, days: np.ndarray) -> pa.Array:
    return pa.array([base + timedelta(days=int(d)) for d in days],
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    """Bag-of-words documents; 5% (at seeded positions) are an earlier
    document with ``dup`` appended (near duplicates for the dedup
    operators).  The count is fixed so that every seed gives the dedup
    operators the same amount of work."""
    dups = set(rng.choice(np.arange(21, n), n // 20, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def events_table(rng: np.random.Generator, n: int, n_users: int,
                 start: datetime, span_s: float,
                 user_p: np.ndarray | None = None) -> dict:
    secs = np.sort(rng.uniform(0, span_s, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts_us": (secs * 1e6).astype(np.int64),
        "user_id": rng.choice(n_users, n, p=user_p).astype(np.int64),
        "event_type": rng.choice(
            ("signup", "error", "click", "view", "purchase"), n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        "start": start}


def _events_arrow(ev: dict, idx: np.ndarray | None = None) -> pa.Table:
    sel = (lambda a: a) if idx is None else (lambda a: a[idx])
    base = int(ev["start"].timestamp() * 1e6)
    return pa.table({
        "event_id": pa.array(sel(ev["event_id"]), pa.int64()),
        "ts": pa.array(sel(ev["ts_us"]) + base, pa.timestamp("us")),
        "user_id": pa.array(sel(ev["user_id"]), pa.int64()),
        "event_type": pa.array(sel(ev["event_type"]).tolist(), pa.string()),
        "value": pa.array(sel(ev["value"]), pa.float64()),
        "props": pa.array(sel(ev["props"]).tolist(), pa.string())})


def write_tables(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 1])
    d = os.path.join(out, "tables")
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}),
           os.path.join(d, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           os.path.join(d, "nation.parquet"))
    segs = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(segs, N_CUSTOMER).tolist()}),
        os.path.join(d, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)}),
        os.path.join(d, "supplier.parquet"))
    adj = ("blue cold hot large new old red small").split()
    noun = ("anvil bolt gear gizmo plate ring rod widget").split()
    price = np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(("MEDIUM", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "ECONOMY"), N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": price}), os.path.join(d, "part.parquet"))
    odays = rng.integers(0, 2404, N_ORDERS)
    base = datetime(1995, 1, 1)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS),
                              pa.int64()),
        "o_orderstatus": rng.choice(("P", "O", "F"), N_ORDERS).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(base, odays),
        "o_orderpriority": rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
            N_ORDERS).tolist()}), os.path.join(d, "orders.parquet"))
    nlines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    n = len(okey)
    perm = rng.permutation(n)
    okey, lnum = okey[perm], lnum[perm]
    partkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * 2.1, 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": rng.choice(("R", "A", "N"), n).tolist(),
        "l_linestatus": rng.choice(("O", "F"), n).tolist(),
        "l_shipdate": _ts(base, odays[okey] + rng.integers(1, 122, n))}),
        os.path.join(d, "lineitem.parquet"))
    ev = events_table(rng, N_EVENTS, 150, datetime(2024, 1, 1),
                      30 * 86400.0)
    _write(_events_arrow(ev), os.path.join(d, "events.parquet"))
    _write(documents(rng), os.path.join(d, "documents.parquet"))
    emb = rng.normal(size=(N_DOCS, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32())}),
        os.path.join(d, "embeddings.parquet"))


# -- audit stream ------------------------------------------------------------------

def write_audit(seed: int, out: str) -> None:
    """Two files cut in send order: the first ``AUDIT_WARM`` events (the
    streams' warm-up micro-batch) and the rest.  A share of events
    carries an event time up to ``OOO_MAX_S`` seconds before its send
    time (out of order, still inside the stream's 30 s watermark) and a
    share is re-sent up to ``DUP_MAX_S`` seconds later with the same
    request id."""
    rng = np.random.default_rng([seed, 2])
    n = N_AUDIT
    w = np.array(_zipf_weights(N_ACTORS))
    ev = events_table(rng, n, N_ACTORS, datetime(2024, 3, 1), float(n),
                      user_p=w / w.sum())
    send = ev["ts_us"]
    late = (rng.random(n) < OOO_SHARE) * rng.uniform(0, OOO_MAX_S, n)
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    resend = send[dups] + (rng.uniform(0, DUP_MAX_S, len(dups))
                           * 1e6).astype(np.int64)
    rows = np.concatenate([np.arange(n), dups])
    send_all = np.concatenate([send, resend])
    ts_all = np.concatenate([send - (late * 1e6).astype(np.int64), resend])
    ev = {k: (v[rows] if isinstance(v, np.ndarray) else v)
          for k, v in ev.items()}
    ev["ts_us"] = ts_all
    by_send = np.argsort(send_all, kind="stable")
    for f, idx in enumerate(np.split(by_send, [AUDIT_WARM])):
        path = os.path.join(out, "audit", f"part-{f:04d}.parquet")
        _write(_events_arrow(ev, idx), path)
        # the file source replays files in modification-time order
        os.utime(path, (1.7e9 + f, 1.7e9 + f))


# -- plan: epochs and spec order ------------------------------------------------------

def write_plan(seed: int, out: str) -> None:
    rng = random.Random(f"plan:{seed}")
    # documents arrive in id order (the store's first-wins contract
    # needs epochs in id order); the seed moves each cut by up to 5% of
    # the corpus around an even split, so epochs stay about equal
    step, jitter = N_DOCS // N_EPOCHS, N_DOCS // 20
    bounds = ([0] + [k * step + rng.randint(-jitter, jitter)
                     for k in range(1, N_EPOCHS)] + [N_DOCS])
    epochs = [[bounds[i], bounds[i + 1]] for i in range(N_EPOCHS)]
    order = []
    for _ in range(SPEC_PASSES):
        names = [s for group in BATCH_SPECS.values() for s in group]
        rng.shuffle(names)
        order.append(names)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump({"epochs": epochs, "spec_order": order}, f, indent=1)


def generate(seed: int, out: str, parts=PARTS) -> None:
    os.makedirs(out, exist_ok=True)
    if "registry" in parts:
        write_registry(seed, out)
    if "tables" in parts:
        write_tables(seed, out)
    if "audit" in parts:
        write_audit(seed, out)
    if "plan" in parts:
        write_plan(seed, out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
