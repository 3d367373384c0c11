"""Builds the epoch-store reopen fixture: one small on-disk store per
persistent store class, plus ``expected.json`` with each store's
answers and meta files.

Every store is left with a compacted base generation, at least one live
epoch above it and (for ``bucketed`` and ``line``) a committed repair
delta.  ``expected.json`` records, per store:

* ``open`` — the answers and meta files of the stored state as built;
* ``extended`` — the answers and meta files after :func:`extend` (one
  more epoch, then a compaction over everything) ran on a copy.

``tests/test_epoch_log.py::test_head_written_stores_reopen`` reopens a
copy of every store with the current code and checks both records, so
the fixture pins the on-disk format across refactors of the stores.
Rebuild it only from a commit whose on-disk format you want to pin:

    python tests/fixtures/epoch_stores/build.py
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
STORES = ("bucketed", "embedding", "line", "admission", "ccnet", "ann")


# -- inputs (seeded, driver-side) -------------------------------------------

def _words(rnd: random.Random, n: int) -> list[str]:
    return [f"w{rnd.randrange(60)}" for _ in range(n)]


def _text_docs(spark, ids, seed: int, copy_from: dict | None = None):
    """(doc_id, text): 20-word docs; ``copy_from`` maps an id to the
    id whose text it repeats (exact dup) or, negated, near-repeats
    (last word changed)."""
    copy_from = copy_from or {}
    rows = []
    for i in ids:
        src = copy_from.get(i)
        if src is None:
            words = _words(random.Random(seed * 1000 + i), 20)
        else:
            words = _words(random.Random(seed * 1000 + abs(src)), 20)
            if src < 0:
                words[-1] = f"x{i}"
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _vec(i: int, dim: int = 8) -> list[float]:
    rnd = random.Random(7000 + i)
    return [round(rnd.uniform(-1, 1), 4) for _ in range(dim)]


def _vec_docs(spark, ids, copy_from: dict | None = None):
    copy_from = copy_from or {}
    rows = []
    for i in ids:
        src = copy_from.get(i)
        v = _vec(abs(src)) if src is not None else _vec(i)
        if src is not None and src < 0:
            v = [x + 0.001 for x in v]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _block(tag: str) -> str:
    return " ".join(f"{tag}{k}" for k in range(10))


def _line_docs(spark, ids, shared: dict):
    """(doc_id, text): two own 10-word blocks plus, for ids in
    ``shared``, a block shared with every other holder of the tag."""
    rows = []
    for i in ids:
        blocks = [_block(f"a{i}x"), _block(f"b{i}x")]
        if i in shared:
            blocks.insert(1, _block(shared[i]))
        rows.append((i, " ".join(blocks)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _sourced(spark, ids, german=()):
    en = ("the {t}a of {t}b and {t}c to {t}d the {t}e")
    de = ("der {t}a die {t}b das {t}c und {t}d ist {t}e")
    rows = []
    for i in ids:
        tpl = de if i in german else en
        segs = [tpl.format(t=f"d{i % 7 if i % 5 == 0 else i}s0")]
        segs.append(tpl.format(t=f"d{i}s1"))
        rows.append((i, f"src{i % 3}", " ".join(segs)))
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, text string")


def _ann_corpus(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids],
        "corpus_id bigint, corpus_vec array<float>")


def _ann_queries(spark):
    return spark.createDataFrame(
        [(1000 + q, _vec(500 + q)) for q in range(4)],
        "query_id bigint, query_vec array<float>")


def _budgets(spark):
    return spark.createDataFrame(
        [("src0", 60), ("src1", 45), ("src2", 90)],
        "source string, token_budget bigint")


# -- the stores --------------------------------------------------------------

def open_store(spark, name: str, root: str):
    """The store object over ``root`` (constructed exactly as
    :func:`write` first created it)."""
    if name == "bucketed":
        from axonops_schema_registry_spark.streaming.dedup_store import (
            BucketedDedupStore,
        )
        return BucketedDedupStore(spark, root)
    if name == "embedding":
        from axonops_schema_registry_spark.streaming.dedup_store import (
            EmbeddingDedupStore,
        )
        return EmbeddingDedupStore(spark, root, dim=8, n_bits=4)
    if name == "line":
        from axonops_schema_registry_spark.streaming.dedup_store import (
            LineDedupStore,
        )
        return LineDedupStore(spark, root)
    if name == "admission":
        from axonops_schema_registry_spark.streaming.dedup_stream import (
            TokenBudgetAdmissionSink,
        )
        return TokenBudgetAdmissionSink(_budgets(spark), root)
    if name == "ccnet":
        from axonops_schema_registry_spark.streaming.ccnet_stream import (
            CCNetStreamSink,
        )
        return CCNetStreamSink(_sourced(spark, range(48), german={5, 17}),
                               root, budget_tokens=80, n_quality=20)
    if name == "ann":
        from axonops_schema_registry_spark.streaming.ann_store import (
            AnnIndexStore,
        )
        return AnnIndexStore(spark, root,
                             calibration=_ann_corpus(spark, range(40)))
    raise KeyError(name)


def write(spark, name: str, store) -> None:
    """Epochs 0-1, a compaction below 2, then a live epoch 2 (late for
    the dedup stores, which then commit a repair delta)."""
    if name == "bucketed":
        store.process_batch(_text_docs(spark, range(100, 110), 1), 0)
        store.process_batch(_text_docs(
            spark, range(110, 120), 1, {112: 101, 115: -103}), 1)
        store.compact(2)
        store.process_batch(_text_docs(
            spark, range(0, 6), 1, {1: 104, 3: -108}), 2)
        store.reflag_incremental(below_epoch=3)
    elif name == "embedding":
        store.process_batch(_vec_docs(spark, range(100, 110)), 0)
        store.process_batch(_vec_docs(
            spark, range(110, 120), {112: 101, 115: -103}), 1)
        store.compact(2)
        store.process_batch(_vec_docs(spark, range(120, 126),
                                      {121: 104}), 2)
    elif name == "line":
        store.process_batch(_line_docs(
            spark, range(100, 106), {101: "s1", 103: "s2"}), 0)
        store.process_batch(_line_docs(
            spark, range(106, 112), {107: "s1", 109: "s3"}), 1)
        store.compact(2)
        store.process_batch(_line_docs(
            spark, range(0, 4), {1: "s2", 2: "s3"}), 2)
        assert store.repair() > 0
    elif name == "admission":
        for e in range(3):
            store(_sourced(spark, range(e * 12, e * 12 + 12)), e)
            if e == 1:
                store.compact(spark, 2)
    elif name == "ccnet":
        for e in range(3):
            store(_sourced(spark, range(e * 12, e * 12 + 12),
                           german={5, 17}), e)
            if e == 1:
                store.compact_receipts(spark, 2)
    elif name == "ann":
        store.process_batch(_ann_corpus(spark, range(0, 20)), 0)
        store.process_batch(_ann_corpus(spark, range(20, 40)), 1)
        store.compact(2)
        store.process_batch(_ann_corpus(spark, range(40, 50)), 2)
        store.delete_ids(spark.createDataFrame(
            [(3,), (25,), (41,)], "corpus_id bigint"), 2)
    else:
        raise KeyError(name)


def extend(spark, name: str, store) -> None:
    """One more epoch (3), then a compaction over everything."""
    if name == "bucketed":
        store.process_batch(_text_docs(
            spark, range(120, 126), 1, {121: 2, 124: -110}), 3)
        store.compact(4)
    elif name == "embedding":
        store.process_batch(_vec_docs(spark, range(126, 130),
                                      {127: 100}), 3)
        store.compact(4)
    elif name == "line":
        store.process_batch(_line_docs(
            spark, range(112, 116), {113: "s1", 114: "s4"}), 3)
        store.compact(4)
    elif name == "admission":
        store(_sourced(spark, range(36, 48)), 3)
        store.compact(spark, 4)
    elif name == "ccnet":
        store(_sourced(spark, range(36, 48), german={5, 17}), 3)
        store.compact_receipts(spark, 4)
    elif name == "ann":
        store.process_batch(_ann_corpus(spark, range(50, 60)), 3)
        store.compact(4)
    else:
        raise KeyError(name)


def _rows(df) -> list:
    if df is None:
        return None
    return sorted((list(r) for r in df.collect()), key=repr)


def answers(spark, name: str, store) -> dict:
    """The store's public read answers, JSON-shaped and sorted."""
    if name in ("bucketed", "embedding"):
        return {"all_flags": _rows(store.all_flags())}
    if name == "line":
        return {"all_results": _rows(store.all_results())}
    if name == "admission":
        return {"all_admissions": _rows(store.all_admissions(spark))}
    if name == "ccnet":
        return {"final_receipt": _rows(store.final_receipt(spark)),
                "order_report": _rows(store.order_report(spark))}
    if name == "ann":
        return {"lookup_topk": _rows(
                    store.lookup_topk(_ann_queries(spark), k=3)),
                "buckets": _rows(store.buckets())}
    raise KeyError(name)


def meta_files(root: str) -> dict:
    """Every JSON file under ``root`` (meta, params, repair records)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".json"):
                p = os.path.join(dirpath, f)
                with open(p) as fh:
                    out[os.path.relpath(p, root)] = json.load(fh)
    return dict(sorted(out.items()))


def _strip(root: str) -> None:
    """Drop checksum and success marker files (readers ignore them)."""
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc") or f == "_SUCCESS":
                os.remove(os.path.join(dirpath, f))


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
        HERE))))
    from axonops_schema_registry_spark.session import get_spark

    spark = get_spark("epoch-store-fixture", cpus=2)
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    stores = os.path.join(HERE, "stores")
    shutil.rmtree(stores, ignore_errors=True)
    expected = {}
    for name in STORES:
        root = os.path.join(stores, name)
        write(spark, name, open_store(spark, name, root))
        _strip(root)
        rec = {"open": {"answers": answers(
                   spark, name, open_store(spark, name, root)),
                   "meta": meta_files(root)}}
        with tempfile.TemporaryDirectory() as tmp:
            copy = os.path.join(tmp, name)
            shutil.copytree(root, copy)
            store = open_store(spark, name, copy)
            extend(spark, name, store)
            rec["extended"] = {"answers": answers(spark, name, store),
                               "meta": meta_files(copy)}
        expected[name] = rec
        print(name, "done", flush=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
