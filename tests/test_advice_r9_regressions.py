"""Regression tests for the round-9 advisory findings (ADVICE.md r9):

1. (low) ``decode_jpeg_gray`` silently truncated the MCU grid for
   baseline JPEGs whose dimensions are not multiples of 8 — legal
   files encode a ceil-padded grid, so the decode would desync or
   under-report ``sum_y`` instead of failing loudly like the module's
   SOF2/subsampling guards.  It must raise.
2. (low) ``_assert_quiescent`` inspected only live ``epoch=`` dirs, so
   after ``compact(below_epoch=M)`` a ``reflag(below_epoch=n)`` with
   ``n < M`` passed the check yet read the base generation (holding
   epochs >= n) and REGRESSED ``meta['below']`` from M to n.  It must
   raise when below_epoch scopes under the compaction watermark.
3. (low) ``ev3_planted_recall`` hardcoded n_queries=20 on both the
   Spark and oracle sides, so a shrunken embeddings table would
   silently mis-report recall.  Both sides now DERIVE the denominator
   from the planted slice (count of vec_id in [10, 30)).

(The fourth r9 advisory — the fp_rep cache retaining full text per
call — is resolved by documentation, symmetric with the toks cache:
streaming callers pass ``cache_tokens=False``.)
"""

from __future__ import annotations

import os
import shutil
import struct
import tempfile

import pytest

_BASE = tuple(f"w{i}" for i in range(40))


def _near(tag: str) -> str:
    ws = list(_BASE)
    ws[20] = tag
    return " ".join(ws)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------------------
# 1. non-multiple-of-8 JPEG dimensions must raise, not truncate
# ---------------------------------------------------------------------------

def test_jpeg_decode_rejects_non_multiple_of_8_dims():
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_jpeg_gray,
        synthesize_jpeg_gray,
    )

    good = synthesize_jpeg_gray(9)
    # Patch the SOF0 frame header's height/width fields (marker FFC0:
    # len(2) precision(1) height(2) width(2)) to non-multiples of 8.
    sof = good.find(b"\xff\xc0")
    assert sof >= 0
    h, w = struct.unpack(">HH", good[sof + 5:sof + 9])
    assert h % 8 == 0 and w % 8 == 0
    for nh, nw in ((h - 3, w), (h, w - 5), (h - 1, w - 1)):
        bad = (good[:sof + 5] + struct.pack(">HH", nh, nw)
               + good[sof + 9:])
        with pytest.raises(ValueError, match="multiple-of-8"):
            decode_jpeg_gray(bad)
    # unpatched file still decodes
    assert decode_jpeg_gray(good)["n_blocks"] == (w // 8) * (h // 8)


# ---------------------------------------------------------------------------
# 2. reflag must not scope below the compaction watermark
# ---------------------------------------------------------------------------

def test_reflag_rejects_below_compaction_watermark(spark):
    from axonops_schema_registry_spark.streaming.dedup_store import (
        BucketedDedupStore,
    )

    d = tempfile.mkdtemp(prefix="watermark_store_")
    try:
        store = BucketedDedupStore(spark, d)
        store(_docs(spark, [(10, _near("pA"))]), epoch_id=0)
        store(_docs(spark, [(20, _near("pB"))]), epoch_id=1)
        store.compact(below_epoch=2)
        assert store.log.meta()["below"] == 2
        # live epoch dirs below 2 are gone, so the old dir-scan-only
        # check passed here — the commit then regressed meta['below']
        with pytest.raises(RuntimeError, match="compaction watermark"):
            store.reflag(below_epoch=1)
        assert store.log.meta()["below"] == 2  # unchanged
        store.reflag(below_epoch=2)  # at the watermark: fine
        assert store.log.meta()["below"] == 2
        flags = {r.doc_id for r in store.all_flags().collect()}
        assert flags == {10, 20}
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# 3. ev3 derives its denominator from the planted slice on both sides
# ---------------------------------------------------------------------------

def test_ev3_derives_n_queries_from_data(spark, sf_dir):
    import duckdb

    from axonops_schema_registry_spark.queries import SPEC_BY_NAME

    spec = SPEC_BY_NAME["ev3_planted_recall"]
    assert "20 AS n_queries" not in spec.oracle
    assert "COUNT(*)" in spec.oracle  # derived, not a literal
    rows = spec.build(spark, sf_dir).collect()
    con = duckdb.connect()
    expected_nq = con.execute(
        "SELECT COUNT(*) FROM read_parquet(?) "
        "WHERE vec_id >= 10 AND vec_id < 30",
        [os.path.join(sf_dir, "embeddings.parquet")]).fetchone()[0]
    con.close()
    assert expected_nq == 20  # the sf fixtures do hold >= 30 vectors
    for r in rows:
        assert r.n_queries == expected_nq
        assert r.found_at_5 == round(r.n_found / expected_nq, 4)
