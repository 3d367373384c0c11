"""The on-disk contract shared by the persistent streaming stores
(``streaming/epoch_log.py``).

``test_head_written_stores_reopen`` pins the format: stores written by
an earlier commit (``tests/fixtures/epoch_stores``, see its
``build.py``) must reopen under the current code with identical
answers and meta files, then take one more epoch and a compaction with
the same result the writing commit produced.  The other tests pin the
kernel itself: meta and params handling, the crash-safe commit order
and the sweep.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil

import pytest

from axonops_schema_registry_spark.streaming.epoch_log import (
    EpochLog,
    _base_dir,
    epoch_dir,
    live_epochs,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "epoch_stores")


def _fixture_builder():
    spec = importlib.util.spec_from_file_location(
        "epoch_stores_build", os.path.join(FIXTURE, "build.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_head_written_stores_reopen(spark, tmp_path):
    b = _fixture_builder()
    with open(os.path.join(FIXTURE, "expected.json")) as f:
        expected = json.load(f)
    assert sorted(expected) == sorted(b.STORES)
    for name in b.STORES:
        root = str(tmp_path / name)
        shutil.copytree(os.path.join(FIXTURE, "stores", name), root)
        want = expected[name]
        store = b.open_store(spark, name, root)
        assert b.meta_files(root) == want["open"]["meta"], name
        # one describe() for every store, defined only on the kernel
        assert not any("describe" in vars(c)
                       for c in type(store).__mro__), name
        state = store.log.describe()
        late = {"outstanding_late"} if name in ("bucketed",
                                                "embedding") else set()
        assert set(state) == {"gen", "below", "live_epochs", "params",
                              *late}, name
        assert (state["gen"], state["below"], state["live_epochs"]) == (
            0, 2, [2]), name
        if late:
            assert state["outstanding_late"] == [], name
        assert b.answers(spark, name, store) == want["open"]["answers"], \
            name
        b.extend(spark, name, store)
        assert b.meta_files(root) == want["extended"]["meta"], name
        assert (b.answers(spark, name, store)
                == want["extended"]["answers"]), name


def _log(d, dirs=("data",), **kw):
    return EpochLog(kw.pop("spark", None), str(d),
                    tuple(os.path.join(str(d), x) for x in dirs),
                    "meta.json", "params.json", label="test-store", **kw)


def test_missing_meta_is_empty_and_corrupt_meta_raises(tmp_path):
    log = _log(tmp_path)
    assert log.meta() == {"gen": -1, "below": 0}
    with open(log.meta_path, "w") as f:
        f.write("{torn")
    with pytest.raises(RuntimeError, match="corrupt test-store meta"):
        log.meta()


def test_params_pin(tmp_path):
    log = _log(tmp_path / "s")
    log.pin({"k": 1})                       # first write pins
    with open(log.params_path) as f:
        assert json.load(f) == {"k": 1}
    log.pin({"k": 1})                       # same values: fine
    with pytest.raises(RuntimeError, match=r"different signature.*'k'"):
        log.pin({"k": 2})
    with open(log.params_path, "w") as f:
        f.write("{not json")
    with pytest.raises(RuntimeError, match="corrupt test-store params"):
        log.pin({"k": 1})
    # data but no pin: a pre-pinning store is refused, not auto-pinned
    os.remove(log.params_path)
    os.makedirs(epoch_dir(log.dirs[0], 0))
    open(os.path.join(epoch_dir(log.dirs[0], 0), "part"), "w").close()
    with pytest.raises(RuntimeError, match="no signature-parameter pin"):
        log.pin({"k": 1})
    assert not os.path.exists(log.params_path)


def test_non_integer_epoch_names_are_skipped(tmp_path):
    d = str(tmp_path)
    for name in ("epoch=3", "epoch=-1", "epoch=x", "epoch=", "other"):
        os.makedirs(os.path.join(d, name))
    assert live_epochs(d) == [-1, 3]
    assert live_epochs(os.path.join(d, "absent")) == []


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write_epoch(spark, log, e, ids):
    spark.createDataFrame([(i,) for i in ids], "id bigint") \
        .write.mode("overwrite").parquet(epoch_dir(log.dirs[0], e))


def test_crash_before_meta_swap_keeps_readers_on_old_generation(
        spark, tmp_path):
    log = _log(tmp_path, spark=spark)
    data = log.dirs[0]
    for e in range(3):
        _write_epoch(spark, log, e, [10 * e, 10 * e + 1])
    log.commit({data: log.read(data, 1)}, 1)
    assert log.meta() == {"gen": 0, "below": 1}
    want = [(0,), (1,), (10,), (11,), (20,), (21,)]
    assert _rows(log.read(data)) == want
    # crash between (1) and (2): generation 1 written, meta not swapped
    spark.createDataFrame([(99,)], "id bigint") \
        .write.parquet(_base_dir(data, 1))
    assert log.meta() == {"gen": 0, "below": 1}
    assert _rows(log.read(data)) == want
    assert _rows(log.read(data, 2)) == want[:4]
    # the next commit reuses the name and overwrites the orphan
    log.commit({data: log.read(data, 2)}, 2, {"note": "x"})
    assert log.meta() == {"gen": 1, "below": 2, "note": "x"}
    assert _rows(log.read(data)) == want


def test_sweep_removes_only_superseded_generations_and_folded_epochs(
        spark, tmp_path):
    log = _log(tmp_path, dirs=("data", "side"), spark=spark)
    data, side = log.dirs
    log.pin({"k": 1})
    for e in range(4):
        for path in (data, side):
            spark.createDataFrame([(e,)], "id bigint") \
                .write.parquet(epoch_dir(path, e))
    os.makedirs(os.path.join(data, "epoch=x"))
    os.makedirs(os.path.join(tmp_path, "repairs", "r0"))
    os.makedirs(os.path.join(tmp_path, "keep"))
    log.commit({p: log.read(p, 2) for p in log.dirs}, 2)
    log.commit({p: log.read(p, 3) for p in log.dirs}, 3,
               drop=(os.path.join(tmp_path, "repairs"),))
    for path in (data, side):
        assert sorted(os.listdir(path + "_base")) == ["g1"]
        assert live_epochs(path) == [3]
        assert _rows(log.read(path)) == [(0,), (1,), (2,), (3,)]
    assert os.path.isdir(os.path.join(data, "epoch=x"))
    assert not os.path.exists(os.path.join(tmp_path, "repairs"))
    assert os.path.isdir(os.path.join(tmp_path, "keep"))
    assert log.describe() == {"gen": 1, "below": 3, "live_epochs": [3],
                              "params": {"k": 1}}


def test_admission_store_with_data_and_no_pin_refuses(spark, tmp_path):
    """The admission store used to auto-pin a store that held data but
    no pin; it now refuses, like every other store."""
    from axonops_schema_registry_spark.streaming.dedup_stream import (
        TokenBudgetAdmissionSink,
    )

    budgets = spark.createDataFrame([("a", 10)],
                                    "source string, token_budget bigint")
    d = str(tmp_path / "adm")
    sink = TokenBudgetAdmissionSink(budgets, d)
    sink(spark.createDataFrame([(1, "a", "x y z")],
                               "doc_id bigint, source string, text string"),
         0)
    os.remove(sink.log.params_path)
    with pytest.raises(RuntimeError, match="no signature-parameter pin"):
        TokenBudgetAdmissionSink(budgets, d)
