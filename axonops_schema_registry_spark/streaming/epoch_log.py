"""The on-disk contract under every persistent streaming store — the
only code that knows the layout.

Each data directory ``<dir>`` of a store holds:

* ``<dir>/epoch=<N>/`` — what micro-batch epoch N wrote.  Writes
  overwrite their own partition, so an at-least-once replay of an epoch
  rewrites it instead of appending twice, and reads of "everything
  before epoch N" exclude a replayed epoch's own earlier write;
* ``<dir>_base/g<N>/`` — compacted generation N: the fold of every
  epoch below the watermark.

Each store also keeps two small JSON files (names are per-store format
constants):

* the META file ``{"gen": N, "below": W, ...}`` — the commit point.
  Readers see base generation ``gen`` plus the live epochs ``>= below``.
  Only a MISSING file means an empty store; an unreadable one is
  corruption and raises (compaction already deleted the folded epochs,
  so a silent default would drop them);
* the PARAMS file — the parameters that define the store's on-disk
  signature space.  Reopening with different values would write new
  epochs incompatibly with the stored ones and silently stop matching
  against them, so :meth:`EpochLog.pin` refuses.

:meth:`EpochLog.commit` is crash-safe at every point: (1) the new bases
are fully written, (2) the meta file is fsynced and atomically replaced,
(3) superseded generations and folded epochs are swept best-effort.  An
orphan ``g<N>`` from a crash between (1) and (2) is invisible and the
next commit overwrites it; leftovers of a crash during (3) are ignored
by readers and swept by the next commit.

The stores compose one :class:`EpochLog` each and keep only their
folds (repair overlays, state sums, receipt aggregates, tombstone
consumption).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: ``before`` bound that admits every epoch
ALL = 1 << 62


def _write_json_atomic(path: str, obj: dict) -> None:
    """fsync + atomic-replace a small JSON commit record, then fsync
    the parent directory so the rename itself survives power loss."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def epoch_dir(path: str, epoch: int) -> str:
    """The partition directory epoch ``epoch`` writes under ``path``."""
    return os.path.join(path, f"epoch={int(epoch)}")


def _base_dir(path: str, gen: int) -> str:
    return os.path.join(path + "_base", f"g{gen}")


def live_epochs(path: str) -> list[int]:
    """Every ``epoch=<N>`` partition on disk under ``path``, sorted;
    names whose ``N`` is not an integer are skipped."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("epoch="):
            try:
                out.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _read_epochs(spark: SparkSession, path: str, before_epoch: int,
                 from_epoch: int = 0) -> DataFrame | None:
    """Epoch partitions in [from_epoch, before_epoch), epoch column
    dropped.  An epoch-less directory (every epoch compacted away, or
    nothing written yet) is unreadable (no schema to infer), so probe
    before reading."""
    if not live_epochs(path):
        return None
    df = spark.read.parquet(path)
    if "epoch" not in df.columns:
        return None
    return df.filter((F.col("epoch") >= from_epoch)
                     & (F.col("epoch") < before_epoch)).drop("epoch")


class EpochLog:
    """One store's epoch-partitioned directories, compacted bases,
    meta commit point and params pin.

    ``dirs`` are the data directories a compaction folds; ``consumed``
    are epoch directories a compaction consumes instead (applied to the
    fold, never given a base — so a missing base there is normal) and
    sweeps like the rest.  ``keep_epoch`` is the store's base format:
    True when bases keep the ``epoch`` column (reads then return it and
    bound ``before`` over base rows too), False when bases drop it.
    ``label`` names the store in errors.  ``describe_extra`` adds
    store-specific keys to :meth:`describe`."""

    def __init__(self, spark: SparkSession, store_dir: str,
                 dirs: tuple[str, ...], meta_name: str,
                 params_name: str | None = None, *, label: str,
                 keep_epoch: bool = False,
                 consumed: tuple[str, ...] = (),
                 describe_extra: Callable[[], dict] | None = None
                 ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.dirs = tuple(dirs)
        self.consumed = tuple(consumed)
        self.meta_path = os.path.join(store_dir, meta_name)
        self.params_path = (None if params_name is None
                            else os.path.join(store_dir, params_name))
        self.label = label
        self.keep_epoch = keep_epoch
        self.describe_extra = describe_extra

    # -- the commit record -------------------------------------------------

    def meta(self) -> dict:
        """``{"gen": base generation or -1, "below": first live epoch,
        ...store keys}``; missing file = empty store."""
        try:
            with open(self.meta_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"gen": -1, "below": 0}
        except (OSError, ValueError) as exc:
            raise RuntimeError(
                f"corrupt {self.label} meta at {self.meta_path}: "
                f"{exc!r}; refusing to silently drop compacted state"
            ) from exc

    def write_meta(self, meta: dict) -> None:
        _write_json_atomic(self.meta_path, meta)

    def pin(self, params: dict) -> None:
        """Pin ``params`` on first write; refuse a mismatch, a corrupt
        pin, or a store that holds data but has no pin.  A missing pin
        only means "new store" when the store is empty: auto-pinning
        this session's values over a store written before pinning
        existed would bless exactly the silent mismatch the pin is
        there to prevent."""
        try:
            with open(self.params_path) as f:
                have = json.load(f)
        except FileNotFoundError:
            if os.path.exists(self.meta_path) or any(
                    os.path.isdir(d) and os.listdir(d)
                    for path in self.dirs for d in (path, path + "_base")):
                raise RuntimeError(
                    f"{self.label} at {self.store_dir} holds data but "
                    f"no signature-parameter pin ({self.params_path} "
                    "missing) — a pre-pinning legacy store; refusing "
                    "to auto-pin this session's parameters over "
                    "unknown creation-time values.  Migrate once by "
                    "writing the ORIGINAL creation parameters "
                    f"({sorted(params)}) to that file, then reopen.")
            os.makedirs(self.store_dir, exist_ok=True)
            _write_json_atomic(self.params_path, params)
            return
        except (OSError, ValueError) as exc:
            raise RuntimeError(
                f"corrupt {self.label} params at {self.params_path}: "
                f"{exc!r}; refusing to ingest with unverifiable "
                "signature parameters") from exc
        if have != params:
            diff = {k: (have.get(k), params.get(k))
                    for k in sorted(set(have) | set(params))
                    if have.get(k) != params.get(k)}
            raise RuntimeError(
                f"{self.label} at {self.store_dir} was created with "
                f"different signature parameters (stored vs this "
                f"session): {diff}; reopen with the stored values or "
                "build a new store")

    def assert_live(self, epoch_id: int) -> None:
        """Refuse to write an epoch a compaction already folded."""
        below = self.meta()["below"]
        if epoch_id < below:
            raise RuntimeError(
                f"epoch {epoch_id} is below the compaction watermark "
                f"{below}; a compaction must only fold epochs the "
                "streaming checkpoint can no longer replay")

    # -- reads -------------------------------------------------------------

    def read(self, path: str, before: int | None = None
             ) -> DataFrame | None:
        """Everything stored under ``path`` strictly before epoch
        ``before`` (all of it when None): the current base generation
        plus the live epochs ``>= below``.  None when nothing is
        stored."""
        meta = self.meta()
        parts = []
        if meta["gen"] >= 0:
            base = _base_dir(path, meta["gen"])
            if os.path.isdir(base):
                parts.append(self.spark.read.parquet(base))
            elif path not in self.consumed:
                # meta is the commit record: a base it points at that
                # is missing on disk is corruption, not "no prior state"
                raise RuntimeError(
                    f"{self.label} meta {self.meta_path} references "
                    f"missing base generation {base}")
        if self.keep_epoch:
            if live_epochs(path):
                parts.append(self.spark.read.parquet(path)
                             .filter(F.col("epoch") >= meta["below"]))
        else:
            live = _read_epochs(self.spark, path,
                                ALL if before is None else before,
                                from_epoch=meta["below"])
            if live is not None:
                parts.append(live)
        if not parts:
            return None
        out = functools.reduce(DataFrame.unionByName, parts)
        if self.keep_epoch and before is not None:
            out = out.filter(F.col("epoch") < before)
        return out

    def fold_views(self, below: int,
                   view: Callable[[str, int], DataFrame | None] | None
                   = None) -> dict[str, DataFrame] | None:
        """What a compaction below ``below`` folds: ``{dir: view(dir,
        below)}`` over every data directory (``view`` defaults to
        :meth:`read`).  None when there is nothing new to fold — the
        watermark is already at or past ``below``, or the store is
        empty.  Every epoch write covers all data directories, so data
        in only some of them is a legacy or corrupt layout; a silent
        return would no-op compaction forever, so it raises."""
        if below <= self.meta()["below"]:
            return None
        view = view or self.read
        views = {p: view(p, below) for p in self.dirs}
        missing = [p for p, v in views.items() if v is None]
        if len(missing) == len(views):
            return None
        if missing:
            raise RuntimeError(
                f"{self.label} at {self.store_dir} has data in some "
                f"directories but none in {missing}; legacy or corrupt "
                "layout — refusing to compact")
        return views

    def live_above(self, below: int) -> bool:
        """Whether any data directory holds an epoch ``>= below``."""
        return any(e >= below for p in self.dirs for e in live_epochs(p))

    # -- the commit ----------------------------------------------------------

    def commit(self, frames: dict[str, DataFrame], below: int,
               extra_meta: dict | None = None,
               drop: tuple[str, ...] = ()) -> None:
        """Write ``frames`` (one per data directory) as the next base
        generation, swap the meta file to ``{"gen", "below": below,
        **extra_meta}``, then sweep: the ``drop`` directories, every
        superseded generation and every epoch below ``below``."""
        gen = self.meta()["gen"] + 1
        for path, frame in frames.items():
            frame.write.mode("overwrite").parquet(_base_dir(path, gen))
        self.write_meta({"gen": gen, "below": below,
                         **(extra_meta or {})})  # the commit point
        for d in drop:
            shutil.rmtree(d, ignore_errors=True)
        for path in (*self.dirs, *self.consumed):
            for g in range(gen):
                shutil.rmtree(_base_dir(path, g), ignore_errors=True)
            for e in live_epochs(path):
                if e < below:
                    shutil.rmtree(epoch_dir(path, e), ignore_errors=True)

    # -- observability -------------------------------------------------------

    def describe(self) -> dict:
        """Read-only state: ``{"gen", "below", "live_epochs",
        "params"}`` (``params`` None when unpinned), plus the store's
        ``describe_extra`` keys."""
        meta = self.meta()
        params = None
        if self.params_path is not None and os.path.exists(
                self.params_path):
            with open(self.params_path) as f:
                params = json.load(f)
        out = {"gen": meta["gen"], "below": meta["below"],
               "live_epochs": sorted({
                   e for p in (*self.dirs, *self.consumed)
                   for e in live_epochs(p) if e >= meta["below"]}),
               "params": params}
        if self.describe_extra is not None:
            out.update(self.describe_extra())
        return out
