"""Streaming ANN index maintenance (r18, VERDICT r17 ask #7): the
store-backed twin of the batch hyperplane-LSH family in
``llm/similarity.py`` — the one LLM-pipeline family that had no
disk-backed incremental form (batch ANN: LSH/IVF/PQ/multiprobe +
recall evals; production pipelines maintain the index as the corpus
streams in).

Equality contract (the LineDedupStore convention, simplified by the
operator's own structure): the store's bucket table after ingesting
any sequence of batches equals ``_portable_buckets`` over their union
at the same parameters, and :meth:`AnnIndexStore.lookup_topk` equals
``lsh_ann_topk_portable(queries, union_corpus)`` — IN ANY ARRIVAL
ORDER.  Unlike the dedup stores there is NO out-of-order repair
domain: a vector's buckets depend only on the FIXED planes (fitted
once at creation, persisted, parameter-pinned), never on other
vectors, so ingest commutes and a late batch is just another insert.
The store therefore carries only the :class:`.epoch_log.EpochLog`
contract (params pin, watermark guard, generation-numbered
compaction) and none of the election/repair machinery it structurally
cannot need.

100 TB shape: state is the (id, table, bucket) index — n_tables
narrow rows per corpus vector — plus the stored vectors for exact
rerank; per-batch cost is one |batch| × n_planes broadcast expansion
(planes are configuration-sized) and two partition writes, never a
scan of the stored corpus.  Lookup touches ONE (table, bucket)
equi-join plus candidates-only rerank — the nn2 plan, reading the
store instead of re-bucketing the corpus.  Compaction bounds the
small-files count exactly like the dedup stores (the shared
:mod:`.epoch_log` fold below the streaming checkpoint's watermark).

Reference: axonops/axonops-schema-registry has no ANN surface; this
family extends the engine for LLM-training-data curation (brief §north
star), modeled on the public hyperplane-LSH construction (Charikar
2002) with the repo's portable data-derived planes so DuckDB oracles
can replay lookups bit-identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axonops_schema_registry_spark.streaming.epoch_log import (
    EpochLog,
    epoch_dir,
)


class AnnIndexStore:
    """Persistent hyperplane-LSH index over an append-only vector
    corpus: ``process_batch`` buckets each batch against the fixed
    planes and writes epoch partitions; ``lookup_topk`` serves
    approximate top-k off the stored index; ``compact`` folds
    partitions below the streaming checkpoint's committed watermark.

    ``calibration`` supplies the plane-fitting vectors at CREATION
    (the portable family's data-derived planes: plane g =
    vec(plane_base + 2g) − vec(plane_base + 2g + 1), so the frame
    must contain ids ``[plane_base, plane_base + 2·n_bits·n_tables)``
    — production: the first corpus sample; fitted once, persisted,
    and every reopen serves the SAME planes from disk).  Reopening an
    existing store ignores ``calibration`` (planes are already on
    disk) but still pins the scalar parameters: a store reopened with
    different ``n_bits``/``n_tables``/``plane_base`` would bucket new
    batches incompatibly with the stored index — every lookup would
    silently miss — so the params pin refuses.

    Corpus ids are expected unique across batches (an index, not a
    dedup filter); an at-least-once REPLAY of the same epoch
    overwrites its own partitions with identical content
    (exactly-once effect, the store-family contract).
    """

    def __init__(self, spark: SparkSession, store_dir: str,
                 calibration: DataFrame | None = None,
                 n_bits: int = 5, n_tables: int = 2,
                 plane_base: int = 10,
                 id_col: str = "corpus_id",
                 vec_col: str = "corpus_vec") -> None:
        from axonops_schema_registry_spark.llm.similarity import (
            _portable_planes,
        )

        self.spark = spark
        self.store_dir = store_dir
        self.n_bits, self.n_tables = n_bits, n_tables
        self.plane_base = plane_base
        self.id_col, self.vec_col = id_col, vec_col
        self.buckets_dir = os.path.join(store_dir, "ann_buckets")
        self.vectors_dir = os.path.join(store_dir, "ann_vectors")
        self.tombstones_dir = os.path.join(store_dir, "ann_tombstones")
        self.planes_dir = os.path.join(store_dir, "ann_planes")
        # bases keep the epoch column (tombstones resolve by epoch);
        # compaction CONSUMES tombstones below the watermark instead of
        # folding them, so they never get a base
        self.log = EpochLog(
            spark, store_dir, (self.buckets_dir, self.vectors_dir),
            "ann_meta.json", "ann_params.json", label="ANN-store",
            keep_epoch=True, consumed=(self.tombstones_dir,))
        os.makedirs(store_dir, exist_ok=True)
        self._pin()
        if not os.path.isdir(self.planes_dir):
            if calibration is None:
                raise RuntimeError(
                    f"ANN store at {store_dir} has no fitted planes "
                    "and no calibration frame was supplied — a new "
                    "store needs the plane-fitting vectors once")
            planes = _portable_planes(
                calibration.select(
                    F.col(id_col).alias("corpus_id"),
                    F.col(vec_col).alias("corpus_vec")),
                n_bits, n_tables, plane_base)
            n_planes = planes.count()
            if n_planes != n_bits * n_tables:
                raise RuntimeError(
                    f"calibration frame yields {n_planes} planes, "
                    f"need n_bits*n_tables = {n_bits * n_tables}: ids "
                    f"[{plane_base}, "
                    f"{plane_base + 2 * n_bits * n_tables}) must all "
                    "be present")
            tmp = self.planes_dir + "_tmp"
            planes.write.mode("overwrite").parquet(tmp)
            os.replace(tmp, self.planes_dir)  # atomic plane commit
        self.planes = (spark.read.parquet(self.planes_dir)
                       .localCheckpoint(eager=True))
        if self.planes.count() != n_bits * n_tables:
            # ann_params.json is the pin; this guards the residual hole
            # (pin deleted by hand after planes were fitted under
            # different parameters, then re-pinned by a fresh open)
            raise RuntimeError(
                f"ANN store at {store_dir}: fitted planes on disk "
                f"({self.planes.count()}) disagree with "
                f"n_bits*n_tables = {n_bits * n_tables}; the store "
                "was created under different parameters")

    def _pin(self) -> None:
        self.log.pin({"n_bits": self.n_bits, "n_tables": self.n_tables,
                      "plane_base": self.plane_base,
                      "id_col": self.id_col, "vec_col": self.vec_col})

    # -- ingestion ----------------------------------------------------------

    def process_batch(self, new_vecs: DataFrame,
                      epoch_id: int) -> DataFrame:
        """Bucket one batch against the fixed planes and (re)write its
        epoch partitions; returns the batch's (id, table, bucket)
        rows.  Cost: one |batch| × n_planes broadcast expansion — the
        stored corpus is never read."""
        from axonops_schema_registry_spark.llm.similarity import (
            _portable_buckets,
        )

        self._pin()
        epoch_id = int(epoch_id)
        self.log.assert_live(epoch_id)
        vecs = new_vecs.select(
            F.col(self.id_col).alias("corpus_id"),
            F.col(self.vec_col).alias("corpus_vec"))
        buckets = _portable_buckets(vecs, "corpus_id", "corpus_vec",
                                    self.planes) \
            .localCheckpoint(eager=True)
        buckets.write.mode("overwrite").parquet(
            epoch_dir(self.buckets_dir, epoch_id))
        vecs.write.mode("overwrite").parquet(
            epoch_dir(self.vectors_dir, epoch_id))
        return buckets

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch adapter."""
        from axonops_schema_registry_spark.operators.core import (
            release_checkpoint,
        )

        release_checkpoint(self.process_batch(batch_df, int(epoch_id)))

    def delete_ids(self, ids: DataFrame, epoch_id: int) -> None:
        """Remove vectors from the index (r18 — production index
        maintenance is inserts AND deletes): writes an epoch-stamped
        tombstone partition; a tombstone at epoch T kills every insert
        of that id with epoch ≤ T, and a LATER re-insert (epoch > T)
        resurrects the id — per-id resolution is epoch-ordered, so
        delete/re-insert sequences replay deterministically.  Reads
        apply tombstones as one id-keyed anti-join condition
        (tombstone count is delete-sized, typically ≪ corpus);
        :meth:`compact` applies tombstones below the watermark to the
        folded base and DROPS them, so the tombstone set never grows
        past one watermark window.  ``ids`` is a one-column frame of
        ``id_col`` values; an identical replay overwrites its own
        partition (exactly-once effect, the store-family contract)."""
        self._pin()
        epoch_id = int(epoch_id)
        self.log.assert_live(epoch_id)
        ids.select(F.col(self.id_col).alias("corpus_id")).distinct() \
            .write.mode("overwrite").parquet(
                epoch_dir(self.tombstones_dir, epoch_id))

    def _alive(self, frame: DataFrame) -> DataFrame:
        """Apply live tombstones: keep a row iff its insert epoch is
        above the id's newest tombstone epoch (or it has none)."""
        tombs = self.log.read(self.tombstones_dir)
        if tombs is None:
            return frame
        t = (tombs.groupBy("corpus_id")
             .agg(F.max("epoch").alias("__tomb_e")))
        return (frame.join(t, "corpus_id", "left")
                .filter(F.col("__tomb_e").isNull()
                        | (F.col("epoch") > F.col("__tomb_e")))
                .drop("__tomb_e"))

    # -- reads ---------------------------------------------------------------

    def buckets(self) -> DataFrame | None:
        """The stored LIVE (corpus_id, table, bucket) index —
        tombstones applied — the frame the store-vs-batch equality
        target compares."""
        b = self.log.read(self.buckets_dir)
        return None if b is None else \
            self._alive(b).select("corpus_id", "table", "bucket")

    def vectors(self) -> DataFrame | None:
        v = self.log.read(self.vectors_dir)
        return None if v is None else \
            self._alive(v).select("corpus_id", "corpus_vec")

    def lookup_topk(self, queries: DataFrame, k: int = 5,
                    round_digits: int = 4,
                    multiprobe: bool = False) -> DataFrame | None:
        """Approximate top-k off the STORED index: bucket the queries
        against the fixed planes, candidates from one (table, bucket)
        equi-join with the stored index (``multiprobe=True`` adds the
        Hamming-1 probe fan-out of ``multiprobe_lsh_ann_topk`` —
        query-side rows only, the corpus index is untouched), exact
        cosine rerank over candidates only.  Equals the corresponding
        batch operator over the ingested union."""
        from axonops_schema_registry_spark.llm.similarity import (
            _exact_rerank,
            _portable_buckets,
        )

        cb = self.buckets()
        if cb is None:
            return None
        qb = _portable_buckets(queries, "query_id", "query_vec",
                               self.planes)
        if multiprobe:
            probe_set = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << b))
                  for b in range(self.n_bits)])
            qb = qb.select("query_id", "table",
                           F.explode(probe_set).alias("bucket"))
        cand = (qb.join(cb, ["table", "bucket"])
                .select("query_id", "corpus_id").distinct())
        corpus = self.vectors()
        return _exact_rerank(cand, queries, corpus, k, round_digits)

    # -- compaction ----------------------------------------------------------

    def compact(self, below_epoch: int) -> None:
        """Fold every epoch partition < ``below_epoch`` of both data
        directories into the next generation-numbered base."""
        merged = self.log.fold_views(below_epoch)
        if merged is None:
            return
        # tombstones below the watermark are APPLIED to the folded
        # base and consumed (they can no longer affect rows outside
        # it: every insert they could kill has epoch <= their own
        # epoch < below_epoch and is part of this fold); tombstones at
        # or above the watermark stay live and keep applying at read
        tombs = self.log.read(self.tombstones_dir, below_epoch)
        if tombs is not None:
            consumed = (tombs.groupBy("corpus_id")
                        .agg(F.max("epoch").alias("__tomb_e")))
            merged = {p: (m.join(consumed, "corpus_id", "left")
                          .filter(F.col("__tomb_e").isNull()
                                  | (F.col("epoch") > F.col("__tomb_e")))
                          .drop("__tomb_e"))
                      for p, m in merged.items()}
        self.log.commit(merged, below_epoch)
