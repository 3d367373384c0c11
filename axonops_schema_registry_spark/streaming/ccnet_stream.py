"""ccn2 — the streaming CCNet capstone (r17, VERDICT r16 ask #5): the
foreachBatch twin of ``llm/ccnet.py:ccnet_receipt`` (the ccn1 chain),
composing the streaming pieces that already exist —
:class:`...dedup_store.LineDedupStore` for the cross-epoch line-dedup
state, the CurationSink-convention train-once quality/perplexity
artifacts, and :class:`...dedup_stream.TokenBudgetAdmissionSink` for
the cross-epoch budget state — with the per-epoch stage RECEIPT as the
observable output, so the stream ≡ batch pin runs through every seam
between the sinks (exactly where the r16 repair bug class lives).

Equality contract (the LineDedupSink + TokenBudgetAdmissionSink
conventions, composed): when batches deliver the corpus in an order
that is simultaneously

* non-decreasing in doc id across epochs for every duplicated block's
  holders (the line-dedup keep-first shape), and
* non-decreasing per source in the mixture's (portable_hash, id)
  order (the pre-sorted-manifest shape a budgeted ingest replays),

then the aggregated per-epoch receipts equal the batch
``ccnet_receipt`` answer column for column — counts, budget tokens,
id checksums, ranks — across epochs AND across a mid-stream restart
(pinned in tests/test_ccnet_stream.py with a planted corpus whose ids
are chosen so both orders coincide; the md5-prefix portable hash is
computable driver-side, so the fixture PLANS the arrival order rather
than hoping for it).  Out-of-order arrival degrades exactly where its
components document: the line-dedup leg keeps first-by-arrival
(``LineDedupStore.repair()`` is the reconciliation path) and the
admission leg admits the arrival-order prefix.

State shape (the 100 TB lens): everything cross-epoch lives in the
two disk-backed stores (block elections + budget prefixes — per-batch
cost follows the batch, both compactable); everything else is the
CALIBRATE-ONCE model the production pipeline ships — vocabulary-bounded
LM table, per-source tercile cutoff pairs, ≤4096-row NBSVM weights,
one global top-k cutoff pair, config-sized budgets — all O(sources +
vocabulary), never O(corpus).  Rank gates are served as boundary-pair
comparisons (see ``ccnet_calibration``), the row-local form of the
batch chain's corpus-global rank windows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from axonops_schema_registry_spark.operators.core import release_checkpoint
from axonops_schema_registry_spark.streaming.epoch_log import (
    EpochLog,
    epoch_dir,
    live_epochs,
)

#: receipt columns, one row per (source, epoch)
_RECEIPT = ("source", "n_docs", "n_lang", "n_dedup", "blocks_removed",
            "n_head_middle", "n_quality", "n_selected", "tokens_selected",
            "id_checksum", "max_rank")


class CCNetStreamSink:
    """foreachBatch target running the full CCNet chain per
    micro-batch: lang-ID gate → normalize → LineDedupStore line dedup
    → perplexity-tercile gate → NBSVM top-k gate → token-budget
    admission, writing one per-(source, epoch) receipt partition.

    ``calibration`` is the corpus the fixed artifacts are fitted on at
    construction (production: a trusted sample, fitted once — the
    artifacts ARE the deployed model; for the stream ≡ batch pin: the
    streamed corpus itself).  Restart-safe by construction: the two
    stateful legs live on disk under ``store_dir``, and a fresh sink
    over the same directories re-derives the identical calibration
    artifacts from the same calibration frame (both sub-stores pin
    their parameters and refuse drift)."""

    def __init__(self, calibration: DataFrame, store_dir: str,
                 budget_tokens: int = 120, n_quality: int = 100,
                 pos_source: str = "src0",
                 strict: bool = False) -> None:
        from axonops_schema_registry_spark.llm.ccnet import (
            ccnet_calibration,
        )
        from axonops_schema_registry_spark.streaming.dedup_store import (
            LineDedupStore,
        )
        from axonops_schema_registry_spark.streaming.dedup_stream import (
            TokenBudgetAdmissionSink,
        )

        self.store_dir = store_dir
        self.receipts_dir = os.path.join(store_dir, "receipts")
        self.log = EpochLog(calibration.sparkSession, store_dir,
                            (self.receipts_dir,), "receipts_meta.json",
                            label="receipt")
        self.strict = strict
        os.makedirs(store_dir, exist_ok=True)
        art = ccnet_calibration(calibration, budget_tokens, n_quality,
                                pos_source)
        self.lm = art["lm"]
        self.ppl_cut = art["ppl_cut"]
        self.weights = art["weights"]
        self.q_cut = art["q_cut"]
        self.budgets = art["budgets"]
        self.line_store = LineDedupStore(
            calibration.sparkSession,
            os.path.join(store_dir, "line_dedup"),
            block_words=10, min_block_words=5)
        self.admission = TokenBudgetAdmissionSink(
            self.budgets, os.path.join(store_dir, "admission"))

    # -- per-batch chain ---------------------------------------------------

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from axonops_schema_registry_spark.llm.sampling import (
            quality_score_with_weights,
        )
        from axonops_schema_registry_spark.llm.text import (
            normalize_text,
            predict_lang,
            surprisal_with_lm,
        )

        epoch_id = int(epoch_id)
        self.log.assert_live(epoch_id)
        docs = (batch_df.select("doc_id", "source", "text")
                .localCheckpoint(eager=True))  # arrivals + gate input
        n_docs = docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        gated = (docs.filter(predict_lang("text") == "en")
                 .select("doc_id", "source",
                         normalize_text("text").alias("text"))
                 .localCheckpoint(eager=True))  # count + dedup + source
        if self.strict:
            try:
                self._refuse_out_of_order(gated, epoch_id)
            except Exception:
                for frame in (docs, gated):
                    release_checkpoint(frame)
                raise
        lang_c = gated.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lang"))
        ln_raw = self.line_store.process_batch(
            gated.select("doc_id", "text"), epoch_id)
        ln = (ln_raw
              .select(F.col("id").alias("doc_id"), "n_removed",
                      "cleaned_text")
              .join(gated.select("doc_id", "source"), "doc_id")
              .localCheckpoint(eager=True))    # stage agg + survivors
        release_checkpoint(ln_raw)
        ded_c = ln.groupBy("source").agg(
            F.sum((F.col("cleaned_text") != "").cast("bigint"))
            .alias("n_dedup"),
            F.sum("n_removed").cast("bigint").alias("blocks_removed"))
        surv = (ln.filter(F.col("cleaned_text") != "")
                .select("doc_id", "source",
                        F.col("cleaned_text").alias("text")))
        # perplexity gate: score against the FIXED calibration LM,
        # keep (mean_surprisal, id) at-or-before the per-source
        # tercile boundary pair — the row-local form of the rank cut
        scored = surprisal_with_lm(surv, self.lm)
        hm = (surv.join(scored.select("doc_id", "mean_surprisal"),
                        "doc_id")
              .join(F.broadcast(self.ppl_cut), "source")
              .filter(F.struct(F.col("mean_surprisal").alias("k1"),
                               F.col("doc_id").alias("k2"))
                      <= F.struct(F.col("cut_ms").alias("k1"),
                                  F.col("cut_id").alias("k2")))
              .select("doc_id", "source", "text")
              .localCheckpoint(eager=True))    # count + score + admit
        hm_c = hm.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_head_middle"))
        # quality gate: fixed NBSVM weights + the global top-k
        # boundary pair on the order-isomorphic (-score, id) key
        qs = quality_score_with_weights(hm, self.weights,
                                        n_buckets=4096)
        qkept = (hm.join(qs.select("doc_id", "score_micro"), "doc_id")
                 .crossJoin(F.broadcast(self.q_cut))
                 .filter(F.struct((-F.col("score_micro")).alias("k1"),
                                  F.col("doc_id").alias("k2"))
                         <= F.struct(F.col("cut_neg_s").alias("k1"),
                                     F.col("cut_id").alias("k2")))
                 .select("doc_id", "source", "text")
                 .localCheckpoint(eager=True))  # count + admission
        q_c = qkept.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_quality"))
        # token-budget admission: the disk-backed prefix state
        self.admission(qkept, epoch_id)
        spark = batch_df.sparkSession
        self._write_order_state(qkept, epoch_id)
        adm = spark.read.parquet(epoch_dir(self.admission.admissions_dir,
                                           epoch_id))
        sel = (adm.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n_selected"),
                    F.max("cum_tokens").alias("tokens_selected"),
                    F.sum("doc_id").alias("id_checksum"),
                    F.max("mix_rank").alias("max_rank")))
        out = n_docs
        for frame in (lang_c, ded_c, hm_c, q_c, sel):
            out = out.join(frame, "source", "left")
        tail = _RECEIPT[2:]
        receipt = out.select(
            "source", "n_docs",
            *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
              for c in tail])
        # overwrite keeps an at-least-once replay idempotent (every
        # upstream leg recomputes identically from pre-epoch state)
        receipt.write.mode("overwrite").parquet(
            epoch_dir(self.receipts_dir, epoch_id))
        for frame in (docs, gated, ln, hm, qkept):
            release_checkpoint(frame)

    # -- arrival-order guard (r17; fail-fast mode r18) ---------------------

    def _refuse_out_of_order(self, gated: DataFrame,
                             epoch_id: int) -> None:
        """``strict=True`` pre-flight (VERDICT r17 ask #6):
        :meth:`order_report` DETECTS a violated stream ≡ batch
        arrival-order precondition after receipts have already
        diverged; production wants the mix5-style refusal at the seam.
        Both legs are checked against the incoming batch BEFORE any
        state mutates, and a violation raises with the violated
        sources / block keys named — state untouched, so the caller
        can re-order and re-deliver the batch.

        Checked on the GATED batch (the frame entering the line
        store), not the post-gate admission set — the ord1 convention:
        order violations can only disappear under subsetting, so a
        pass here is sufficient for every downstream leg and a refusal
        is conservative in the safe direction.

        * admission leg: the batch's per-source (portable_hash, id)
          minimum must sit above every PRIOR epoch's stored maximum
          (epochs < ``epoch_id`` — an identical at-least-once replay
          of this epoch compares only against its predecessors and
          passes);
        * line leg: no eligible block key in this batch may carry a
          packed order STRICTLY below an election already stored by a
          prior epoch (equality is the replay case, allowed).

        Both legs compare against epochs < ``epoch_id`` only: under
        the foreachBatch contract epoch ids are monotone from the
        checkpoint and a re-delivered epoch carries identical content,
        so a batch bearing an EXISTING epoch id is treated as that
        replay (checked against its own predecessors, passes).  A
        caller that reuses a lower epoch id for NEW data violates the
        identical-replay assumption itself — that hole is closed on
        the line-store side (a rewritten epoch partition invalidates
        the repaired-through record), not here."""
        from axonops_schema_registry_spark.llm.sampling import (
            portable_hash,
        )

        spark = gated.sparkSession
        # admission leg: prior epochs' per-source maxima
        state_dir = os.path.join(self.store_dir, "order_state")
        prior = [e for e in live_epochs(state_dir) if e < epoch_id]
        bad_sources: list[str] = []
        if prior:
            st = spark.read.parquet(*[epoch_dir(state_dir, e)
                                      for e in prior])
            mx = (st.groupBy("source")
                  .agg(F.max(F.struct(F.col("max_h").alias("h"),
                                      F.col("max_hid").alias("i")))
                       .alias("mx")))
            gk = gated.withColumn("__h", portable_hash(
                F.col("doc_id").cast("string")))
            mn = (gk.groupBy("source")
                  .agg(F.min(F.struct(F.col("__h").alias("h"),
                                      F.col("doc_id").alias("i")))
                       .alias("mn")))
            bad_sources = [
                r["source"] for r in
                (mn.join(mx, "source")
                 .filter(F.col("mn") <= F.col("mx"))
                 .select("source").orderBy("source").limit(20)
                 .collect())]
        # line leg: stored elections vs this batch's block orders
        seg = (self.line_store._segmented(
                   gated.select("doc_id", "text"))
               .filter(self.line_store._eligible())
               .groupBy("__bkey")
               .agg(F.min("__ord").alias("__bmin")))
        stored = self.line_store.log.read(
            self.line_store.elections_dir, epoch_id)
        bad_keys: list = []
        if stored is not None:
            bad_keys = [
                r["__bkey"] for r in
                (seg.join(stored.select("__bkey", "__first"), "__bkey")
                 .filter(F.col("__bmin") < F.col("__first"))
                 .select("__bkey").distinct().orderBy("__bkey")
                 .limit(20).collect())]
        if bad_sources or bad_keys:
            raise RuntimeError(
                f"ccnet-stream strict mode: batch for epoch "
                f"{epoch_id} violates the stream≡batch arrival-order "
                f"preconditions; state untouched. "
                f"out-of-order sources (≤20): {bad_sources}; "
                f"late-winner block keys (≤20): {bad_keys}. "
                f"Re-order the manifest (see "
                f"llm.ccnet.order_safe_manifest) and re-deliver.")

    def _write_order_state(self, qkept: DataFrame,
                           epoch_id: int) -> None:
        """Record this epoch's per-source (portable_hash, id) extrema
        over the docs entering ADMISSION (qkept) so
        :meth:`order_report` can DETECT a violated mixture-order
        precondition instead of silently diverging from the batch
        chain.  One sources-sized row set per epoch, idempotent
        overwrite (the established replay shape).  The line-dedup leg
        needs no extra state: its violations are read exactly off the
        line store's elections table (see order_report)."""
        from axonops_schema_registry_spark.llm.sampling import (
            portable_hash,
        )

        qk = qkept.withColumn("__h", portable_hash(
            F.col("doc_id").cast("string")))
        pair = F.struct(F.col("__h").alias("h"),
                        F.col("doc_id").alias("i"))
        state = (qk.groupBy("source")
                 .agg(F.min(pair).alias("mn"), F.max(pair).alias("mx"))
                 .select("source",
                         F.col("mn.h").alias("min_h"),
                         F.col("mn.i").alias("min_hid"),
                         F.col("mx.h").alias("max_h"),
                         F.col("mx.i").alias("max_hid")))
        state.write.mode("overwrite").parquet(epoch_dir(
            os.path.join(self.store_dir, "order_state"), epoch_id))

    def order_report(self, spark) -> DataFrame | None:
        """Per-epoch verdict on the two stream ≡ batch arrival-order
        preconditions (see the module docstring) — both checks EXACT:

        * ``admission_order_ok`` — every source's incoming (hash, id)
          minimum over the admission-leg docs sits ABOVE every prior
          epoch's maximum (per-source prefix order is precisely what
          the mix5 equality needs);
        * ``line_order_ok`` — no block key whose batch-global winner
          this epoch carried was already elected by an earlier epoch
          (read off the line store's elections table — the same
          victim detection ``LineDedupStore.repair()`` runs, bounded
          by distinct block keys).  False means keep-first-by-arrival
          elected a different copy than the batch operator —
          ``repair()`` is the reconciliation path for the store;
          receipts from the flagged epoch on are not batch-equal.

        True everywhere ⇒ the aggregated receipts equal the batch
        ``ccnet_receipt`` by the pinned equality contract."""
        from pyspark.sql import Window

        path = os.path.join(self.store_dir, "order_state")
        epoch_ids = live_epochs(path)
        if not epoch_ids:
            return None
        # the report covers every epoch= partition ON DISK (ADVICE
        # r17): an epoch whose quality-kept set was empty wrote a
        # 0-row partition, which contributes no rows to the parquet
        # read — it must still be reported (vacuously OK: an empty
        # batch violates neither precondition), not silently absent.
        epochs = spark.createDataFrame(
            [(e,) for e in epoch_ids], "epoch bigint")
        st = spark.read.parquet(path)
        prev = (Window.partitionBy("source").orderBy("epoch")
                .rowsBetween(Window.unboundedPreceding, -1))
        mx = F.struct(F.col("max_h").alias("h"),
                      F.col("max_hid").alias("i"))
        mn = F.struct(F.col("min_h").alias("h"),
                      F.col("min_hid").alias("i"))
        adm = (st.withColumn("__prev", F.max(mx).over(prev))
               .withColumn("__ok",
                           F.col("__prev").isNull()
                           | F.col("min_h").isNull()
                           | (mn > F.col("__prev")))
               .groupBy("epoch")
               .agg(F.min(F.col("__ok").cast("int")).cast("boolean")
                    .alias("admission_order_ok")))
        # line leg: a violated key is one whose global packed minimum
        # (the batch winner) lives in a LATER epoch than the key's
        # first election — the violating epoch is the winner's.
        # Tie-breaks via ordered-struct min, not min_by: a key whose
        # minimal __first recurs in several epochs (an identical
        # replay) must resolve to the EARLIEST such epoch
        # deterministically (ADVICE r17).
        el = self.line_store.log.read(self.line_store.elections_dir)
        bad_epochs = None
        if el is not None:
            per_key = (el.groupBy("__bkey")
                       .agg(F.min("__first").alias("__gmin"),
                            F.min(F.struct("epoch", "__first"))
                            .alias("__owner"),
                            F.min(F.struct("__first", "epoch"))
                            .alias("__winner")))
            bad_epochs = (per_key
                          .filter(F.col("__gmin")
                                  < F.col("__owner.__first"))
                          .select(F.col("__winner.epoch")
                                  .alias("epoch"))
                          .distinct()
                          .withColumn("__line_bad", F.lit(True)))
        out = epochs.join(adm, "epoch", "left")
        if bad_epochs is not None:
            out = out.join(bad_epochs, "epoch", "left")
        else:
            out = out.withColumn("__line_bad",
                                 F.lit(None).cast("boolean"))
        return (out.select("epoch",
                           F.coalesce("admission_order_ok",
                                      F.lit(True))
                           .alias("admission_order_ok"),
                           F.col("__line_bad").isNull()
                           .alias("line_order_ok"))
                .orderBy("epoch"))

    # -- receipt compaction (r18, VERDICT r17 stretch #8) --------------------

    @staticmethod
    def _rollup(receipts: DataFrame) -> DataFrame:
        """One row per source: the additive receipt columns sum; the
        admission prefix is monotone across epochs, so
        ``tokens_selected`` / ``max_rank`` take the max."""
        return (receipts.groupBy("source")
                .agg(*[F.sum(c).cast("bigint").alias(c)
                       for c in ("n_docs", "n_lang", "n_dedup",
                                 "blocks_removed", "n_head_middle",
                                 "n_quality", "n_selected",
                                 "id_checksum")],
                     F.max("tokens_selected").cast("bigint")
                     .alias("tokens_selected"),
                     F.max("max_rank").cast("bigint").alias("max_rank"))
                .select(*_RECEIPT))

    def compact_receipts(self, spark, below_epoch: int) -> None:
        """Fold every ``receipts/epoch=`` partition < ``below_epoch``
        into the next generation-numbered base — one row per source,
        the same :meth:`_rollup` ``final_receipt`` runs, so the folded
        base composes with the live epochs under it.  ``below_epoch``
        must be at-or-below the streaming checkpoint's committed
        watermark (enforced on the ingest side by the ``__call__``
        guard).

        ``order_state/epoch=`` partitions deliberately do NOT fold:
        each is a sources-sized row set whose PER-EPOCH granularity is
        the whole point of ``order_report`` (a folded verdict history
        would erase which epoch violated); their growth is
        O(sources × epochs) rows — config-sized per epoch, the same
        accepted bound as the audit trail itself."""
        views = self.log.fold_views(below_epoch)
        if views is not None:
            self.log.commit({self.receipts_dir: self._rollup(
                views[self.receipts_dir])}, below_epoch)

    # -- reads ---------------------------------------------------------------

    def final_receipt(self, spark) -> DataFrame | None:
        """The aggregated receipt over every epoch — the frame the
        stream ≡ batch pin compares against ``ccnet_receipt``:
        additive columns sum across epochs; ``tokens_selected`` /
        ``max_rank`` take the max (the admission prefix is monotone
        across epochs).  Reads the folded base + live epochs (see
        :meth:`compact_receipts`)."""
        eps = self.log.read(self.receipts_dir)
        if eps is None:
            return None
        agg = self._rollup(eps)
        tail = _RECEIPT[2:]
        # source universe = calibration budgets UNION streamed receipt
        # sources (ADVICE r17): in the production calibrate-on-sample
        # configuration a streamed source absent from the calibration
        # corpus has per-epoch receipts but no budget row — it must
        # appear in the rollup (with zeroed selection columns: no
        # budget ⇒ the admission leg never admits it), not vanish.
        sources = (self.budgets.select("source")
                   .unionByName(agg.select("source"))
                   .distinct())
        return (sources
                .join(agg, "source", "left")
                .select("source",
                        F.coalesce("n_docs", F.lit(0)).cast("bigint")
                        .alias("n_docs"),
                        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint")
                          .alias(c) for c in tail])
                .orderBy("source"))
