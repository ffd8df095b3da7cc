"""Persisted winnowing-fingerprint corpus index for incremental dedup.

The deployed posture of batch-vs-corpus containment dedup
(``operators/textops.py incremental_containment_filter``): an ongoing
ingest pipeline must NOT re-fingerprint its 100 TB corpus on every
arriving batch. This module stores the corpus fingerprint set ``(doc_id,
h)`` in a transactional table and maintains the per-gram document
frequency (the stop-gram source) as an incrementally-refreshed aggregate
view — so admitting a new batch costs

  fingerprint(batch)                         — map-only over the batch
  + one broadcast probe join into the index  — zero corpus-sized shuffles
  + append(batch fps) + O(delta + view) DF refresh

independent of corpus size. In Spark jobs, one ``admit_stream_batch``
runs 11 — fingerprint 1 (checkpointed once), probe 6 (see ``probe``),
kept-id collect 1, map-only kept append 1, DF-view fold 2 — and a
compacting ``maintain`` 1 more: the row-preserving compaction is one
map-only rewrite, and the view's watermark then moves in a metadata-only
commit. Each job costs a fixed driver round trip, so at batch sizes of a
few hundred documents the job count, not the data, sets the batch
latency.

This is the composition of the engine's txn
layer (`sources/txn.py`), incremental MV layer (`sources/mv.py`), and the
winnowing dedup family (`operators/textops.py`) — the content-level,
at-scale generalization of the reference's per-run "skip already-scraped
job ids" anti-join (``airflow/dags/scrape_url.py``, there by exact key).

Determinism contract: probing the index is bit-identical to running
``incremental_containment_filter`` against the corpus the index currently
holds — both paths share ``containment_verdict`` and the same integer
hash/selection arithmetic, so the probe stays fully value-hash
oracle-able.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.similarity import isin_ids
from scraping_jobsdb_spark.operators.textops import (
    containment_verdict,
    winnowing_fingerprint_set,
)
from scraping_jobsdb_spark.sources.mv import IncrementalAggView
from scraping_jobsdb_spark.sources.txn import TxnTable

__all__ = ["FingerprintIndex"]

# v1-manifest keys for the index parameters: every writer and every probe
# must agree on (k, w, max_df) or fingerprints stop being comparable.
_META_KEYS = ("fp_k", "fp_w", "fp_max_df", "fp_id_col")


class FingerprintIndex:
    """A corpus fingerprint index at ``path``: a ``TxnTable`` of ``(id, h)``
    winnowing fingerprints under ``path/fps`` plus an
    ``IncrementalAggView`` of per-gram document frequency under
    ``path/df``. Parameters ride the fps table's v1 manifest."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.fps_path = os.path.join(path, "fps")
        self.df_path = os.path.join(path, "df")
        m = TxnTable(spark, self.fps_path)._manifest(1)
        missing = [k for k in _META_KEYS if k not in m]
        if missing:
            raise ValueError(
                f"{self.fps_path}: not a fingerprint index (v1 manifest "
                f"lacks {missing})"
            )
        self.k = int(m["fp_k"])
        self.w = int(m["fp_w"])
        self.max_df = int(m["fp_max_df"])
        self.id_col = str(m["fp_id_col"])
        self._df_view = IncrementalAggView(
            spark,
            self.fps_path,
            self.df_path,
            group_cols=["h"],
            measures={"df": ("count", None)},
        )

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        return TxnTable.exists(spark, os.path.join(path, "fps"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        *,
        k: int = 8,
        w: int = 4,
        max_df: int = 50,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "FingerprintIndex":
        """Fingerprint ``corpus`` once (map-only, no shuffle — see
        ``winnowing_fingerprint_set``) and persist the index. One pass over
        the corpus, ever; every later batch pays only its own size.

        Scale note (r12 stage-split profile at 100x data, local[32]):
        this one-time pass IS the dominant term of the gate query's 100x
        sweep row — create 36.3 s vs probe 2.4/1.7 s, batch append 7.8 s,
        DF-view refresh 1.3 s — because ``incremental_indexed_dedup``
        rebuilds the index from scratch every run. The ADMISSION path
        (probe + append + refresh) measured batch-sized as claimed; the
        sweep ratio tracks corpus fingerprinting, which a deployment
        amortizes once, not per batch."""
        fps = winnowing_fingerprint_set(corpus, k, w, text_col, id_col)
        TxnTable.create(
            spark,
            os.path.join(path, "fps"),
            fps,
            meta={
                "fp_k": int(k),
                "fp_w": int(w),
                "fp_max_df": int(max_df),
                "fp_id_col": str(id_col),
            },
        )
        idx = cls(spark, path)
        idx._df_view.refresh()
        return idx

    # ------------------------------------------------------------- maintain

    def fingerprint(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """``docs``' winnowing fingerprints ``(id, h)`` under THIS index's
        pinned (k, w) parameters — the exact frame every write/probe path
        derives internally. Public so a caller composing probe-then-add
        over the same batch can materialize the signing ONCE
        (``localCheckpoint``) and hand it to both via ``_fps_b``/``_fps``
        (fingerprinting is deterministic per doc, so the shared frame is
        row-identical to each path's own derivation)."""
        return winnowing_fingerprint_set(
            docs, self.k, self.w, text_col, self.id_col
        )

    def add(
        self,
        docs: DataFrame,
        text_col: str = "text",
        _fps: DataFrame | None = None,
    ) -> int:
        """Admit ``docs`` into the corpus: append their fingerprints
        (transactional — all-or-nothing visibility) and fold the append
        delta into the document-frequency view. Cost: fingerprint(docs) +
        O(|delta| + |distinct grams|) — never a corpus rescan. Returns the
        new fps-table version. ``_fps``: an already-materialized
        ``fingerprint(docs)`` frame (e.g. shared with a preceding
        ``probe`` of the same batch) — skips the signing map pass; the
        caller owns the row-identity."""
        fps = (
            winnowing_fingerprint_set(
                docs, self.k, self.w, text_col, self.id_col
            )
            if _fps is None
            else _fps
        )
        t = TxnTable(self.spark, self.fps_path)
        t.append(fps)
        self._df_view.refresh()
        return t.version()

    def add_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str = "fpindex",
        text_col: str = "text",
    ) -> int:
        """The ``foreachBatch`` body that maintains the index from a
        stream: an epoch-idempotent ``add`` (exactly-once under
        failure-recovery replays — a batch whose (app_id, epoch) is already
        in the fps table's log appends nothing, and the DF-view refresh
        then no-ops on the unchanged version). Returns fingerprint rows
        appended (0 for a recognized replay). Streaming-equals-batch: N
        micro-batches through this path leave the index byte-identical to
        one ``add`` of their union (pinned by test)."""
        fps = winnowing_fingerprint_set(
            docs, self.k, self.w, text_col, self.id_col
        )
        n = TxnTable(self.spark, self.fps_path).stream_epoch_append(
            fps, app_id, epoch_id
        )
        self._df_view.refresh()
        return n

    def admit_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        threshold_milli: int = 800,
        app_id: str = "fpindex-admit",
        text_col: str = "text",
    ) -> DataFrame:
        """ONLINE dedup admission — the ``foreachBatch`` body of a
        deduplicating ingest stream: probe the batch against the current
        index, admit ONLY the surviving (``kept``) documents' fingerprints,
        and return the verdict frame so the caller can route kept rows to
        the corpus sink and dropped rows to a reject log. Near-dups of
        anything already admitted — including docs admitted by an EARLIER
        micro-batch — are rejected; duplicates WITHIN a batch survive
        together (batch-vs-corpus, not batch-vs-self: compose with
        ``fingerprint_containment_pairs`` upstream for intra-batch dedup).

        Exactly-once AND replay-stable: the kept-fingerprint append is
        epoch-keyed (replays append nothing and the DF-view refresh
        no-ops), and the probe excludes corpus fingerprints carrying the
        batch's OWN doc ids — on a failure-recovery replay the index
        already holds the first attempt's kept fingerprints under the same
        ids, and without the exclusion every previously-kept doc would
        score 100% contained in itself and flip to dropped, so a caller
        routing kept rows to the corpus sink would lose those docs on
        recovery. Contract: doc ids are unique across the stream (a
        re-sent id is the same document, never a self-duplicate)."""
        # Fingerprint the batch ONCE and share the materialized set
        # between the probe and the kept append (the r13 form paid a
        # full-batch pass in the probe plus a kept-subset pass inside the
        # append's write job; fingerprinting is deterministic per doc, so
        # the filtered set is row-identical — r14).
        fps_b = winnowing_fingerprint_set(
            docs, self.k, self.w, text_col, self.id_col
        ).localCheckpoint()
        verdict = self.probe(
            docs,
            threshold_milli=threshold_milli,
            text_col=text_col,
            exclude_self_ids=True,
            _fps_b=fps_b,
        ).localCheckpoint()
        # one small collect of the checkpointed verdict's kept ids, then a
        # map-only filtered write (a semi-join against the verdict plans 4
        # jobs)
        kept = [
            r[0]
            for r in verdict.filter(F.col("kept")).select(self.id_col).collect()
        ]
        TxnTable(self.spark, self.fps_path).stream_epoch_append(
            fps_b.filter(isin_ids(self.id_col, kept)), app_id, epoch_id
        )
        self._df_view.refresh()
        return verdict

    def maintain(self, max_files: int = 64) -> int | None:
        """Compact the fps table once its snapshot exceeds ``max_files``
        files (an ingest loop calls this per admitted batch for amortized
        O(snapshot/max_files) rewrite cost — every ``add`` writes at least
        one file, and thousands of tiny fingerprint files slow every
        probe's scan). Compaction is ROW-PRESERVING, so the DF view's next
        refresh skips it and keeps folding appends incrementally
        (``append_delta_files(skip_row_preserving=True)``) instead of
        recomputing gram frequencies from the whole index; the refresh
        here only advances the view's watermark over the compact commit,
        metadata-only. Cost: one map-only rewrite job when compacting, zero
        jobs otherwise. Returns the compacted snapshot's file count, or
        None if under the threshold."""
        n = TxnTable(self.spark, self.fps_path).maybe_compact(
            max_files=max_files
        )
        if n is not None:
            self._df_view.refresh()
        return n

    # ---------------------------------------------------------------- reads

    def fingerprints(self) -> DataFrame:
        """The corpus fingerprint set ``(id, h)`` at the current version."""
        return TxnTable(self.spark, self.fps_path).read()

    def stop_grams(self) -> DataFrame:
        """Gram hashes selected by more than ``max_df`` corpus documents —
        read from the incrementally-maintained DF view (no corpus scan).
        Small by construction (bounded by |grams| / max_df), so consumers
        broadcast it."""
        self._require_fresh_df()
        return self._df_view.read().filter(F.col("df") > self.max_df).select("h")

    def refresh(self) -> None:
        """Fold any fps-table commits the DF view hasn't seen (O(delta),
        metadata-only across compactions, no-op when already fresh).
        add()/admit_stream_batch()/maintain() commit fingerprints and the
        view refresh as two separate txns; a crash between them leaves the
        view stale, and this is the public repair entry point — also called
        automatically by ``_require_fresh_df``, so the next probe()/
        stop_grams() repairs the index instead of raising forever."""
        self._df_view.refresh()

    def _require_fresh_df(self) -> None:
        # The probe's stop-gram list must reflect every committed
        # fingerprint or the pruned universes drift between batches. A
        # stale view is an interrupted maintenance step, not an invariant
        # violation: fold the pending delta now.
        applied = self._df_view.applied_source_version()
        current = TxnTable(self.spark, self.fps_path).version()
        if applied < current:
            self.refresh()

    # ---------------------------------------------------------------- probe

    def probe(
        self,
        batch: DataFrame,
        threshold_milli: int = 800,
        text_col: str = "text",
        broadcast_batch: bool = True,
        exclude_self_ids: bool = False,
        _fps_b: DataFrame | None = None,
    ) -> DataFrame:
        """Score every batch document against the stored corpus: one row
        per batch doc — (id, n_fp, n_dup_of, kept), identical to
        ``incremental_containment_filter`` against the same corpus (shared
        ``containment_verdict`` tail; pinned by test).

        Scale shape: the batch fingerprint set is BROADCAST (a batch is
        small next to a 100 TB corpus), so the probe join streams over the
        index scan map-side — the only shuffle moves matched (batch doc,
        corpus doc) pairs, never the index. The stop-gram list comes from
        the maintained DF view (a broadcast anti-join on the batch side
        only). Set ``broadcast_batch=False`` for a backfill-sized batch;
        the planner then picks the join strategies. ``exclude_self_ids``
        drops corpus fingerprints whose id appears in the batch itself
        before scoring (a broadcast anti-join on the small batch-id set) —
        the replay-stability guard ``admit_stream_batch`` relies on.

        Cost, in Spark jobs, with broadcast on and ``_fps_b`` supplied:
        the stop-gram, batch-fingerprint and (with ``exclude_self_ids``)
        batch-id broadcasts, then ``containment_verdict``'s one shuffle-map
        job, its verdict broadcast and the action's own job — 6."""
        stop = F.broadcast(self.stop_grams())
        # ``_fps_b``: already-materialized batch fingerprints supplied by
        # admit_stream_batch (fingerprinted once, shared with the kept
        # append); only the standalone path pays its own checkpoint.
        fps_b = (
            winnowing_fingerprint_set(
                batch, self.k, self.w, text_col, self.id_col
            )
            if _fps_b is None
            else _fps_b
        )
        pruned_b = fps_b.join(stop, "h", "left_anti")
        if _fps_b is None:
            pruned_b = pruned_b.localCheckpoint()
        # No stop-gram anti-join on the corpus side: pruned_b holds no stop
        # gram, so the equi-join on h inside the verdict can never match one.
        corpus = self.fingerprints()
        if exclude_self_ids:
            corpus = corpus.join(
                F.broadcast(batch.select(self.id_col)), self.id_col, "left_anti"
            )
        return containment_verdict(
            batch.select(self.id_col),
            pruned_b,
            corpus,
            threshold_milli,
            self.id_col,
            broadcast_batch=broadcast_batch,
        )
