"""The lifecycle both persisted near-dup indexes share.

An ongoing ingest pipeline must NOT re-sign its 100 TB corpus on every
arriving batch. A persisted index stores the corpus signature rows
``(id, *group)`` in a transactional table (``sources/txn.py``) and keeps
per-group row counts as an incrementally-refreshed aggregate view
(``sources/mv.py``). Groups counted above a cutoff form the pruning list
the probe drops from the batch side, so admitting a new batch costs the
batch, not the corpus (see ``PersistedIndex``).

This is the at-scale, content-level generalization of the reference's
per-run "skip already-scraped job ids" anti-join
(``airflow/dags/scrape_url.py``, there by exact key). A subclass names
its storage and parameters and supplies ``sign`` and ``_score``:
``operators/fpindex.py`` (winnowing fingerprints, containment verdicts)
and ``operators/lshindex.py`` (LSH band keys, bucket-collision verdicts).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.similarity import isin_ids
from scraping_jobsdb_spark.sources.mv import IncrementalAggView
from scraping_jobsdb_spark.sources.txn import TxnTable

__all__ = ["PersistedIndex"]


class PersistedIndex:
    """An index at ``path``: a ``TxnTable`` of signature rows under
    ``path/<_DATA_DIR>`` plus an ``IncrementalAggView`` counting them per
    ``_GROUP`` under ``path/<_VIEW_DIR>``. Parameters ride the data
    table's v1 manifest as ``<_PREFIX><name>``.

    Admitting a batch costs

      sign(batch)                                — map-only over the batch
      + one broadcast probe join into the index  — zero corpus-sized shuffles
      + append(batch signatures) + O(delta + view) count refresh

    independent of corpus size. In Spark jobs, one ``admit_stream_batch``
    runs 11 — sign 1 (checkpointed once), probe 6 (see ``probe``), kept-id
    collect 1, map-only kept append 1, view fold 2 — and a compacting
    ``maintain`` 1 more: the row-preserving compaction is one map-only
    rewrite, and the view's watermark then moves in a metadata-only
    commit. Each job costs a fixed driver round trip, so at batch sizes of
    a few hundred documents the job count, not the data, sets the batch
    latency."""

    _KIND: str  # for error messages
    _DATA_DIR: str
    _VIEW_DIR: str
    _PREFIX: str
    # parameter name -> type, in manifest order. Every writer and every
    # probe must agree on them or signatures stop being comparable.
    _PARAMS: dict[str, type]
    _CUTOFF: str  # the parameter a group's count must exceed to be pruned
    _GROUP: list[str]
    _MEASURE: str
    # default app ids of add_stream_batch / admit_stream_batch: epoch keys
    # in the data table's log, so replay recognition depends on them
    _ADD_APP_ID: str
    _ADMIT_APP_ID: str

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_path = os.path.join(path, self._DATA_DIR)
        m = TxnTable(spark, self.data_path)._manifest(1)
        missing = [self._PREFIX + p for p in self._PARAMS if self._PREFIX + p not in m]
        if missing:
            raise ValueError(
                f"{self.data_path}: not {self._KIND} (v1 manifest lacks {missing})"
            )
        for p, typ in self._PARAMS.items():
            setattr(self, p, typ(m[self._PREFIX + p]))
        self._view = IncrementalAggView(
            spark,
            self.data_path,
            os.path.join(path, self._VIEW_DIR),
            group_cols=list(self._GROUP),
            measures={self._MEASURE: ("count", None)},
        )

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        return TxnTable.exists(spark, os.path.join(path, cls._DATA_DIR))

    @classmethod
    def _persist(
        cls, spark: SparkSession, path: str, signed: DataFrame, **params
    ) -> "PersistedIndex":
        """Commit the corpus signatures ``signed`` with ``params`` in the
        v1 manifest, then build the view: ``create``'s shared tail."""
        TxnTable.create(
            spark,
            os.path.join(path, cls._DATA_DIR),
            signed,
            meta={cls._PREFIX + p: cls._PARAMS[p](v) for p, v in params.items()},
        )
        idx = cls(spark, path)
        idx._view.refresh()
        return idx

    def add(
        self,
        docs: DataFrame,
        text_col: str = "text",
        _signed: DataFrame | None = None,
    ) -> int:
        """Admit ``docs`` into the corpus: append their signatures
        (transactional — all-or-nothing visibility) and fold the append
        delta into the view. Cost: sign(docs) + O(|delta| + |distinct
        groups|) — never a corpus rescan. Returns the new data-table
        version. ``_signed``: an already-materialized ``sign(docs)`` frame
        (e.g. shared with a preceding ``probe`` of the same batch) — skips
        the signing map pass; the caller owns the row-identity."""
        signed = self.sign(docs, text_col) if _signed is None else _signed
        t = TxnTable(self.spark, self.data_path)
        t.append(signed)
        self._view.refresh()
        return t.version()

    def add_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str | None = None,
        text_col: str = "text",
    ) -> int:
        """The ``foreachBatch`` body that maintains the index from a
        stream: an epoch-idempotent ``add`` (exactly-once under
        failure-recovery replays — a batch whose (app_id, epoch) is
        already in the data table's log appends nothing, and the view
        refresh then no-ops on the unchanged version). Returns signature
        rows appended (0 for a recognized replay). Streaming-equals-batch:
        N micro-batches through this path leave the index byte-identical
        to one ``add`` of their union (pinned by test)."""
        n = TxnTable(self.spark, self.data_path).stream_epoch_append(
            self.sign(docs, text_col), app_id or self._ADD_APP_ID, epoch_id
        )
        self._view.refresh()
        return n

    def admit_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str | None = None,
        text_col: str = "text",
        _signed: DataFrame | None = None,
        **score,
    ) -> DataFrame:
        """ONLINE near-dup admission — the ``foreachBatch`` body of a
        deduplicating ingest stream: probe the batch against the current
        index, admit ONLY the surviving (``kept``) documents' signatures,
        and return the verdict frame so the caller can route kept rows to
        the corpus sink and dropped rows to a reject log. Near-dups of
        anything already admitted — including docs admitted by an EARLIER
        micro-batch — are rejected; near-dups WITHIN a batch survive
        together (batch-vs-corpus, not batch-vs-self: compose an
        intra-batch pairing upstream). ``score`` goes to the subclass's
        verdict (``threshold_milli`` for the fingerprint index).

        Exactly-once AND replay-stable: the kept-signature append is
        epoch-keyed (replays append nothing and the view refresh no-ops),
        and the probe excludes corpus signatures carrying the batch's OWN
        doc ids — on a failure-recovery replay the index already holds the
        first attempt's kept signatures under the same ids, and without
        the exclusion every previously-kept doc would match itself and
        flip to dropped, so a caller routing kept rows to the corpus sink
        would lose those docs on recovery. For the same reason a replay's
        pruning list does not count those stored rows. Contract: doc ids
        are unique across the stream (a re-sent id is the same document,
        never a self-duplicate).

        ``_signed`` lets a caller that ALREADY holds a materialized
        signature frame for exactly ``docs`` (e.g. an upstream intra-batch
        dedup stage that signed the same batch with the index's own
        parameters) hand it in, removing the signing map pass; the caller
        owns that equality (deterministic per-doc signing makes a filtered
        superset frame valid)."""
        app_id = app_id or self._ADMIT_APP_ID
        data = TxnTable(self.spark, self.data_path)
        replay = data.committed_epoch(app_id) >= epoch_id
        # Sign the batch ONCE and share the materialized signatures between
        # the probe and the kept append: signing is deterministic per doc,
        # so sign(batch) filtered to kept ids is row-identical to
        # sign(kept docs).
        signed = (
            self.sign(docs, text_col).localCheckpoint()
            if _signed is None
            else _signed
        )
        verdict = self._probe(
            docs,
            self._pruning_list(docs if replay else None),
            text_col,
            broadcast_batch=True,
            exclude_self_ids=True,
            signed=signed,
            **score,
        ).localCheckpoint()
        # The checkpointed verdict holds one row per batch doc: collecting
        # its kept ids is one small job, and the append then writes the
        # signatures through a map-only filter (a semi-join against the
        # verdict plans 4 jobs).
        kept = [
            r[0]
            for r in verdict.filter(F.col("kept")).select(self.id_col).collect()
        ]
        data.stream_epoch_append(
            signed.filter(isin_ids(self.id_col, kept)), app_id, epoch_id
        )
        self._view.refresh()
        return verdict

    def maintain(self, max_files: int = 64) -> int | None:
        """Compact the data table once its snapshot exceeds ``max_files``
        files (an ingest loop calls this per admitted batch for amortized
        O(snapshot/max_files) rewrite cost — every ``add`` writes at least
        one file, and thousands of tiny files slow every probe's scan).
        Compaction is ROW-PRESERVING, so the view's next refresh skips it
        and keeps folding appends incrementally
        (``append_delta_files(skip_row_preserving=True)``) instead of
        recounting from the whole index; the refresh here only advances
        the view's watermark over the compact commit, metadata-only. Cost:
        one map-only rewrite job when compacting, zero jobs otherwise.
        Returns the compacted snapshot's file count, or None if under the
        threshold."""
        n = TxnTable(self.spark, self.data_path).maybe_compact(
            max_files=max_files
        )
        if n is not None:
            self._view.refresh()
        return n

    # ---------------------------------------------------------------- reads

    def signatures(self) -> DataFrame:
        """The corpus signature rows at the current version."""
        return TxnTable(self.spark, self.data_path).read()

    def pruning_list(self) -> DataFrame:
        """The ``_GROUP`` keys held by more than the cutoff's corpus rows —
        read from the incrementally-maintained view (no corpus scan). These
        are degenerate keys (boilerplate, stop grams) whose quadratic
        candidate expansion the probe must not pay. Small by construction
        (bounded by |signatures| / cutoff), so consumers broadcast it."""
        return self._pruning_list(None)

    def _pruning_list(self, replayed: DataFrame | None) -> DataFrame:
        # ``replayed``: a batch whose rows the index already stores (an
        # admission replay); its own rows are not counted, so the replay
        # prunes exactly as the first attempt did. Costs a corpus scan,
        # paid on replays only.
        # The pruning list must reflect every committed signature or the
        # pruned universes drift between batches. A stale view is an
        # interrupted maintenance step, not an invariant violation: fold
        # the pending delta now.
        if self._view.applied_source_version() < TxnTable(
            self.spark, self.data_path
        ).version():
            self.refresh()
        counts = self._view.read()
        m = self._MEASURE
        if replayed is not None:
            own = (
                self.signatures()
                .join(F.broadcast(replayed.select(self.id_col)), self.id_col, "left_semi")
                .groupBy(*self._GROUP)
                .agg(F.count(F.lit(1)).alias("__own"))
            )
            counts = counts.join(own, self._GROUP, "left").select(
                *self._GROUP, (F.col(m) - F.coalesce("__own", F.lit(0))).alias(m)
            )
        cutoff = getattr(self, self._CUTOFF)
        return counts.filter(F.col(m) > cutoff).select(*self._GROUP)

    def refresh(self) -> None:
        """Fold any data-table commits the view hasn't seen (O(delta),
        metadata-only across compactions, no-op when already fresh).
        add()/add_stream_batch()/admit_stream_batch()/maintain() commit
        signatures and the view refresh as two separate txns; a crash
        between them leaves the view stale, and this is the public repair
        entry point — also called automatically by the pruning-list read,
        so the next probe()/pruning_list() repairs the index instead of
        raising forever."""
        self._view.refresh()

    # ---------------------------------------------------------------- probe

    def probe(
        self,
        batch: DataFrame,
        text_col: str = "text",
        broadcast_batch: bool = True,
        exclude_self_ids: bool = False,
        _signed: DataFrame | None = None,
        **score,
    ) -> DataFrame:
        """Score every batch document against the stored corpus: one
        verdict row per batch doc, ending in ``kept`` (the subclass's
        ``_score`` gives the columns; ``score`` goes to it).

        Scale shape: the batch signature set is BROADCAST (a batch is small
        next to a 100 TB corpus), so the probe join streams over the index
        scan map-side — the only shuffle moves matched (batch doc, corpus
        doc) pairs, never the index. The pruning list comes from the
        maintained view (a broadcast anti-join on the batch side only). Set
        ``broadcast_batch=False`` for a backfill-sized batch; the planner
        then picks the join strategies. ``exclude_self_ids`` drops corpus
        signatures whose id appears in the batch itself before scoring (a
        broadcast anti-join on the small batch-id set) — the
        replay-stability guard ``admit_stream_batch`` relies on.

        Cost, in Spark jobs, with broadcast on and ``_signed`` supplied:
        the pruning-list, batch-signature and (with ``exclude_self_ids``)
        batch-id broadcasts, then the verdict's one shuffle-map job, its
        broadcast and the action's own job — 6."""
        return self._probe(
            batch,
            self.pruning_list(),
            text_col,
            broadcast_batch=broadcast_batch,
            exclude_self_ids=exclude_self_ids,
            signed=_signed,
            **score,
        )

    def _probe(
        self,
        batch: DataFrame,
        pruning: DataFrame,
        text_col: str,
        broadcast_batch: bool,
        exclude_self_ids: bool,
        signed: DataFrame | None,
        **score,
    ) -> DataFrame:
        # ``signed``: already-materialized batch signatures (signed once,
        # shared with the kept append); the anti-join over a checkpointed
        # frame is cheap, so only the standalone path pays its own
        # materialization.
        pruned = (
            self.sign(batch, text_col) if signed is None else signed
        ).join(F.broadcast(pruning), self._GROUP, "left_anti")
        if signed is None:
            pruned = pruned.localCheckpoint()
        # No anti-join on the corpus side: ``pruned`` holds no pruned key,
        # so the equi-join on the group columns can never match one.
        corpus = self.signatures()
        if exclude_self_ids:
            corpus = corpus.join(
                F.broadcast(batch.select(self.id_col)), self.id_col, "left_anti"
            )
        return self._score(
            batch.select(self.id_col), pruned, corpus, broadcast_batch, **score
        )

    # ------------------------------------------------------ subclass hooks

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """``docs``' signature rows under THIS index's pinned parameters —
        the exact frame every write/probe path derives internally. Public
        so a caller composing probe-then-add over the same batch can
        materialize the signing ONCE (``localCheckpoint``) and hand it to
        both via ``_signed`` (signing is deterministic per doc, so the
        shared frame is row-identical to each path's own derivation)."""
        raise NotImplementedError

    def _score(
        self,
        ids: DataFrame,
        pruned: DataFrame,
        corpus: DataFrame,
        broadcast_batch: bool,
    ) -> DataFrame:
        """The verdict per batch id, from the batch's pruned signatures and
        the corpus signatures it may match."""
        raise NotImplementedError
