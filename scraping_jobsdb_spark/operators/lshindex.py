"""Persisted MinHash-LSH signature index for incremental near-dup dedup.

The near-dup analog of ``operators/fpindex.py FingerprintIndex`` (VERDICT
r10 item 4): an ongoing ingest pipeline must NOT re-sign its 100 TB corpus
on every arriving batch, yet before this module only the winnowing
containment family had an incremental admission path — the MinHash LSH
family re-derived every corpus signature per run. This module stores the
corpus band signatures ``(doc_id, band, key)`` in a transactional table
and maintains the per-bucket size ``(band, key) -> n_docs`` as an
incrementally-refreshed aggregate view (the hot-bucket guard — the LSH
analog of the fingerprint index's stop-gram view), so admitting a new
batch costs

  sign(batch)                                — map-only over the batch
  + one broadcast probe join into the index  — zero corpus-sized shuffles
  + append(batch sigs) + O(delta + view) bucket-size refresh

independent of corpus size. In Spark jobs, one ``admit_stream_batch``
runs 11 — sign 1 (checkpointed once), probe 6 (see ``probe``), kept-id
collect 1, map-only kept append 1, bucket-size fold 2 — and a compacting
``maintain`` 1 more: the row-preserving compaction is one map-only
rewrite, and the view's watermark then moves in a metadata-only commit.
Each job costs a fixed driver round trip, so at batch sizes of a few
hundred documents the job count, not the data, sets the batch latency.

Composition of the engine's txn layer (``sources/txn.py``), incremental
MV layer (``sources/mv.py``), and the MinHash LSH family
(``operators/similarity.py``) — the signature-level, at-scale
generalization of the reference's per-run "skip already-scraped job ids"
anti-join (``airflow/dags/scrape_url.py``, there by exact key).

Three hash families share the storage layout, selected at ``create``
time and pinned in the manifest:

- ``md5-portable`` (default): ``minhash_band_keys_portable``'s
  hash-once-per-block md5 windows — any engine re-derives the keys
  bit-for-bit, so probes stay fully value-hash oracle-able (the
  registered ``incremental_minhash_indexed_dedup`` form).
- ``xxhash64``: integer re-hash permutations (4 md5 digests per shingle
  cheaper) — the 100 TB hot path; Spark-internal seeds, so rows-only
  checkable, covered by the equivalence property tests instead.
- ``simhash-portable``: 60-bit md5-token-hash SimHash fingerprints,
  band = 15-bit chunk (``simhash_band_keys_portable``) — Hamming-space
  admission under the same index mechanics, fully oracle-able (the
  registered ``incremental_simhash_indexed_dedup`` form).

Determinism contract: probing the index is bit-identical to banding the
batch against the signatures the index currently holds — both paths share
``minhash_band_keys_portable`` and integer/string-exact comparisons, so
the probe (and the whole add→probe lifecycle) hashes identically across
engines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.similarity import (
    _xxhash_signatures,
    isin_ids,
    minhash_band_keys_portable,
    simhash_fp_frame,
)
from scraping_jobsdb_spark.sources.mv import IncrementalAggView
from scraping_jobsdb_spark.sources.txn import TxnTable

__all__ = [
    "LshSignatureIndex",
    "minhash_band_keys_fast",
    "simhash_band_keys_portable",
]

# v1-manifest keys for the index parameters: every writer and every probe
# must agree on (k, bands, shingle_n, hasher) or band keys stop being
# comparable across commits.
_META_KEYS = (
    "lsh_k",
    "lsh_bands",
    "lsh_shingle_n",
    "lsh_max_bucket",
    "lsh_hasher",
    "lsh_id_col",
)

_HASHERS = ("md5-portable", "xxhash64", "simhash-portable")


def simhash_band_keys_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """Per-document SimHash band keys ``(id, band, key)`` with
    ENGINE-PORTABLE 60-bit md5 token hashes — the fingerprint stage of
    ``simhash_candidate_pairs_portable`` re-shaped to the index storage
    layout: band = chunk position (MSB-first, matching the oracle's
    ``3 - b//15`` numbering), key = the chunk's 15-bit value as a string
    (shared schema with the MinHash hashers). Two docs within Hamming
    distance ``bands - 1`` share ≥ 1 band by pigeonhole. Map-only, no
    shuffle."""
    if bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    # one F.expr SQL string instead of the Column-DSL transform lambda —
    # same expressions, a fraction of the py4j plan-construction cost
    # (see minhash_band_keys_portable)
    toks = f"array_distinct(split(trim(`{text_col}`), '\\\\s+'))"
    fp_frame = simhash_fp_frame(
        df,
        id_col,
        F.expr(
            f"transform({toks}, t -> cast(conv(substring(md5(t), 1, 15), "
            f"16, 10) as bigint))"
        ),
        bits=bits,
        chunk_bits=bits // bands,
    )
    return fp_frame.select(
        F.col("doc").alias(id_col),
        F.posexplode("fp").alias("band", "__key_i"),
    ).select(
        id_col, "band", F.col("__key_i").cast("string").alias("key")
    )


def minhash_band_keys_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document LSH band keys ``(id, band, key)`` with the xxhash64
    permutation family — the signature stage of
    ``minhash_candidate_pairs`` re-shaped to the index storage layout
    (``key`` is the band's row minima comma-joined, same as the portable
    form, so the two hashers share schema and probe code). Map-only, no
    shuffle. Spark-internal seeds: candidate sets from this form are
    checkable rows-only; use the portable form where cross-engine
    reproducibility is the requirement."""
    if k % bands:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    rows = k // bands
    bks = ", ".join(
        f"struct({b} as band, concat_ws(',', "
        + ", ".join(f"__sig[{b * rows + r}]" for r in range(rows))
        + ") as key)"
        for b in range(bands)
    )
    return _xxhash_signatures(df, id_col, text_col, k, shingle_n).select(
        F.col("doc").alias(id_col), F.expr(f"inline(array({bks}))")
    )


class LshSignatureIndex:
    """A corpus LSH signature index at ``path``: a ``TxnTable`` of
    ``(id, band, key)`` MinHash band signatures under ``path/sigs`` plus
    an ``IncrementalAggView`` of per-bucket document counts under
    ``path/bs``. Parameters ride the sigs table's v1 manifest."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.sigs_path = os.path.join(path, "sigs")
        self.bs_path = os.path.join(path, "bs")
        m = TxnTable(spark, self.sigs_path)._manifest(1)
        missing = [k for k in _META_KEYS if k not in m]
        if missing:
            raise ValueError(
                f"{self.sigs_path}: not an LSH signature index (v1 "
                f"manifest lacks {missing})"
            )
        self.k = int(m["lsh_k"])
        self.bands = int(m["lsh_bands"])
        self.shingle_n = int(m["lsh_shingle_n"])
        self.max_bucket = int(m["lsh_max_bucket"])
        self.hasher = str(m["lsh_hasher"])
        self.id_col = str(m["lsh_id_col"])
        self._bs_view = IncrementalAggView(
            spark,
            self.sigs_path,
            self.bs_path,
            group_cols=["band", "key"],
            measures={"n_docs": ("count", None)},
        )

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        return TxnTable.exists(spark, os.path.join(path, "sigs"))

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        *,
        k: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
        max_bucket: int = 64,
        hasher: str = "md5-portable",
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "LshSignatureIndex":
        """Sign ``corpus`` once (map-only — see
        ``minhash_band_keys_portable``) and persist the index. One pass
        over the corpus, ever; every later batch pays only its own size."""
        if hasher not in _HASHERS:
            raise ValueError(f"hasher must be one of {_HASHERS}, got {hasher!r}")
        sigs = _band_keys(
            corpus, hasher, id_col, text_col, k, bands, shingle_n
        )
        TxnTable.create(
            spark,
            os.path.join(path, "sigs"),
            sigs,
            meta={
                "lsh_k": int(k),
                "lsh_bands": int(bands),
                "lsh_shingle_n": int(shingle_n),
                "lsh_max_bucket": int(max_bucket),
                "lsh_hasher": str(hasher),
                "lsh_id_col": str(id_col),
            },
        )
        idx = cls(spark, path)
        idx._bs_view.refresh()
        return idx

    # ------------------------------------------------------------- maintain

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        """``docs``' band signatures ``(id, band, key)`` under THIS
        index's pinned (k, bands, shingle_n, hasher) parameters — the
        exact frame every write/probe path derives internally. Public so
        a caller composing probe-then-add over the same batch can
        materialize the signing ONCE (``localCheckpoint``) and hand it to
        both via ``_sig_b``/``_sigs`` (signing is deterministic per doc,
        so the shared frame is row-identical to each path's own
        derivation)."""
        return self._sign(docs, text_col)

    def add(
        self,
        docs: DataFrame,
        text_col: str = "text",
        _sigs: DataFrame | None = None,
    ) -> int:
        """Admit ``docs`` into the corpus: append their band signatures
        (transactional — all-or-nothing visibility) and fold the append
        delta into the bucket-size view. Cost: sign(docs) +
        O(|delta| + |distinct buckets|) — never a corpus rescan. Returns
        the new sigs-table version. ``_sigs``: an already-materialized
        ``sign(docs)`` frame (e.g. shared with a preceding ``probe`` of
        the same batch) — skips the signing map pass; the caller owns the
        row-identity."""
        sigs = self._sign(docs, text_col) if _sigs is None else _sigs
        t = TxnTable(self.spark, self.sigs_path)
        t.append(sigs)
        self._bs_view.refresh()
        return t.version()

    def add_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str = "lshindex",
        text_col: str = "text",
    ) -> int:
        """The ``foreachBatch`` body that maintains the index from a
        stream: an epoch-idempotent ``add`` (exactly-once under
        failure-recovery replays — a batch whose (app_id, epoch) is
        already in the sigs table's log appends nothing, and the
        bucket-size refresh then no-ops on the unchanged version).
        Returns signature rows appended (0 for a recognized replay).
        Streaming-equals-batch: N micro-batches through this path leave
        the index byte-identical to one ``add`` of their union (pinned
        by test)."""
        sigs = self._sign(docs, text_col)
        n = TxnTable(self.spark, self.sigs_path).stream_epoch_append(
            sigs, app_id, epoch_id
        )
        self._bs_view.refresh()
        return n

    def admit_stream_batch(
        self,
        docs: DataFrame,
        epoch_id: int,
        app_id: str = "lshindex-admit",
        text_col: str = "text",
        _sig_b: DataFrame | None = None,
    ) -> DataFrame:
        """ONLINE near-dup admission — the ``foreachBatch`` body of a
        deduplicating ingest stream: probe the batch against the current
        index, admit ONLY the surviving (``kept``) documents' signatures,
        and return the verdict frame so the caller can route kept rows to
        the corpus sink and dropped rows to a reject log. LSH collisions
        with anything already admitted — including docs admitted by an
        EARLIER micro-batch — are rejected; collisions WITHIN a batch
        survive together (batch-vs-corpus, not batch-vs-self: compose
        with ``minhash_candidate_pairs_portable`` upstream for
        intra-batch dedup).

        Exactly-once AND replay-stable: the kept-signature append is
        epoch-keyed (replays append nothing and the bucket-size refresh
        no-ops), and the probe excludes corpus signatures carrying the
        batch's OWN doc ids — on a failure-recovery replay the index
        already holds the first attempt's kept signatures under the same
        ids, and without the exclusion every previously-kept doc would
        collide with itself in every band and flip to dropped, so a
        caller routing kept rows to the corpus sink would lose those docs
        on recovery. Contract: doc ids are unique across the stream (a
        re-sent id is the same document, never a self-duplicate)."""
        # Sign the batch ONCE and share the materialized signatures
        # between the probe and the kept-signature append (the r13 form
        # signed twice: the probe's full-batch pass plus a second
        # kept-subset pass inside the append's write job — signing is
        # deterministic per doc, so sign(batch) filtered to kept ids is
        # row-identical to sign(kept_docs), r14). ``_sig_b`` lets a
        # caller that ALREADY holds a materialized signature frame for
        # exactly ``docs`` (row-identical to ``self._sign(docs,
        # text_col)`` — e.g. an upstream intra-batch dedup stage that
        # signed the same batch with the index's own parameters) hand it
        # in, removing the whole signing map pass; the caller owns that
        # equality (deterministic per-doc signing makes a filtered
        # superset frame valid).
        sig_b = (
            self._sign(docs, text_col).localCheckpoint()
            if _sig_b is None
            else _sig_b
        )
        verdict = self.probe(
            docs, text_col=text_col, exclude_self_ids=True, _sig_b=sig_b
        ).localCheckpoint()
        # The checkpointed verdict holds one row per batch doc: collecting
        # its kept ids is one small job, and the append then writes sig_b
        # through a map-only filter (a semi-join against the verdict plans
        # 4 jobs).
        kept = [
            r[0]
            for r in verdict.filter(F.col("kept")).select(self.id_col).collect()
        ]
        TxnTable(self.spark, self.sigs_path).stream_epoch_append(
            sig_b.filter(isin_ids(self.id_col, kept)), app_id, epoch_id
        )
        self._bs_view.refresh()
        return verdict

    def maintain(self, max_files: int = 64) -> int | None:
        """Compact the sigs table once its snapshot exceeds ``max_files``
        files (an ingest loop calls this per admitted batch for amortized
        O(snapshot/max_files) rewrite cost). Compaction is ROW-PRESERVING,
        so the bucket-size view's next refresh skips it and keeps folding
        appends incrementally instead of recounting buckets from the
        whole index; the refresh here only advances the view's watermark
        over the compact commit, metadata-only. Cost: one map-only rewrite
        job when compacting, zero jobs otherwise. Returns the compacted
        snapshot's file count, or None if under the threshold."""
        n = TxnTable(self.spark, self.sigs_path).maybe_compact(
            max_files=max_files
        )
        if n is not None:
            self._bs_view.refresh()
        return n

    # ---------------------------------------------------------------- reads

    def signatures(self) -> DataFrame:
        """The corpus band-signature set ``(id, band, key)`` at the
        current version."""
        return TxnTable(self.spark, self.sigs_path).read()

    def hot_buckets(self) -> DataFrame:
        """Buckets holding more than ``max_bucket`` corpus documents —
        read from the incrementally-maintained bucket-size view (no
        corpus scan). These are degenerate keys (boilerplate, empty-text
        signatures) whose quadratic candidate expansion the probe must
        not pay; the self-contained pairing drops them identically
        (``minhash_candidate_pairs_portable`` ``max_bucket``). Small by
        construction (bounded by |sigs| / max_bucket), so consumers
        broadcast it."""
        self._require_fresh_bs()
        return (
            self._bs_view.read()
            .filter(F.col("n_docs") > self.max_bucket)
            .select("band", "key")
        )

    def refresh(self) -> None:
        """Fold any sigs-table commits the bucket-size view hasn't seen
        (O(delta), no-op when already fresh). add()/add_stream_batch()
        commit signatures and the view refresh as two separate txns; a
        crash between them leaves the view stale, and this is the public
        repair entry point — also called automatically by
        ``_require_fresh_bs`` so a wedged index self-heals on the next
        probe()/hot_buckets() instead of raising forever."""
        self._bs_view.refresh()

    def _require_fresh_bs(self) -> None:
        # The probe's hot-bucket list must reflect every committed
        # signature or the pruned universes drift between batches. A
        # stale view is not an invariant violation, just an interrupted
        # maintenance step (crash between the sigs append and the view
        # refresh) — repair it by folding the pending delta now.
        applied = self._bs_view.applied_source_version()
        current = TxnTable(self.spark, self.sigs_path).version()
        if applied < current:
            self.refresh()

    # ---------------------------------------------------------------- probe

    def probe(
        self,
        batch: DataFrame,
        text_col: str = "text",
        broadcast_batch: bool = True,
        exclude_self_ids: bool = False,
        _sig_b: DataFrame | None = None,
    ) -> DataFrame:
        """Score every batch document against the stored corpus: one row
        per batch doc — ``(id, n_bands_hit, n_cand, kept)`` where
        ``n_cand`` counts distinct stored documents sharing ≥1 non-hot
        band bucket with the doc, ``n_bands_hit`` counts the doc's bands
        that collided at all, and ``kept`` = no collision. Candidate
        semantics, deliberately: LSH asserts similarity only
        probabilistically, so a pipeline needing verified near-dups joins
        the dropped docs' candidates back to the corpus store for an
        exact check (``ngram_jaccard``) — the index's job is to make that
        candidate set batch-sized instead of corpus-sized.

        Scale shape: the batch signature set is BROADCAST (a batch is
        small next to a 100 TB corpus), so the probe join streams over
        the index scan map-side — the only shuffle moves matched (batch
        doc, corpus doc) pairs, never the index. The hot-bucket list
        comes from the maintained bucket-size view (a broadcast anti-join
        on the batch side only). The per-doc hit counts are batch-sized
        and broadcast into the final join, so the batch ids never
        shuffle. Set ``broadcast_batch=False`` for a backfill-sized
        batch; the planner then picks both join strategies.
        ``exclude_self_ids`` drops corpus signatures whose id appears in
        the batch itself before scoring — the replay-stability guard
        ``admit_stream_batch`` relies on.

        Cost, in Spark jobs, with broadcast on and ``_sig_b`` supplied:
        the hot-bucket, batch-signature and (with ``exclude_self_ids``)
        batch-id broadcasts, one shuffle-map job for the hit counts, their
        broadcast, and the action's own job — 6."""
        hot = F.broadcast(self.hot_buckets())
        # ``_sig_b``: already-materialized batch signatures supplied by
        # admit_stream_batch (signed once, shared with the kept append);
        # the hot anti-join over a checkpointed frame is cheap, so only
        # the standalone path pays its own materialization.
        sig_b = self._sign(batch, text_col) if _sig_b is None else _sig_b
        pruned_b = sig_b.join(hot, ["band", "key"], "left_anti").select(
            F.col(self.id_col).alias("__bid"), "band", "key"
        )
        if _sig_b is None:
            pruned_b = pruned_b.localCheckpoint()
        if broadcast_batch:
            pruned_b = F.broadcast(pruned_b)
        # No hot anti-join on the corpus side: pruned_b holds no hot key,
        # so the (band, key) equi-join below can never match one.
        corpus = self.signatures()
        if exclude_self_ids:
            corpus = corpus.join(
                F.broadcast(batch.select(self.id_col)), self.id_col, "left_anti"
            )
        # collect_set sizes, not countDistinct: two distinct counts plan as
        # an Expand with two shuffles; the sets are candidate-sized per
        # batch doc and aggregate map-side in ONE shuffle.
        hits = (
            pruned_b.join(
                corpus.select(
                    F.col(self.id_col).alias("__cid"), "band", "key"
                ),
                ["band", "key"],
            )
            .groupBy("__bid")
            .agg(
                F.size(F.collect_set("__cid")).cast("bigint").alias("n_cand"),
                F.size(F.collect_set("band")).cast("bigint").alias("n_bands_hit"),
            )
        )
        if broadcast_batch:
            hits = F.broadcast(hits)
        return (
            batch.select(self.id_col)
            .join(hits, F.col(self.id_col) == F.col("__bid"), "left")
            .select(
                self.id_col,
                F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
                F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
                (F.coalesce("n_cand", F.lit(0)) == 0).alias("kept"),
            )
        )

    # -------------------------------------------------------------- helpers

    def _sign(self, docs: DataFrame, text_col: str) -> DataFrame:
        return _band_keys(
            docs,
            self.hasher,
            self.id_col,
            text_col,
            self.k,
            self.bands,
            self.shingle_n,
        )


def _band_keys(
    docs: DataFrame,
    hasher: str,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    if hasher == "simhash-portable":
        # k = fingerprint BITS for this family (chunk width = k // bands);
        # shingle_n is unused — SimHash votes on single tokens
        return simhash_band_keys_portable(
            docs, id_col, text_col, bits=k, bands=bands
        )
    fn = (
        minhash_band_keys_portable
        if hasher == "md5-portable"
        else minhash_band_keys_fast
    )
    return fn(docs, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n)
