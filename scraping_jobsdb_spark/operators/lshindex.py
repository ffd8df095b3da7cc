"""Persisted MinHash-LSH signature index for incremental near-dup dedup.

The near-dup analog of ``operators/fpindex.py FingerprintIndex`` (VERDICT
r10 item 4): an ongoing ingest pipeline must NOT re-sign its 100 TB corpus
on every arriving batch, yet before this module only the winnowing
containment family had an incremental admission path — the MinHash LSH
family re-derived every corpus signature per run. This module stores the
corpus band signatures ``(doc_id, band, key)`` in a transactional table
and maintains the per-bucket size ``(band, key) -> n_docs`` as an
incrementally-refreshed aggregate view (the hot-bucket guard — the LSH
analog of the fingerprint index's stop-gram view), so admitting a batch
costs the batch, not the corpus. The lifecycle (create, add, stream
admission, maintenance, fresh-view guard, probe prelude) and its Spark-job
cost are ``operators/persisted_index.py``'s; this module supplies the band
signing and the bucket-collision verdict.

Composition of the engine's txn layer (``sources/txn.py``), incremental
MV layer (``sources/mv.py``), and the MinHash LSH family
(``operators/similarity.py``).

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.persisted_index import PersistedIndex
from scraping_jobsdb_spark.operators.similarity import (
    _xxhash_signatures,
    minhash_band_keys_portable,
    simhash_fp_frame,
)

__all__ = [
    "LshSignatureIndex",
    "minhash_band_keys_fast",
    "simhash_band_keys_portable",
]

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


class LshSignatureIndex(PersistedIndex):
    """A corpus LSH signature index at ``path``: ``(id, band, key)`` band
    signatures under ``path/sigs`` plus per-bucket document counts
    ``(band, key, n_docs)`` under ``path/bs``; buckets over ``max_bucket``
    documents are the hot buckets. Parameters ride the sigs table's v1
    manifest as ``lsh_*``."""

    _KIND = "an LSH signature index"
    _DATA_DIR, _VIEW_DIR, _PREFIX = "sigs", "bs", "lsh_"
    _PARAMS = {
        "k": int,
        "bands": int,
        "shingle_n": int,
        "max_bucket": int,
        "hasher": str,
        "id_col": str,
    }
    _CUTOFF = "max_bucket"
    _GROUP, _MEASURE = ["band", "key"], "n_docs"
    _ADD_APP_ID, _ADMIT_APP_ID = "lshindex", "lshindex-admit"

    @property
    def sigs_path(self) -> str:
        return self.data_path

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
        return cls._persist(
            spark,
            path,
            _band_keys(corpus, hasher, id_col, text_col, k, bands, shingle_n),
            k=k,
            bands=bands,
            shingle_n=shingle_n,
            max_bucket=max_bucket,
            hasher=hasher,
            id_col=id_col,
        )

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        return _band_keys(
            docs,
            self.hasher,
            self.id_col,
            text_col,
            self.k,
            self.bands,
            self.shingle_n,
        )

    def _score(
        self,
        ids: DataFrame,
        pruned: DataFrame,
        corpus: DataFrame,
        broadcast_batch: bool,
    ) -> DataFrame:
        """``(id, n_bands_hit, n_cand, kept)`` where ``n_cand`` counts
        distinct stored documents sharing ≥1 non-hot band bucket with the
        doc, ``n_bands_hit`` counts the doc's bands that collided at all,
        and ``kept`` = no collision. Candidate semantics, deliberately: LSH
        asserts similarity only probabilistically, so a pipeline needing
        verified near-dups joins the dropped docs' candidates back to the
        corpus store for an exact check (``ngram_jaccard``) — the index's
        job is to make that candidate set batch-sized instead of
        corpus-sized. The per-doc hit counts are batch-sized and broadcast
        into the final join, so the batch ids never shuffle."""
        pruned = pruned.select(F.col(self.id_col).alias("__bid"), "band", "key")
        if broadcast_batch:
            pruned = F.broadcast(pruned)
        # collect_set sizes, not countDistinct: two distinct counts plan as
        # an Expand with two shuffles; the sets are candidate-sized per
        # batch doc and aggregate map-side in ONE shuffle.
        hits = (
            pruned.join(
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
        return ids.join(hits, F.col(self.id_col) == F.col("__bid"), "left").select(
            self.id_col,
            F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            (F.coalesce("n_cand", F.lit(0)) == 0).alias("kept"),
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
