"""Persisted winnowing-fingerprint corpus index for incremental dedup.

The deployed posture of batch-vs-corpus containment dedup
(``operators/textops.py incremental_containment_filter``): the corpus
fingerprint set ``(doc_id, h)`` lives in a transactional table, and the
per-gram document frequency (the stop-gram source) is an
incrementally-refreshed aggregate view, so admitting a batch costs the
batch, not the corpus. The lifecycle (create, add, stream admission,
maintenance, fresh-view guard, probe prelude) and its Spark-job cost are
``operators/persisted_index.py``'s; this module supplies the winnowing
signing and the containment verdict.

Determinism contract: probing the index is bit-identical to running
``incremental_containment_filter`` against the corpus the index currently
holds — both paths share ``containment_verdict`` and the same integer
hash/selection arithmetic, so the probe stays fully value-hash
oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from scraping_jobsdb_spark.operators.persisted_index import PersistedIndex
from scraping_jobsdb_spark.operators.textops import (
    containment_verdict,
    winnowing_fingerprint_set,
)

__all__ = ["FingerprintIndex"]


class FingerprintIndex(PersistedIndex):
    """A corpus fingerprint index at ``path``: ``(id, h)`` winnowing
    fingerprints under ``path/fps`` plus per-gram document frequency
    ``(h, df)`` under ``path/df``; grams over ``max_df`` documents are the
    stop grams. Parameters ride the fps table's v1 manifest as ``fp_*``.
    ``probe``/``admit_stream_batch`` take ``threshold_milli`` (default
    800): the containment a batch doc must reach to be dropped."""

    _KIND = "a fingerprint index"
    _DATA_DIR, _VIEW_DIR, _PREFIX = "fps", "df", "fp_"
    _PARAMS = {"k": int, "w": int, "max_df": int, "id_col": str}
    _CUTOFF = "max_df"
    _GROUP, _MEASURE = ["h"], "df"
    _ADD_APP_ID, _ADMIT_APP_ID = "fpindex", "fpindex-admit"

    @property
    def fps_path(self) -> str:
        return self.data_path

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
        return cls._persist(
            spark,
            path,
            winnowing_fingerprint_set(corpus, k, w, text_col, id_col),
            k=k,
            w=w,
            max_df=max_df,
            id_col=id_col,
        )

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        return winnowing_fingerprint_set(docs, self.k, self.w, text_col, self.id_col)

    def _score(
        self,
        ids: DataFrame,
        pruned: DataFrame,
        corpus: DataFrame,
        broadcast_batch: bool,
        threshold_milli: int = 800,
    ) -> DataFrame:
        """``(id, n_fp, n_dup_of, kept)``, identical to
        ``incremental_containment_filter`` against the same corpus (shared
        ``containment_verdict`` tail; pinned by test)."""
        return containment_verdict(
            ids,
            pruned,
            corpus,
            threshold_milli,
            self.id_col,
            broadcast_batch=broadcast_batch,
        )
