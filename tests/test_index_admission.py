"""Online admission through both persisted near-dup indexes
(LshSignatureIndex, FingerprintIndex): a crash between maintain()'s
compaction commit and its view-watermark commit converges to the
uninterrupted state, the watermark commit is metadata-only, and one
admitted batch plus its maintenance stays inside a Spark-job budget."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from scraping_jobsdb_spark.operators.fpindex import FingerprintIndex
from scraping_jobsdb_spark.operators.lshindex import LshSignatureIndex
from scraping_jobsdb_spark.sources.tables import load_table
from scraping_jobsdb_spark.sources.txn import TxnTable

# kind -> (class, create kwargs, data-table attr, view attr)
INDEXES = {
    "lsh": (LshSignatureIndex, {"k": 32, "bands": 8, "hasher": "xxhash64"},
            "sigs_path", "_bs_view"),
    "fp": (FingerprintIndex, {}, "fps_path", "_df_view"),
}

# Spark jobs for one admit_stream_batch plus maintain(max_files=1), per
# index (the docstrings of lshindex.py / fpindex.py break them down):
# sign 1 + probe 6 + kept-id collect 1 + kept append 1 + view fold 2 +
# compaction 1. Before the metadata-only watermark commit, the one-shuffle
# view fold and the map-only kept append these were 20 (LSH) and 23 (FP).
JOB_BUDGET = 12


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _splits(spark):
    """corpus; batch1 = fresh docs; batch2 = fresh docs plus near-dups
    (last word dropped) of corpus docs, under ids far above the corpus."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    fresh = docs.filter(F.col("doc_id") % 5 == 0)
    batch1 = fresh.filter(F.col("doc_id") % 2 == 0)
    near = corpus.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 10**9).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    batch2 = fresh.filter(F.col("doc_id") % 2 == 1).unionByName(near)
    return corpus, batch1, batch2


def _create(spark, kind, path, corpus):
    cls, kwargs, _data, _view = INDEXES[kind]
    return cls.create(spark, path, corpus, **kwargs)


def _data_files(path):
    return sorted(
        os.path.join(d, f)
        for d, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_crash_between_compaction_and_watermark_converges(
    spark, tmp_path, kind, monkeypatch
):
    """Stop maintain() after its compaction commit and before the view's
    watermark commit: the next admit_stream_batch (from a reopened index,
    as after a restart) repairs the view and gives the same verdicts and
    view rows as an uninterrupted run."""
    cls, _kwargs, data_attr, view_attr = INDEXES[kind]
    corpus, batch1, batch2 = _splits(spark)
    crashed = _create(spark, kind, str(tmp_path / "crashed"), corpus)
    clean = _create(spark, kind, str(tmp_path / "clean"), corpus)
    for idx in (crashed, clean):
        idx.admit_stream_batch(batch1, 0)

    clean.maintain(max_files=1)

    def boom(self, meta):
        raise _Crash("crash before the watermark commit")

    with monkeypatch.context() as m:
        m.setattr(TxnTable, "set_meta", boom)
        with pytest.raises(_Crash):
            crashed.maintain(max_files=1)
    data = TxnTable(spark, getattr(crashed, data_attr))
    assert data._manifest()["op"] == "compact"  # the first commit landed
    view = getattr(crashed, view_attr)
    assert view.applied_source_version() < data.version()  # the second did not

    reopened = cls(spark, crashed.path)
    got = _rows(reopened.admit_stream_batch(batch2, 1))
    want = _rows(clean.admit_stream_batch(batch2, 1))
    assert got == want
    assert any(not r[-1] for r in want) and any(r[-1] for r in want)
    assert _rows(getattr(reopened, view_attr).read()) == _rows(
        getattr(clean, view_attr).read()
    )
    assert getattr(reopened, view_attr).applied_source_version() == (
        TxnTable(spark, getattr(reopened, data_attr)).version()
    )


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_maintain_watermark_commit_adds_no_data_files(spark, tmp_path, kind):
    """After maintain(max_files=1) compacts, the view records its new
    watermark in a metadata-only commit: same files, same rows, no new
    data file under the view."""
    _cls, _kwargs, data_attr, view_attr = INDEXES[kind]
    corpus, batch1, _batch2 = _splits(spark)
    idx = _create(spark, kind, str(tmp_path / "idx"), corpus)
    idx.admit_stream_batch(batch1, 0)
    view = getattr(idx, view_attr)
    vt = TxnTable(spark, view.view_path)
    files_before = _data_files(view.view_path)
    m_before = vt._manifest()
    rows_before = _rows(view.read())

    assert idx.maintain(max_files=1) is not None
    m_after = vt._manifest()
    assert vt.version() == m_before["version"] + 1
    assert m_after["op"] == "set_meta"
    assert m_after["files"] == m_before["files"]
    assert _data_files(view.view_path) == files_before
    assert _rows(view.read()) == rows_before
    assert view.applied_source_version() == (
        TxnTable(spark, getattr(idx, data_attr)).version()
    )


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_admission_job_budget(spark, tmp_path, kind):
    """One admitted batch plus maintain(max_files=1) runs at most
    JOB_BUDGET Spark jobs per index, counted by job group."""
    corpus, batch1, batch2 = _splits(spark)
    idx = _create(spark, kind, str(tmp_path / "idx"), corpus)
    idx.admit_stream_batch(batch1, 0)
    idx.maintain(max_files=1)
    sc = spark.sparkContext
    group = f"admission-budget-{kind}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"one {kind} admission batch")
    try:
        idx.admit_stream_batch(batch2, 1)
        idx.maintain(max_files=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= JOB_BUDGET, n_jobs
