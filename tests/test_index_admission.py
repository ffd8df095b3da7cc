"""Online admission through both persisted near-dup indexes
(LshSignatureIndex, FingerprintIndex, one shared lifecycle in
operators/persisted_index.py): the on-disk layout is pinned; a crash
between an append or compaction commit and the view's commit converges
to the uninterrupted state, and so does a stale view on the next probe;
the watermark commit is metadata-only; and one admitted batch plus its
maintenance stays inside a Spark-job budget."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, count_spark_jobs

from scraping_jobsdb_spark.operators.fpindex import FingerprintIndex
from scraping_jobsdb_spark.operators.lshindex import LshSignatureIndex
from scraping_jobsdb_spark.sources.mv import IncrementalAggView
from scraping_jobsdb_spark.sources.tables import load_table
from scraping_jobsdb_spark.sources.txn import TxnTable

# kind -> (class, create kwargs)
INDEXES = {
    "lsh": (LshSignatureIndex, {"k": 32, "bands": 8, "hasher": "xxhash64"}),
    "fp": (FingerprintIndex, {}),
}

# Spark jobs for one admit_stream_batch plus maintain(max_files=1), per
# index: the 11 that the PersistedIndex docstring
# (operators/persisted_index.py) breaks down, plus the compaction's 1.
# Before the metadata-only watermark commit, the one-shuffle view fold and
# the map-only kept append these were 20 (LSH) and 23 (FP).
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
    cls, kwargs = INDEXES[kind]
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


# The on-disk layout existing indexes depend on:
# kind -> (create kwargs, subdirectories, v1 manifest keys, default app ids
# of add_stream_batch and admit_stream_batch). The app ids are epoch keys
# in the data table's log, so replay recognition depends on them.
_LSH_KEYS = {
    "lsh_k", "lsh_bands", "lsh_shingle_n", "lsh_max_bucket", "lsh_hasher",
    "lsh_id_col",
}
LAYOUTS = {
    "fp": ({}, ["df", "fps"], {"fp_k", "fp_w", "fp_max_df", "fp_id_col"},
           ("fpindex", "fpindex-admit")),
    **{
        f"lsh-{h}": ({"hasher": h}, ["bs", "sigs"], _LSH_KEYS,
                     ("lshindex", "lshindex-admit"))
        for h in ("md5-portable", "xxhash64", "simhash-portable")
    },
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_index_layout_is_pinned(spark, tmp_path, layout):
    """create writes exactly these subdirectories and v1 manifest keys,
    and the stream paths stamp their commits with these default app ids,
    so indexes already on disk keep opening and replaying."""
    kwargs, subdirs, keys, (add_id, admit_id) = LAYOUTS[layout]
    cls = FingerprintIndex if layout == "fp" else LshSignatureIndex
    _corpus, batch1, _batch2 = _splits(spark)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    idx = cls.create(
        spark, str(tmp_path), docs.filter(F.col("doc_id") < 60), **kwargs
    )
    assert sorted(os.listdir(tmp_path)) == subdirs
    data = TxnTable(spark, os.path.join(str(tmp_path), subdirs[1]))
    m = data._manifest(1)
    assert {k for k in m if k.startswith(("fp_", "lsh_"))} == keys
    if "hasher" in kwargs:
        assert m["lsh_hasher"] == kwargs["hasher"]
    idx.add_stream_batch(batch1.filter(F.col("doc_id") % 4 == 0), 0)
    assert data._manifest()["app_id"] == add_id
    idx.admit_stream_batch(batch1.filter(F.col("doc_id") % 4 != 0), 0)
    assert data._manifest()["app_id"] == admit_id


# kind -> one signature row written around the index API
SENTINELS = {"lsh": (99999, 0, "sentinel"), "fp": (99999, 12345)}


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_stale_view_repairs_on_probe(spark, tmp_path, kind):
    """A probe whose view lags the data table repairs the view first:
    writing signatures around the index API (direct TxnTable.append — the
    state a crash between the data commit and the view refresh leaves)
    makes the view stale, and the next probe folds the pending delta
    before it prunes. A silently-stale pruning list would drift the
    pruned universe between batches."""
    cls = INDEXES[kind][0]
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    probe = docs.filter(F.col("doc_id") < 10)
    idx = _create(spark, kind, str(tmp_path / "idx"), corpus)
    before = _rows(idx.probe(probe))
    # bypass the API: append a raw signature without refreshing the view
    data = TxnTable(spark, idx.data_path)
    sentinel = spark.createDataFrame([SENTINELS[kind]], idx.signatures().schema)
    data.append(sentinel)
    version = data.version()
    assert idx._view.applied_source_version() < version  # genuinely stale
    healed = _rows(idx.probe(probe))
    assert idx._view.applied_source_version() == version
    assert len(healed) == len(before)
    # the repaired view equals a from-scratch recount of the data table
    recount = (
        idx.signatures()
        .groupBy(*idx._GROUP)
        .agg(F.count(F.lit(1)).alias(idx._MEASURE))
    )
    assert _rows(idx._view.read()) == _rows(recount)
    # probe results equal those of an index built with the view in step
    fresh = _create(spark, kind, str(tmp_path / "fresh"), corpus)
    fresh.add(
        spark.createDataFrame([(99999, "")], "doc_id bigint, text string"),
        _signed=sentinel,
    )
    assert healed == _rows(fresh.probe(probe))
    # idempotent explicit repair entry point
    idx.refresh()
    assert idx._view.applied_source_version() == version
    # parameters round-trip through the manifest
    reopened = cls(spark, str(tmp_path / "idx"))
    want = {"k": 8, "w": 4, "max_df": 50, "id_col": "doc_id"} if kind == "fp" else {
        "k": 32, "bands": 8, "shingle_n": 3, "max_bucket": 64,
        "hasher": "xxhash64", "id_col": "doc_id",
    }
    assert {p: getattr(reopened, p) for p in want} == want


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_crash_between_compaction_and_watermark_converges(
    spark, tmp_path, kind, monkeypatch
):
    """Stop maintain() after its compaction commit and before the view's
    watermark commit: the next admit_stream_batch (from a reopened index,
    as after a restart) repairs the view and gives the same verdicts and
    view rows as an uninterrupted run."""
    cls = INDEXES[kind][0]
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
    data = TxnTable(spark, crashed.data_path)
    assert data._manifest()["op"] == "compact"  # the first commit landed
    assert crashed._view.applied_source_version() < data.version()  # the second did not

    reopened = cls(spark, crashed.path)
    got = _rows(reopened.admit_stream_batch(batch2, 1))
    want = _rows(clean.admit_stream_batch(batch2, 1))
    assert got == want
    assert any(not r[-1] for r in want) and any(r[-1] for r in want)
    assert _rows(reopened._view.read()) == _rows(clean._view.read())
    assert reopened._view.applied_source_version() == (
        TxnTable(spark, reopened.data_path).version()
    )


@pytest.mark.parametrize("step", ["admit", "add"])
@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_crash_between_append_and_view_refresh_converges(
    spark, tmp_path, kind, step, monkeypatch
):
    """Stop admit_stream_batch (or add_stream_batch) after its data append
    commits and before the view refresh: replaying the same epoch on a
    reopened index appends nothing, returns what the uninterrupted run
    returned, and leaves the same view rows, the view's watermark at the
    data version, and the same verdicts for the next batch."""
    cls = INDEXES[kind][0]
    corpus, batch1, batch2 = _splits(spark)
    crashed = _create(spark, kind, str(tmp_path / "crashed"), corpus)
    clean = _create(spark, kind, str(tmp_path / "clean"), corpus)

    def run(idx):
        if step == "admit":
            return _rows(idx.admit_stream_batch(batch2, 0))
        return idx.add_stream_batch(batch2, 0)

    want = run(clean)

    def boom(self):
        raise _Crash("crash before the view refresh")

    with monkeypatch.context() as m:
        m.setattr(IncrementalAggView, "refresh", boom)
        with pytest.raises(_Crash):
            run(crashed)
    data = TxnTable(spark, crashed.data_path)
    version = data.version()
    assert data._manifest()["op"] != "create"  # the append landed
    assert crashed._view.applied_source_version() < version

    reopened = cls(spark, crashed.path)
    got = run(reopened)
    assert data.version() == version  # the replay appended nothing
    if step == "admit":
        assert got == want
        assert any(not r[-1] for r in want) and any(r[-1] for r in want)
    else:
        assert got == 0 and want > 0
    assert _rows(reopened._view.read()) == _rows(clean._view.read())
    assert reopened._view.applied_source_version() == version
    assert _rows(reopened.probe(batch1)) == _rows(clean.probe(batch1))


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_maintain_watermark_commit_adds_no_data_files(spark, tmp_path, kind):
    """After maintain(max_files=1) compacts, the view records its new
    watermark in a metadata-only commit: same files, same rows, no new
    data file under the view."""
    corpus, batch1, _batch2 = _splits(spark)
    idx = _create(spark, kind, str(tmp_path / "idx"), corpus)
    idx.admit_stream_batch(batch1, 0)
    view = idx._view
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
        TxnTable(spark, idx.data_path).version()
    )


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_admission_job_budget(spark, tmp_path, kind):
    """One admitted batch plus maintain(max_files=1) runs at most
    JOB_BUDGET Spark jobs per index, counted by job group."""
    corpus, batch1, batch2 = _splits(spark)
    idx = _create(spark, kind, str(tmp_path / "idx"), corpus)
    idx.admit_stream_batch(batch1, 0)
    idx.maintain(max_files=1)

    def one_batch():
        idx.admit_stream_batch(batch2, 1)
        idx.maintain(max_files=1)

    n_jobs = count_spark_jobs(spark, one_batch)
    assert 0 < n_jobs <= JOB_BUDGET, n_jobs
