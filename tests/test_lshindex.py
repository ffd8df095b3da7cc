"""Persisted MinHash-LSH signature index (operators/lshindex.py):
incremental-equals-rebuilt, probe-equals-direct-banding, streaming
exactly-once maintenance, online admission replay stability, compaction
row-preservation, and the xxhash64 hot-path hasher."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from scraping_jobsdb_spark.operators.lshindex import (
    LshSignatureIndex,
    minhash_band_keys_fast,
)
from scraping_jobsdb_spark.operators.similarity import (
    minhash_band_keys_portable,
)
from scraping_jobsdb_spark.sources.tables import load_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _splits(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch1 = docs.filter(F.col("doc_id") % 5 == 0)
    batch2 = corpus.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return corpus, batch1, batch2


def _expected_probe(batch, bk_batch, bk_corpus, max_bucket=64):
    """Direct derivation of the probe contract from the banding frames:
    hot buckets = stored buckets over max_bucket; candidates = non-hot
    (band, key) matches; per batch doc n_cand / n_bands_hit / kept."""
    hot = (
        bk_corpus.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("band", "key")
    )
    pb = bk_batch.join(hot, ["band", "key"], "left_anti").select(
        F.col("doc_id").alias("bid"), "band", "key"
    )
    pc = bk_corpus.join(hot, ["band", "key"], "left_anti").select(
        F.col("doc_id").alias("cid"), "band", "key"
    )
    hits = (
        pb.join(pc, ["band", "key"])
        .groupBy("bid")
        .agg(
            F.countDistinct("cid").alias("n_cand"),
            F.countDistinct("band").alias("n_bands_hit"),
        )
    )
    return (
        batch.select("doc_id")
        .join(hits, F.col("doc_id") == F.col("bid"), "left")
        .select(
            "doc_id",
            F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            (F.coalesce("n_cand", F.lit(0)) == 0).alias("kept"),
        )
    )


def test_lsh_index_probe_equals_direct_banding_and_add_is_incremental(
    spark, tmp_path
):
    """Probing the persisted index is bit-identical to deriving the same
    verdicts straight from minhash_band_keys_portable frames — AND two
    successive batches probe the STORED index with zero corpus
    re-signing: add() folds only the batch delta, and the second probe
    equals the direct derivation against corpus ∪ batch1."""
    corpus, batch1, batch2 = _splits(spark)
    idx = LshSignatureIndex.create(
        spark, str(tmp_path / "idx"), corpus,
        k=16, bands=4, shingle_n=3, max_bucket=64,
    )

    def bk(df):
        return minhash_band_keys_portable(
            df, "doc_id", "text", k=16, bands=4, shingle_n=3
        )

    got1 = _rows(idx.probe(batch1))
    want1 = _rows(_expected_probe(batch1, bk(batch1), bk(corpus)))
    assert got1 == want1 and len(got1) > 0

    v = idx.add(batch1)
    assert v == 2  # one append commit, no rewrite
    got2 = _rows(idx.probe(batch2))
    want2 = _rows(
        _expected_probe(batch2, bk(batch2), bk(corpus.unionByName(batch1)))
    )
    assert got2 == want2 and len(got2) > 0
    # injected truncated near-dups collide with their sources: most of
    # batch2 is dropped, while batch1 (real distinct docs) mostly survives
    dropped2 = sum(1 for r in got2 if not r[3])
    assert dropped2 >= len(got2) * 0.8
    kept1 = sum(1 for r in got1 if r[3])
    assert kept1 >= len(got1) * 0.8


def test_lsh_index_incremental_equals_rebuilt(spark, tmp_path):
    """add(batch) then probe ≡ probing an index REBUILT from scratch over
    corpus ∪ batch — the invariant that makes the incremental admission
    path trustworthy at 100 TB (you never need the rebuild)."""
    corpus, batch1, batch2 = _splits(spark)
    inc = LshSignatureIndex.create(
        spark, str(tmp_path / "inc"), corpus, k=16, bands=4, max_bucket=64
    )
    inc.add(batch1)
    full = LshSignatureIndex.create(
        spark,
        str(tmp_path / "full"),
        corpus.unionByName(batch1),
        k=16,
        bands=4,
        max_bucket=64,
    )
    assert _rows(inc.signatures()) == _rows(full.signatures())
    assert _rows(inc.probe(batch2)) == _rows(full.probe(batch2))


def test_lsh_index_streaming_equals_batch_and_replay_appends_nothing(
    spark, tmp_path
):
    """N micro-batches through add_stream_batch leave the index
    byte-identical to one add() of their union; a failure-recovery replay
    of an already-applied epoch appends zero rows and the bucket-size
    view stays fresh."""
    corpus, batch1, batch2 = _splits(spark)
    b1a = batch1.filter(F.col("doc_id") % 2 == 0)
    b1b = batch1.filter(F.col("doc_id") % 2 != 0)

    stream = LshSignatureIndex.create(
        spark, str(tmp_path / "s"), corpus, k=16, bands=4, max_bucket=64
    )
    n1 = stream.add_stream_batch(b1a, epoch_id=0)
    n2 = stream.add_stream_batch(b1b, epoch_id=1)
    assert n1 > 0 and n2 > 0
    assert stream.add_stream_batch(b1a, epoch_id=0) == 0  # replay

    batch = LshSignatureIndex.create(
        spark, str(tmp_path / "b"), corpus, k=16, bands=4, max_bucket=64
    )
    batch.add(batch1)
    assert _rows(stream.signatures()) == _rows(batch.signatures())
    assert _rows(stream.probe(batch2)) == _rows(batch.probe(batch2))


def test_lsh_index_admit_stream_batch_replay_stable(spark, tmp_path):
    """Online admission: near-dups of docs admitted by an EARLIER
    micro-batch are rejected; replaying the same epoch returns verdicts
    IDENTICAL to the first attempt (exclude_self_ids keeps previously-
    kept docs from colliding with their own stored signatures) and
    appends nothing."""
    corpus, batch1, batch2 = _splits(spark)
    idx = LshSignatureIndex.create(
        spark, str(tmp_path / "idx"), corpus, k=16, bands=4, max_bucket=64
    )
    v1 = _rows(idx.admit_stream_batch(batch1, epoch_id=0))
    kept1 = {r[0] for r in v1 if r[3]}
    assert len(kept1) >= len(v1) * 0.8  # real docs mostly admitted

    before = _rows(idx.signatures())
    replay = _rows(idx.admit_stream_batch(batch1, epoch_id=0))
    assert replay == v1  # replay-stable verdicts
    assert _rows(idx.signatures()) == before  # and nothing re-appended

    v2 = _rows(idx.admit_stream_batch(batch2, epoch_id=1))
    # batch2 near-dups collide with corpus docs already in the index
    assert sum(1 for r in v2 if not r[3]) >= len(v2) * 0.8


def test_lsh_index_maintain_compaction_preserves_rows(spark, tmp_path):
    """maintain() compacts a many-file snapshot row-preservingly: the
    signature set and probe verdicts are unchanged, and the bucket-size
    view keeps folding incrementally afterwards."""
    corpus, batch1, batch2 = _splits(spark)
    idx = LshSignatureIndex.create(
        spark, str(tmp_path / "idx"), corpus, k=16, bands=4, max_bucket=64
    )
    for i, rem in enumerate(range(5)):
        idx.add_stream_batch(
            batch1.filter(F.col("doc_id") % 5 == 0)
            .filter(F.col("doc_id") % 11 == rem),
            epoch_id=i,
        )
    before_sigs = _rows(idx.signatures())
    before_probe = _rows(idx.probe(batch2))
    n_files = idx.maintain(max_files=2)
    assert n_files is not None and n_files <= 2
    assert _rows(idx.signatures()) == before_sigs
    assert _rows(idx.probe(batch2)) == before_probe


def test_lsh_index_fast_hasher_and_guards(spark, tmp_path):
    """The xxhash64 hot-path hasher shares the index mechanics: probe
    equals the direct banding derivation, near-dups are caught, the
    manifest round-trips parameters (including the hasher), and an
    unknown hasher is refused. (A stale bucket-size view is
    test_index_admission.py::test_stale_view_repairs_on_probe.)"""
    import pytest

    corpus, batch1, batch2 = _splits(spark)
    idx = LshSignatureIndex.create(
        spark,
        str(tmp_path / "idx"),
        corpus,
        k=16,
        bands=4,
        max_bucket=64,
        hasher="xxhash64",
    )
    idx.add(batch1)

    def bk(df):
        return minhash_band_keys_fast(
            df, "doc_id", "text", k=16, bands=4, shingle_n=3
        )

    got = _rows(idx.probe(batch2))
    want = _rows(
        _expected_probe(batch2, bk(batch2), bk(corpus.unionByName(batch1)))
    )
    assert got == want and len(got) > 0
    assert sum(1 for r in got if not r[3]) >= len(got) * 0.8

    reopened = LshSignatureIndex(spark, str(tmp_path / "idx"))
    assert (
        reopened.k,
        reopened.bands,
        reopened.shingle_n,
        reopened.max_bucket,
        reopened.hasher,
        reopened.id_col,
    ) == (16, 4, 3, 64, "xxhash64", "doc_id")

    with pytest.raises(ValueError, match="hasher"):
        LshSignatureIndex.create(
            spark, str(tmp_path / "bad"), corpus, hasher="sha1"
        )


def test_lsh_index_simhash_hasher(spark, tmp_path):
    """The simhash-portable hasher under the same index mechanics: probe
    equals the direct banding derivation (Hamming-space collision,
    max_bucket=256), the injected truncated near-dups collide with their
    sources, incremental add ≡ rebuilt, and the manifest round-trips the
    hasher with k carrying the fingerprint BITS."""
    from scraping_jobsdb_spark.operators.lshindex import (
        simhash_band_keys_portable,
    )

    corpus, batch1, batch2 = _splits(spark)
    idx = LshSignatureIndex.create(
        spark,
        str(tmp_path / "idx"),
        corpus,
        k=60,
        bands=4,
        max_bucket=256,
        hasher="simhash-portable",
    )
    idx.add(batch1)

    def bk(df):
        return simhash_band_keys_portable(df, "doc_id", "text", bits=60, bands=4)

    got = _rows(idx.probe(batch2))
    want = _rows(
        _expected_probe(
            batch2, bk(batch2), bk(corpus.unionByName(batch1)), max_bucket=256
        )
    )
    assert got == want and len(got) > 0
    # truncated near-dups sit within Hamming 3 of their sources -> caught
    assert sum(1 for r in got if not r[3]) >= len(got) * 0.8

    full = LshSignatureIndex.create(
        spark,
        str(tmp_path / "full"),
        corpus.unionByName(batch1),
        k=60,
        bands=4,
        max_bucket=256,
        hasher="simhash-portable",
    )
    assert _rows(idx.signatures()) == _rows(full.signatures())

    reopened = LshSignatureIndex(spark, str(tmp_path / "idx"))
    assert (reopened.k, reopened.bands, reopened.hasher) == (
        60,
        4,
        "simhash-portable",
    )


def test_lsh_index_admit_with_presigned_batch_identical(spark, tmp_path):
    """``admit_stream_batch(_signed=...)`` — the shared-signing-pass form
    (r14: a caller that already signed the batch, e.g. an intra-batch
    dedup stage, hands the materialized signatures in instead of paying a
    second signing map pass) — yields verdicts AND index state
    bit-identical to the self-signing form, including when the supplied
    frame is a semi-join filtered subset of a larger signed batch."""
    corpus, batch1, _ = _splits(spark)
    survivors = batch1.filter(F.col("doc_id") % 10 == 0)

    plain = LshSignatureIndex.create(
        spark, str(tmp_path / "plain"), corpus, k=16, bands=4, max_bucket=64
    )
    v_plain = _rows(plain.admit_stream_batch(survivors, epoch_id=0))

    shared = LshSignatureIndex.create(
        spark, str(tmp_path / "shared"), corpus, k=16, bands=4, max_bucket=64
    )
    bk_full = minhash_band_keys_portable(
        batch1, "doc_id", "text", k=16, bands=4, shingle_n=3
    ).localCheckpoint()
    sig_surv = bk_full.join(
        survivors.select("doc_id"), "doc_id", "left_semi"
    )
    v_shared = _rows(
        shared.admit_stream_batch(survivors, epoch_id=0, _signed=sig_surv)
    )

    assert v_plain == v_shared and len(v_plain) > 0
    assert _rows(plain.signatures()) == _rows(shared.signatures())


def test_lsh_index_keeps_null_text_documents(spark, tmp_path):
    """A NULL-text document stores no signature and collides with
    nothing, under both MinHash hashers: before, it signed like the empty
    text, so a second NULL document (or an empty one) was dropped as a
    near-duplicate of the first."""
    corpus = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox jumps over it")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, None), (11, "the quick brown fox jumps over it")],
        "doc_id long, text string",
    )
    for hasher in ("md5-portable", "xxhash64"):
        idx = LshSignatureIndex.create(
            spark, str(tmp_path / hasher), corpus, hasher=hasher
        )
        assert sorted({r[0] for r in idx.signatures().collect()}) == [2, 3]
        verdict = dict(
            (r.doc_id, r.kept)
            for r in idx.admit_stream_batch(batch, epoch_id=0).collect()
        )
        assert verdict == {10: True, 11: False}, hasher
