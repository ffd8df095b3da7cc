"""Transactional table layer (sources/txn.py): snapshot isolation, atomic
commit, crash safety, OCC under concurrent writers, MERGE semantics."""

from __future__ import annotations

import json
import math
import os
import threading

import pytest

from pyspark.sql import functions as F

from scraping_jobsdb_spark.sources.txn import TxnTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "t")


def _df(spark, rows, schema="k bigint, v string"):
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_create_read_roundtrip(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    assert t.version() == 1


def test_append_and_time_travel(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    assert t.append(_df(spark, [(2, "b")])) == 1
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # version 1 still reads exactly the old snapshot
    assert _rows(t.read(version=1)) == [(1, "a")]


def test_delta_manifests_checkpoint_cadence(spark, tdir):
    """Long append histories write O(delta)-sized manifests: between
    checkpoints an append stores only its "adds"; every
    _CHECKPOINT_INTERVAL-th version (and any rewrite) stores the complete
    file list. Resolution walks back at most one interval, every read API
    stays exact, and CDC/stats/time-travel all see through the encoding."""
    from scraping_jobsdb_spark.sources.txn import (
        _CHECKPOINT_INTERVAL,
        _read_raw_manifest,
        append_delta_files,
    )

    t = TxnTable.create(
        spark, tdir, _df(spark, [(0, "v0")]), stats_cols=["k"]
    )
    n_commits = 2 * _CHECKPOINT_INTERVAL + 3
    for i in range(1, n_commits + 1):
        t.append(_df(spark, [(i, f"v{i}")]))
    top = t.version()
    assert top == n_commits + 1
    raw_kinds = {
        v: ("files" in _read_raw_manifest(t.path, v))
        for v in range(1, top + 1)
    }
    # checkpoints exactly at v1 (create) and every interval-th version
    assert all(
        full == (v == 1 or v % _CHECKPOINT_INTERVAL == 0)
        for v, full in raw_kinds.items()
    ), raw_kinds
    # a delta manifest stores only its own files, not the whole table
    some_delta = _read_raw_manifest(t.path, top if top % _CHECKPOINT_INTERVAL else top - 1)
    assert "files" not in some_delta and len(some_delta["adds"]) >= 1
    # resolved view is complete and ordered: reads, time travel, CDC agree
    assert t.read().count() == n_commits + 1
    mid = _CHECKPOINT_INTERVAL + 2
    assert t.read(mid).count() == mid
    assert sorted(r.k for r in t.read_appends_since(mid).collect()) == list(
        range(mid, n_commits + 1)
    )
    assert len(append_delta_files(t.path, 0, top)) == len(
        t._manifest()["files"]
    )
    # file stats survive delta encoding: pruning still exact
    assert [r.k for r in t.read_pruned("k", n_commits, n_commits).collect()] == [n_commits]
    # vacuum sees every referenced file through raw manifests
    assert t.vacuum() == 0
    assert t.read().count() == n_commits + 1


def test_overwrite_is_atomic_snapshot_swap(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    old = t.read()  # bound to v1's files
    t.overwrite(_df(spark, [(9, "z")]))
    assert _rows(t.read()) == [(9, "z")]
    # the pre-overwrite frame still reads v1 (files never mutated)
    assert _rows(old) == [(1, "a")]


def test_crash_between_data_write_and_commit_is_invisible(spark, tdir):
    """Kill the writer after its data files land but before the manifest
    link: every reader still sees the old snapshot; vacuum removes the
    orphans; a later append is unaffected."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    # simulate the crash: data written, no commit
    orphan_files, n = t._write_data(_df(spark, [(2, "b"), (3, "c")]))
    assert n == 2 and all(os.path.exists(f) for f in orphan_files)
    assert _rows(t.read()) == [(1, "a")]  # invisible
    assert t.version() == 1
    removed = t.vacuum()
    assert removed >= len(orphan_files)
    assert _rows(t.read()) == [(1, "a")]
    t.append(_df(spark, [(4, "d")]))
    assert _rows(t.read()) == [(1, "a"), (4, "d")]


def test_lost_race_retries_against_new_snapshot(spark, tdir):
    """Interleave two writers deterministically: B commits between A's base
    read and A's commit. A's link fails, A retries on B's snapshot, and both
    appends land exactly once."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    real_commit = t._commit
    interposed = {"done": False}

    def racing_commit(base, files, schema, op, n_rows, extra=None):
        if not interposed["done"]:
            interposed["done"] = True
            other = TxnTable(spark, t.path)
            assert other.append(_df(spark, [(100, "race")])) == 1
        return real_commit(base, files, schema, op, n_rows, extra=extra)

    t._commit = racing_commit
    assert t.append(_df(spark, [(2, "b")])) == 1
    t._commit = real_commit
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (100, "race")]


def test_idempotent_append_exactly_once_under_contention(spark, tdir):
    """Two writers idempotent-append OVERLAPPING keys concurrently: the
    overlap must land exactly once (the ON CONFLICT DO NOTHING guarantee)."""
    t = TxnTable.create(spark, tdir, _df(spark, [(0, "seed")]))
    batches = [
        _df(spark, [(1, "x"), (2, "x"), (3, "x")]),
        _df(spark, [(2, "y"), (3, "y"), (4, "y")]),
    ]
    results = [None, None]
    errs = []

    def run(i):
        try:
            results[i] = TxnTable(spark, t.path).idempotent_append(
                batches[i], ["k"]
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    final = t.read()
    assert final.count() == 5  # seed + keys 1..4, overlap exactly once
    assert final.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    assert sum(results) == 4  # 3 + 1 or 1 + 3 depending on who won


def test_idempotent_append_rerun_is_noop(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    batch = _df(spark, [(1, "a"), (2, "b")])
    assert t.idempotent_append(batch, ["k"]) == 1
    assert t.idempotent_append(batch, ["k"]) == 0
    assert t.read().count() == 2


def test_merge_update_insert_delete(spark, tdir):
    t = TxnTable.create(
        spark,
        tdir,
        _df(spark, [(1, "keep"), (2, "update-me"), (3, "delete-me")]),
    )
    source = _df(
        spark,
        [(2, "updated"), (3, "whatever"), (4, "inserted")],
        "k bigint, nv string",
    )
    n = t.merge(
        source,
        on=["k"],
        when_matched_update={"v": "nv"},
        when_matched_delete=F.col("s.nv") == "whatever",
    )
    assert n == 3
    assert _rows(t.read()) == [(1, "keep"), (2, "updated"), (4, "inserted")]
    # and the pre-merge snapshot is intact (time travel)
    assert _rows(t.read(version=1)) == [
        (1, "keep"),
        (2, "update-me"),
        (3, "delete-me"),
    ]


def test_merge_without_insert(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    source = _df(spark, [(2, "B"), (9, "ignored")], "k bigint, nv string")
    t.merge(source, on=["k"], when_matched_update={"v": "nv"}, when_not_matched_insert=False)
    assert _rows(t.read()) == [(1, "a"), (2, "B")]


def test_merge_null_fills_missing_insert_columns(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    source = _df(spark, [(5,)], "k bigint")  # no v column
    t.merge(source, on=["k"])
    assert _rows(t.read()) == [(1, "a"), (5, None)]


def test_adopt_plain_parquet_directory(spark, tmp_path):
    plain = str(tmp_path / "plain")
    _df(spark, [(1, "a"), (2, "b")]).write.parquet(plain)
    t = TxnTable.ensure(spark, plain)
    assert _rows(t.read()) == [(1, "a"), (2, "b")]
    # adopted metadata-only; subsequent writes are transactional
    t.append(_df(spark, [(3, "c")]))
    assert t.read().count() == 3
    assert json.load(
        open(os.path.join(t._log, "v0000000001.json"))
    )["op"] == "adopt"


def test_empty_table_create_with_schema(spark, tdir):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k bigint, v string")
    t = TxnTable.create(spark, tdir, schema=schema)
    assert t.read().count() == 0
    assert t.idempotent_append(_df(spark, [(1, "a")]), ["k"]) == 1


def test_stream_epoch_append_replay_is_noop(spark, tdir):
    """A checkpoint-replayed micro-batch (same app_id + epoch) must not
    double-append — the Delta txnAppId/txnVersion contract."""
    t = TxnTable.create(spark, tdir, _df(spark, [(0, "seed")]))
    batch = _df(spark, [(1, "a"), (2, "b")])
    assert t.stream_epoch_append(batch, app_id="q1", epoch_id=0) == 2
    # replay of epoch 0: recognized, skipped
    assert t.stream_epoch_append(batch, app_id="q1", epoch_id=0) == 0
    # a DIFFERENT app at the same epoch is independent
    assert t.stream_epoch_append(_df(spark, [(3, "c")]), app_id="q2", epoch_id=0) == 1
    assert t.read().count() == 4
    assert t.committed_epoch("q1") == 0 and t.committed_epoch("q2") == 0


def test_txn_stream_sink_multi_epoch_exactly_once(spark, tmp_path):
    """Drive the foreachBatch txn sink over a 3-file stream (1 file per
    trigger = 3 epochs); restart from the same checkpoint re-delivers
    nothing, and a forced replay of an old epoch is a no-op."""
    from scraping_jobsdb_spark.streaming.sinks import txn_stream_sink

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _df(spark, [(i * 10 + j, f"e{i}") for j in range(4)]).coalesce(1).write.parquet(
            str(src / f"batch{i}")
        )
    table_path = str(tmp_path / "sink_table")
    ckpt = str(tmp_path / "ckpt")
    schema = _df(spark, [(0, "x")]).schema
    TxnTable.create(spark, table_path, schema=schema)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = txn_stream_sink(stream, table_path, app_id="sink_test", checkpoint_dir=ckpt)
    q.awaitTermination(120)
    t = TxnTable(spark, table_path)
    assert t.read().count() == 12
    assert t.committed_epoch("sink_test") >= 1  # multiple epochs committed

    # restart from the same checkpoint: nothing new to deliver, no dups
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q2 = txn_stream_sink(stream2, table_path, app_id="sink_test", checkpoint_dir=ckpt)
    q2.awaitTermination(120)
    assert t.read().count() == 12
    # forced replay of an already-committed epoch: no-op by the ledger
    assert (
        t.stream_epoch_append(_df(spark, [(99, "dup")]), "sink_test", epoch_id=0) == 0
    )


def test_merge_rejects_duplicate_source_keys(spark, tdir):
    """SQL MERGE semantics: two source rows for one key must error, not
    silently fan out the matched target row."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    dup_source = _df(spark, [(1, "x"), (1, "y")], "k bigint, nv string")
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge(dup_source, on=["k"], when_matched_update={"v": "nv"})
    # table untouched
    assert _rows(t.read()) == [(1, "a")] and t.version() == 1


def test_append_with_added_column_evolves_schema(spark, tdir):
    """Additive schema evolution: an append carrying a new column updates the
    snapshot schema; rows from older files read NULL for it (parquet scans
    under an explicit wider schema null-fill missing columns)."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    wider = spark.createDataFrame(
        [(2, "b", 9.5)], "k bigint, v string, score double"
    )
    t.append(wider)
    got = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_read_appends_since_incremental_consumption(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    v0 = t.version()
    t.append(_df(spark, [(2, "b")]))
    t.idempotent_append(_df(spark, [(2, "b"), (3, "c")]), ["k"])
    assert _rows(t.read_appends_since(v0)) == [(2, "b"), (3, "c")]
    # fully caught up -> empty frame, same schema
    v_now = t.version()
    assert t.read_appends_since(v_now).count() == 0
    # an overwrite breaks the append-stream contract loudly
    t.overwrite(_df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="overwrite"):
        t.read_appends_since(v0)


def test_compact_reduces_files_preserves_data_and_history(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(0, "seed")]))
    for i in range(1, 6):
        t.append(_df(spark, [(i, f"v{i}")]))
    before_files = len(t._manifest()["files"])
    v_before = t.version()
    before_rows = _rows(t.read())
    n_files = t.compact(target_partitions=2)
    assert n_files <= 2 < before_files
    assert _rows(t.read()) == before_rows
    # pre-compaction snapshot still reads (history intact), vacuum keeps it
    assert _rows(t.read(version=v_before)) == before_rows
    t.vacuum()
    assert _rows(t.read(version=v_before)) == before_rows


def test_read_row_changes_across_ops(spark, tdir):
    """Row-level CDC from snapshot diffs: updates appear as delete+insert
    pairs, appends as inserts, overwrites as full replacement."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    v1 = t.version()
    t.merge(
        _df(spark, [(2, "B"), (3, "c")], "k bigint, nv string"),
        on=["k"],
        when_matched_update={"v": "nv"},
    )
    changes = {
        (r.k, r.v, r._change_type)
        for r in t.read_row_changes(v1).collect()
    }
    assert changes == {
        (2, "b", "delete"),
        (2, "B", "insert"),
        (3, "c", "insert"),
    }
    v2 = t.version()
    t.overwrite(_df(spark, [(9, "z")]))
    ow = {(r.k, r._change_type) for r in t.read_row_changes(v2).collect()}
    assert ow == {(1, "delete"), (2, "delete"), (3, "delete"), (9, "insert")}
    # full range: from v1 to latest collapses intermediate states
    full = {(r.k, r.v, r._change_type) for r in t.read_row_changes(v1).collect()}
    assert full == {
        (1, "a", "delete"),
        (2, "b", "delete"),
        (9, "z", "insert"),
    }


def test_file_stats_pruning_skips_files(spark, tdir):
    """Manifest min/max stats prune non-matching files driver-side; results
    always equal the unpruned filter."""
    t = TxnTable.create(
        spark, tdir, _df(spark, [(1, "a"), (2, "b")]), stats_cols=["k"]
    )
    t.append(_df(spark, [(100, "x"), (110, "y")]))
    t.append(_df(spark, [(200, "p"), (210, "q")]))
    all_files = t._manifest()["files"]
    assert len(all_files) >= 3
    # a range inside the second batch keeps ~1 commit's files
    kept = t.pruned_files("k", 100, 120)
    assert 0 < len(kept) < len(all_files)
    assert _rows(t.read_pruned("k", 100, 120)) == [(100, "x"), (110, "y")]
    # equivalence with the unpruned form on a boundary-straddling range
    want = _rows(t.read().filter((F.col("k") >= 2) & (F.col("k") <= 200)))
    assert _rows(t.read_pruned("k", 2, 200)) == want
    # disjoint range: zero files scanned, empty result, schema intact
    assert t.pruned_files("k", 10000, 20000) == []
    assert t.read_pruned("k", 10000, 20000).count() == 0


def test_file_stats_survive_merge_and_compact(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (500, "z")]), stats_cols=["k"])
    t.merge(
        _df(spark, [(1, "A"), (900, "new")], "k bigint, nv string"),
        on=["k"],
        when_matched_update={"v": "nv"},
    )
    m = t._manifest()
    assert m["stats_cols"] == ["k"]
    assert set(m["file_stats"]) == set(m["files"])  # rewrite: fresh stats only
    t.compact(target_partitions=1)
    m2 = t._manifest()
    assert set(m2["file_stats"]) == set(m2["files"])
    assert _rows(t.read_pruned("k", 900, 999)) == [(900, "new")]


def test_stats_cols_absent_means_no_pruning_no_stats(spark, tdir):
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    m = t._manifest()
    assert "file_stats" not in m
    # pruning degrades to keep-everything
    assert t.pruned_files("k", 0, 100) == m["files"]


def test_footer_stats_and_count_match_spark_aggregates(spark, tmp_path):
    """The zero-job parquet-FOOTER fast paths must be byte-identical to the
    Spark jobs they replace: per-file min/max (ints and dates — including
    NULLs, which parquet stats skip exactly like Spark min/max) and the
    commit row count. A string stats column must force the footer path to
    decline (parquet-mr may truncate binary min/max), and so must a FLOAT
    column: parquet NaN-ignores float stats while Spark's max orders NaN
    largest, so a NaN-bearing chunk would under-report hi and mis-prune."""
    from datetime import date

    from scraping_jobsdb_spark.sources.txn import _footer_row_count

    df = spark.createDataFrame(
        [
            (1, 2.5, date(2024, 1, 2), "aa"),
            (2, None, date(2024, 3, 4), "zz"),
            (None, -7.25, None, "mm"),
        ],
        "k bigint, x double, d date, s string",
    ).coalesce(1)
    t = TxnTable.create(
        spark, str(tmp_path / "t"), df, stats_cols=["k", "d"]
    )
    files = [
        str(tmp_path / "t" / f) for f in t._manifest()["files"]
    ]
    fast = t._footer_file_stats(files, ["k", "d"])
    assert fast is not None

    # the Spark-aggregate form of the same stats, value-for-value
    import os as _os

    from pyspark.sql import functions as F2

    from scraping_jobsdb_spark.sources.txn import _jsonable

    r = spark.read.parquet(*files).agg(
        *[
            a
            for c in ["k", "d"]
            for a in (
                F2.min(c).alias(f"__lo_{c}"),
                F2.max(c).alias(f"__hi_{c}"),
            )
        ]
    ).collect()[0]
    slow = {
        _os.path.relpath(files[0], t.path): {
            c: [_jsonable(r[f"__lo_{c}"]), _jsonable(r[f"__hi_{c}"])]
            for c in ["k", "d"]
        }
    }
    assert fast == slow

    # row count from footers equals the Spark count and the manifest's
    assert _footer_row_count(files) == 3
    assert t._manifest()["n_rows"] == 3

    # a string stats column declines the footer path (truncation hazard)
    assert t._footer_file_stats(files, ["k", "s"]) is None

    # a FLOAT stats column declines too: with NaN present, footer max
    # (NaN-ignored: 2.5) would contradict Spark max (NaN is largest) —
    # the Spark-aggregate fallback is the only correct source
    dfn = spark.createDataFrame(
        [(1, 2.5), (2, float("nan"))], "k bigint, x double"
    ).coalesce(1)
    tn = TxnTable.create(
        spark, str(tmp_path / "tn"), dfn, stats_cols=["k", "x"]
    )
    filesn = [str(tmp_path / "tn" / f) for f in tn._manifest()["files"]]
    assert tn._footer_file_stats(filesn, ["k", "x"]) is None
    # …and the manifest (Spark path) agrees with Spark's NaN-largest max
    (stn,) = tn._manifest()["file_stats"].values()
    assert stn["x"][0] == 2.5 and math.isnan(stn["x"][1])

    # all-NULL stats column: the FOOTER path itself (not just the Spark
    # fallback) yields [None, None] like Spark's null-skipping min/max
    df2 = spark.createDataFrame(
        [(None, "a"), (None, "b")], "k bigint, s string"
    ).coalesce(1)
    t2 = TxnTable.create(spark, str(tmp_path / "t2"), df2, stats_cols=["k"])
    m2 = t2._manifest()
    assert list(m2["file_stats"].values()) == [{"k": [None, None]}]
    files2 = [str(tmp_path / "t2" / f) for f in m2["files"]]
    fast2 = t2._footer_file_stats(files2, ["k"])
    assert fast2 is not None and list(fast2.values()) == [
        {"k": [None, None]}
    ]


# ---------------------------------------------------------------- bucketing


def test_bucketed_create_merge_equals_unbucketed(spark, tmp_path):
    """Bucketing is a physical layout, never a semantic change: the same
    MERGE on a bucketed and an unbucketed table yields identical rows, and
    the bucket spec (re-pointed at each commit's data dir) survives merges."""
    rows = [(i, f"v{i}") for i in range(100)]
    src = _df(spark, [(i, f"new{i}") for i in range(50, 150)], "k bigint, nv string")
    tb = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, rows), bucket_by=["k"], n_buckets=4
    )
    tu = TxnTable.create(spark, str(tmp_path / "u"), _df(spark, rows))
    for t in (tb, tu):
        t.merge(src, on=["k"], when_matched_update={"v": "nv"})
    assert sorted(_rows(tb.read())) == sorted(_rows(tu.read()))
    spec = tb.bucket_spec()
    assert spec["cols"] == ["k"] and spec["n"] == 4
    # one file per bucket: the write pre-repartitions onto the bucket hash
    assert len(tb._manifest()["files"]) == 4
    # time travel still works across the bucketed rewrite
    assert sorted(_rows(tb.read(1))) == sorted(rows)


def test_bucketed_merge_join_exchanges_only_source(spark, tmp_path):
    """THE point of bucketing: the MERGE-shaped full-outer join over a
    bucketed target plans with exactly one Exchange (source side) — the
    bucketed scan feeds the join pre-distributed. Unbucketed, the same join
    needs two."""
    rows = [(i, f"v{i}") for i in range(100)]
    src = _df(spark, [(i, f"n{i}") for i in range(80, 120)], "k bigint, v string")
    tb = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, rows), bucket_by=["k"], n_buckets=4
    )
    plan = (
        tb.read().join(src, on=["k"], how="full_outer")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Bucketed: true" in plan, plan
    tu = TxnTable.create(spark, str(tmp_path / "u"), _df(spark, rows))
    plan_u = (
        tu.read().join(src, on=["k"], how="full_outer")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan_u.count("Exchange") == 2, plan_u


def test_bucketed_row_changes_no_exchange_and_matches_fallback(spark, tmp_path):
    """Co-bucketed CDC: read_row_changes between two same-spec bucketed
    snapshots diffs per-bucket — ZERO Exchange in the plan — and its
    multiset result matches the unbucketed exceptAll form exactly
    (duplicate rows included)."""
    rows = [(i, f"v{i}") for i in range(100)] + [(7, "v7")]  # dup row
    src = _df(spark, [(i, f"n{i}") for i in range(90, 110)], "k bigint, nv string")
    tb = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, rows), bucket_by=["k"], n_buckets=4
    )
    tb.merge(src, on=["k"], when_matched_update={"v": "nv"})
    tu = TxnTable.create(spark, str(tmp_path / "u"), _df(spark, rows))
    tu.merge(src, on=["k"], when_matched_update={"v": "nv"})
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ch = tb.read_row_changes(1, 2)
        plan = ch._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = sorted((r.k, r.v, r._change_type) for r in ch.collect())
        want = sorted(
            (r.k, r.v, r._change_type) for r in tu.read_row_changes(1, 2).collect()
        )
        assert got and got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_bucketed_rejects_append_family(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, [(1, "a")]), bucket_by=["k"], n_buckets=2
    )
    for op in (
        lambda: t.append(_df(spark, [(2, "b")])),
        lambda: t.idempotent_append(_df(spark, [(2, "b")]), ["k"]),
        lambda: t.stream_epoch_append(_df(spark, [(2, "b")]), "app", 0),
    ):
        with pytest.raises(ValueError, match="bucketed"):
            op()


def test_bucketed_overwrite_and_compact_keep_layout(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, [(1, "a"), (2, "b")]),
        bucket_by=["k"], n_buckets=2,
    )
    t.overwrite(_df(spark, [(3, "c"), (4, "d")]))
    assert t.bucket_spec()["n"] == 2
    assert sorted(_rows(t.read())) == [(3, "c"), (4, "d")]
    t.compact()
    assert t.bucket_spec()["n"] == 2
    assert len(t._manifest()["files"]) == 2
    assert sorted(_rows(t.read())) == [(3, "c"), (4, "d")]


def test_cobucketed_join_needs_no_exchange_at_all(spark, tmp_path):
    """Two txn tables bucketed identically on the join key: the join plans
    with ZERO exchanges — the co-located-join contract that bucketing buys
    for repeated fact-to-fact joins at scale."""
    a = TxnTable.create(
        spark, str(tmp_path / "a"),
        _df(spark, [(i, f"a{i}") for i in range(100)]),
        bucket_by=["k"], n_buckets=4,
    )
    b = TxnTable.create(
        spark, str(tmp_path / "b"),
        _df(spark, [(i, f"b{i}") for i in range(50, 150)]),
        bucket_by=["k"], n_buckets=4,
    )
    # tiny test frames would auto-broadcast (also exchange-free on the
    # bucketed side, but then the plan proves nothing about co-location);
    # force the shuffle-join path a 100 TB fact-to-fact join would take
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.read().join(b.read().withColumnRenamed("v", "v2"), on=["k"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ------------------------------------------------------------------ z-order


def test_zorder_prunes_on_every_cluster_column(spark, tmp_path):
    """After zorder_by([x, y]), a narrow range on EITHER column prunes most
    files via manifest stats — the multi-dimension layout a linear sort
    cannot give (sorted by x, a y-range keeps everything)."""
    import random

    rng = random.Random(3)
    rows = [(i, rng.randrange(10000), rng.randrange(10000)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id bigint, x bigint, y bigint").repartition(16)
    t = TxnTable.create(spark, str(tmp_path / "z"), df, stats_cols=["x", "y"])
    n_files = len(t._manifest()["files"])
    # round-robin layout: every file spans ~the full range of both columns
    assert len(t.pruned_files("x", 0, 500)) == n_files
    t.zorder_by(["x", "y"], target_partitions=16)
    m = t._manifest()
    assert m["op"] == "zorder" and sorted(m["stats_cols"]) == ["x", "y"]
    nf = len(m["files"])
    kept_x = len(t.pruned_files("x", 0, 500))
    kept_y = len(t.pruned_files("y", 0, 500))
    assert kept_x < nf / 2, (kept_x, nf)
    assert kept_y < nf / 2, (kept_y, nf)
    # pruned read still returns exactly the predicate's rows
    want = sorted((r[0]) for r in rows if 0 <= r[1] <= 500)
    got = sorted(r.id for r in t.read_pruned("x", 0, 500).collect())
    assert got == want
    # history intact: version 1 still reads the original snapshot
    assert t.read(1).count() == 20000


def test_zorder_value_never_touches_sign_bit(spark):
    """With >=4 cluster columns, naive 16-bit interleave would place bits at
    position 63+ (sign bit, then mod-64 shift wraparound) — bits per column
    must scale down so every code stays non-negative and below 2^63."""
    from scraping_jobsdb_spark.sources.txn import _zorder_value

    rows = [(i, i * 3 % 997, i * 7 % 991, i * 11 % 983, i * 13 % 977) for i in range(2000)]
    df = spark.createDataFrame(rows, "a bigint, b bigint, c bigint, d bigint, e bigint")
    for ncols in (4, 5):
        cols = ["a", "b", "c", "d", "e"][:ncols]
        z = df.select(_zorder_value(df, cols).alias("z"))
        lo, hi = z.agg(F.min("z"), F.max("z")).first()
        assert lo >= 0, (ncols, lo)
        assert hi < 1 << 63, (ncols, hi)
        # extremes in every column map to distinct codes (no folded bits)
        assert z.distinct().count() > 1000


def test_zorder_rejected_on_bucketed_table(spark, tmp_path):
    t = TxnTable.create(
        spark, str(tmp_path / "b"), _df(spark, [(1, "a")]), bucket_by=["k"], n_buckets=2
    )
    with pytest.raises(ValueError, match="bucketed"):
        t.zorder_by(["k"])


def test_merge_schema_evolution_adds_source_columns(spark, tdir):
    """evolve_schema=True: source-only columns join the table schema --
    source rows carry their value, pre-existing rows read null. Off by
    default: unknown source columns are silently ignored (documented)."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    source = _df(
        spark, [(2, "B", 20), (3, "c", 30)], "k bigint, v string, score bigint"
    )
    t.merge(source, on=["k"], when_matched_update={"v": "v"}, evolve_schema=True)
    got = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}
    # next merge sees score as a regular (carried) column
    t.merge(_df(spark, [(4, "d", 40)], "k bigint, v string, score bigint"), on=["k"])
    assert {r.k: r.score for r in t.read().collect()}[4] == 40
    # time travel reads v1 with its original two-column schema
    assert t.read(1).columns == ["k", "v"]


def test_checkpoint_interval_override(spark, tdir):
    """A per-table checkpoint cadence recorded at create() governs which
    versions store full file lists vs append deltas."""
    from scraping_jobsdb_spark.sources.txn import _read_raw_manifest

    t = TxnTable.create(
        spark, tdir, _df(spark, [(0, "a")]), checkpoint_interval=3
    )
    for i in range(1, 7):
        t.append(_df(spark, [(i, f"v{i}")]))
    kinds = {
        v: ("files" in _read_raw_manifest(t.path, v)) for v in range(1, 8)
    }
    assert kinds == {1: True, 2: False, 3: True, 4: False, 5: False,
                     6: True, 7: False}
    assert t.read().count() == 7
    assert sorted(r.k for r in t.read_appends_since(2).collect()) == [2, 3, 4, 5, 6]


def test_read_pruned_all_compound_zorder(spark, tmp_path):
    """Compound range pruning on a z-ordered table: the (x AND y) file set
    is the intersection of the per-column keeps — strictly fewer files
    than either column alone — and the rows are exactly the filter's."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(10000), rng.randrange(10000)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id bigint, x bigint, y bigint").repartition(16)
    t = TxnTable.create(spark, str(tmp_path / "z"), df, stats_cols=["x", "y"])
    t.zorder_by(["x", "y"], target_partitions=16)
    kept_x = set(t.pruned_files("x", 0, 1000))
    kept_y = set(t.pruned_files("y", 0, 1000))
    got = t.read_pruned_all({"x": (0, 1000), "y": (0, 1000)})
    n_files_scanned = len(kept_x & kept_y)
    assert n_files_scanned < min(len(kept_x), len(kept_y)), (
        n_files_scanned, len(kept_x), len(kept_y))
    want = sorted(
        r[0] for r in rows if 0 <= r[1] <= 1000 and 0 <= r[2] <= 1000
    )
    assert sorted(r.id for r in got.collect()) == want


def test_restore_rolls_back_metadata_only(spark, tdir):
    """restore(v) re-publishes snapshot v's files as a new commit: data
    matches v exactly, nothing is rewritten (same file list), the botched
    history stays readable, and vacuum keeps every referenced file."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.overwrite(_df(spark, [(9, "bad")]))
    v_bad = t.version()
    new_v = t.restore(2)
    assert new_v == v_bad + 1 and t.version() == new_v
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    m = t._manifest()
    assert m["op"] == "restore" and m["restored_from"] == 2
    assert m["files"] == t._manifest(2)["files"]  # metadata-only
    assert _rows(t.read(v_bad)) == [(9, "bad")]  # forensics intact
    t.vacuum()
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    t.append(_df(spark, [(4, "d")]))
    assert t.read().count() == 4


def test_restore_carries_deletion_vectors(spark, tdir):
    """restore() to a snapshot that carried DVs must carry the 'dvs' map
    too: the snapshot's data files still physically contain the MoR-deleted
    rows, and only the vector overlay hides them. Dropping the map on
    restore would silently resurrect deleted rows (e.g. GDPR erasures) and
    double-count update_where_dv rows (old row + appended copy)."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(4),
    )
    assert t.delete_where_dv(F.col("k") < 10) == 10
    assert t.update_where_dv(F.col("k") == 20, {"x": F.lit(-1.0)}) == 1
    v_dv = t.version()
    assert t.read().count() == 30
    # botch the table, then restore across the DV commits
    t.overwrite(spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x"))
    t.restore(v_dv)
    got = t.read()
    assert got.count() == 30                                   # deletes still hidden
    assert got.filter(F.col("k") < 10).count() == 0            # no resurrection
    assert got.filter(F.col("k") == 20).count() == 1           # no double-count
    assert got.filter(F.col("k") == 20).collect()[0].x == -1.0  # update survives
    assert TxnTable(spark, tdir)._manifest().get("dvs")        # map carried
    # restore to the PRE-DV snapshot yields the original 40 rows, no dvs
    t.restore(1)
    assert t.read().count() == 40
    assert not TxnTable(spark, tdir)._manifest().get("dvs")


def test_set_meta_is_metadata_only_and_carries_snapshot_keys(spark, tdir):
    """set_meta(meta) commits the current snapshot's files unchanged plus
    ``meta``: no data file is written, every snapshot key restore()
    carries (stats, blooms, deletion vectors) rides along, and the op is
    neither an append nor row-preserving — a delta walk across it
    refuses instead of guessing."""
    from scraping_jobsdb_spark.sources.txn import (
        APPEND_OPS,
        ROW_PRESERVING_OPS,
        _SNAPSHOT_KEYS,
        append_delta_files,
    )

    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(4),
        stats_cols=["k"], bloom_cols=["k"],
    )
    assert t.delete_where_dv(F.col("k") < 10) == 10
    before = t._manifest()
    files_before = TxnTable._list_parquet(tdir)
    v = t.set_meta({"mv_source_version": 7})
    assert v == before["version"] + 1 == t.version()
    m = t._manifest()
    assert m["op"] == "set_meta" and m["mv_source_version"] == 7
    assert m["files"] == before["files"]
    for key in _SNAPSHOT_KEYS:
        assert m.get(key) == before.get(key), key
    assert m.get("dvs")
    assert TxnTable._list_parquet(tdir) == files_before
    assert t.read().count() == 30
    assert "set_meta" not in APPEND_OPS | ROW_PRESERVING_OPS
    with pytest.raises(ValueError, match="set_meta"):
        append_delta_files(tdir, v - 1, v, skip_row_preserving=True)


def test_compact_merging_files_runs_one_job(spark, tdir):
    """Compacting into at most the current file count merges scan
    partitions with a coalesce — one map-only write job, no shuffle —
    and keeps the rows; a target above the count still repartitions."""
    t = TxnTable.create(spark, tdir, _df(spark, [(0, "v0")]))
    for i in range(1, 6):
        t.append(_df(spark, [(i, f"v{i}")]))
    want = _rows(t.read())
    sc = spark.sparkContext
    group = f"compact-{os.getpid()}-{t.version()}"
    sc.setJobGroup(group, "compact")
    try:
        assert t.compact(target_partitions=2) <= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert _rows(t.read()) == want
    assert t.compact(target_partitions=4) >= 1
    assert _rows(t.read()) == want


def test_read_asof_timestamp_time_travel(spark, tdir):
    """Every commit records committed_at; read_asof(ts) reads the snapshot
    current at that wall-clock instant."""
    import time as _time

    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    t1 = t._manifest(1)["committed_at"]
    _time.sleep(0.05)
    t.append(_df(spark, [(2, "b")]))
    t2 = t._manifest(2)["committed_at"]
    assert t1 < t2
    assert _rows(t.read_asof((t1 + t2) / 2)) == [(1, "a")]
    assert _rows(t.read_asof(t2)) == [(1, "a"), (2, "b")]
    with pytest.raises(FileNotFoundError):
        t.version_asof(t1 - 10)


def test_apply_changes_replicates_table(spark, tmp_path):
    """Downstream sync: applying A's v1->v2 change feed to a copy of A@v1
    reproduces A@v2 exactly — including an update (delete+insert pair)
    and multiset semantics on duplicate rows."""
    rows = [(1, "a"), (2, "b"), (2, "b"), (3, "c")]  # dup row
    a = TxnTable.create(spark, str(tmp_path / "a"), _df(spark, rows))
    b = TxnTable.create(spark, str(tmp_path / "b"), _df(spark, rows))
    a.merge(
        _df(spark, [(2, "B"), (4, "d")], "k bigint, nv string"),
        on=["k"],
        when_matched_update={"v": "nv"},
    )
    changes = a.read_row_changes(1)
    b.apply_changes(changes)
    assert _rows(b.read()) == _rows(a.read())
    assert b._manifest()["op"] == "apply_changes"
    # applying an empty feed is a no-op commit with identical rows
    b.apply_changes(a.read_row_changes(a.version()))
    assert _rows(b.read()) == _rows(a.read())


# ------------------------------------------------------- incremental MV


def _mv(spark, src, view):
    from scraping_jobsdb_spark.sources.mv import IncrementalAggView

    return IncrementalAggView(
        spark,
        src,
        view,
        group_cols=["k"],
        measures={
            "n": ("count", None),
            "total": ("dsum", "x"),
            "lo": ("min", "x"),
            "hi": ("max", "x"),
        },
    )


def _mv_df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, x double")


def test_mv_incremental_equals_full_recompute(spark, tmp_path):
    """The MV invariant: folding append deltas file-by-file produces exactly
    the aggregate a one-shot recompute over the final snapshot produces."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    t = TxnTable.create(spark, src, _mv_df(spark, [(1, 10.5), (2, 1.25)]))
    mv = _mv(spark, src, view)
    assert mv.refresh() == 1
    t.append(_mv_df(spark, [(1, 2.25), (3, 7.0)]))
    t.append(_mv_df(spark, [(2, -1.25), (1, 0.5)]))
    assert mv.refresh() == 3
    got = _rows(mv.read().select("k", "n", F.col("total").cast("double"), "lo", "hi"))
    want = _rows(
        t.read()
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(30,4)")).cast("double").alias("total"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
    )
    assert got == want


def test_mv_refresh_is_idempotent_and_tracks_watermark(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    t = TxnTable.create(spark, src, _mv_df(spark, [(1, 1.0)]))
    mv = _mv(spark, src, view)
    assert mv.applied_source_version() == -1
    mv.refresh()
    assert mv.applied_source_version() == 1
    v_before = TxnTable(spark, view).version()
    # already current: no commit, watermark unchanged
    assert mv.refresh() == 1
    assert TxnTable(spark, view).version() == v_before
    t.append(_mv_df(spark, [(1, 2.0)]))
    assert mv.refresh() == 2
    assert mv.applied_source_version() == 2


def test_mv_falls_back_to_full_recompute_after_rewrite(spark, tmp_path):
    """A non-append commit (overwrite/merge/compact) voids the delta
    algebra; refresh must detect it and recompute from the snapshot —
    and the NEXT refresh is incremental again."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    t = TxnTable.create(spark, src, _mv_df(spark, [(1, 1.0), (2, 2.0)]))
    mv = _mv(spark, src, view)
    mv.refresh()
    t.overwrite(_mv_df(spark, [(1, 5.0), (3, 3.0)]))
    assert mv.refresh() == 2
    assert _rows(mv.read().select("k", "n")) == [(1, 1), (3, 1)]
    t.append(_mv_df(spark, [(3, 4.0)]))
    assert mv.refresh() == 3
    got = _rows(mv.read().select("k", "n", F.col("total").cast("double")))
    assert got == [(1, 1, 5.0), (3, 2, 7.0)]


def test_mv_skips_row_preserving_maintenance(spark, tmp_path):
    """compact/zorder rewrite files, not rows: a refresh across a
    maintenance commit that PRECEDES the range's appends keeps folding
    incrementally (no full recompute — asserted by counting source scans
    via the delta-file read), while a compact landing AFTER in-range
    appends still falls back, and results are exact either way."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    t = TxnTable.create(
        spark, src, _mv_df(spark, [(1, 1.0), (2, 2.0)]).coalesce(1)
    )
    mv = _mv(spark, src, view)
    mv.refresh()
    # v2 = compact (row-preserving), v3 = append; refresh folds ONLY v3
    t.compact(target_partitions=1)
    t.append(_mv_df(spark, [(1, 3.0), (3, 4.0)]).coalesce(1))
    from scraping_jobsdb_spark.sources.txn import append_delta_files

    files = append_delta_files(src, 1, 3, skip_row_preserving=True)
    assert len(files) == 1  # exactly the appended file — the compact is skipped
    assert mv.refresh() == 3
    got = _rows(mv.read().select("k", "n", F.col("total").cast("double")))
    assert got == [(1, 2, 4.0), (2, 1, 2.0), (3, 1, 4.0)]
    # compact AFTER an in-range append: the append's file was folded into
    # the rewrite — the tolerant walk must refuse, refresh full-recomputes
    t.append(_mv_df(spark, [(3, 5.0)]).coalesce(1))
    t.compact(target_partitions=1)
    import pytest

    with pytest.raises(ValueError, match="after in-range appends"):
        append_delta_files(src, 3, 5, skip_row_preserving=True)
    assert mv.refresh() == 5
    got = _rows(mv.read().select("k", "n", F.col("total").cast("double")))
    assert got == [(1, 2, 4.0), (2, 1, 2.0), (3, 2, 9.0)]
    # and incremental again after the fallback
    t.append(_mv_df(spark, [(2, 1.0)]).coalesce(1))
    assert mv.refresh() == 6
    assert _rows(mv.read().select("k", "n")) == [(1, 2), (2, 2), (3, 2)]


# ------------------------------------------------------ bloom file skipping


def _bloom_df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .selectExpr("id AS k", "CAST(id * 7 AS DOUBLE) AS v")
        .repartition(8)
    )


def test_bloom_point_lookup_prunes_and_stays_exact(spark, tmp_path):
    """Hash-distributed writes give every file a full-range min/max —
    useless to the range index — but the per-file bloom pins a point key
    to the file(s) that actually hold it. Pruning must never change
    results, present or absent."""
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _bloom_df(spark, 0, 1000), bloom_cols=["k"], bloom_bits=2048
    )
    t.append(_bloom_df(spark, 1000, 2000))
    total = len(TxnTable(spark, path)._manifest()["files"])
    assert total >= 16
    for probe in (3, 777, 1500):
        kept = t.bloom_pruned_files("k", probe)
        assert len(kept) < total // 4, (probe, len(kept), total)
        assert _rows(t.read_point("k", probe)) == _rows(
            t.read().filter(F.col("k") == probe)
        )
    # absent key: typically zero files survive; result MUST be empty
    assert t.read_point("k", 999_999).count() == 0


def test_bloom_maintained_across_rewrites_and_restore(spark, tmp_path):
    """Every write path funnels through _stats_extra/_bloom_extra, so the
    bloom index survives compact (whole-snapshot rewrite recomputes per
    new file) and restore (metadata-only carry)."""
    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _bloom_df(spark, 0, 500), bloom_cols=["k"], bloom_bits=2048
    )
    t.append(_bloom_df(spark, 500, 1000))
    t.compact(target_partitions=4)
    m = t._manifest()
    assert set(m["file_blooms"]) == set(m["files"])
    assert _rows(t.read_point("k", 250)) == [(250, 1750.0)]
    v_good = t.version()
    t.overwrite(_bloom_df(spark, 0, 10))
    t.restore(v_good)
    m2 = t._manifest()
    assert set(m2["file_blooms"]) == set(m2["files"])
    assert _rows(t.read_point("k", 250)) == [(250, 1750.0)]


def test_bloom_delta_manifests_carry_only_adds(spark, tmp_path):
    """Between checkpoints an append's manifest stores blooms ONLY for its
    added files; read_manifest resolution merges the full map back."""
    from scraping_jobsdb_spark.sources.txn import _read_raw_manifest, read_manifest

    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, _bloom_df(spark, 0, 100), bloom_cols=["k"], bloom_bits=2048
    )
    t.append(_bloom_df(spark, 100, 200))
    raw = _read_raw_manifest(path, 2)
    if "adds" in raw:  # delta form: blooms restricted to the delta
        assert set(raw["file_blooms"]) == set(raw["adds"])
    resolved = read_manifest(path, 2)
    assert set(resolved["file_blooms"]) == set(resolved["files"])


def test_append_schema_evolution_additive(spark, tdir):
    """evolve_schema=True: table-only columns fill with nulls, df-only
    columns extend the committed schema, and old files read through the
    widened schema as nulls. Without the flag, a mismatched frame raises
    instead of silently forking the schema."""
    t = TxnTable.create(spark, tdir, _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="evolve_schema"):
        t.append(spark.createDataFrame([(2, 9.5)], "k bigint, score double"))
    t.append(
        spark.createDataFrame([(2, 9.5)], "k bigint, score double"),
        evolve_schema=True,
    )
    got = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: (None, 9.5)}
    # next strict append must now match the EVOLVED schema
    t.append(
        spark.createDataFrame(
            [(3, "c", 1.5)], "k bigint, v string, score double"
        )
    )
    assert t.read().count() == 3


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """Delta-style CHECK constraints: recorded at create, enforced on
    append/overwrite/merge by every writer instance; a violating write
    raises BEFORE any commit (version and data unchanged); NULL satisfies
    (SQL CHECK semantics); validation is fused into the existing post-write
    count pass."""
    import pytest

    from scraping_jobsdb_spark.sources.txn import TxnTable

    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark,
        path,
        spark.createDataFrame([(1, 10.0), (2, 0.5)], "k bigint, x double"),
        constraints={"x_nonneg": "x >= 0", "k_pos": "k > 0"},
    )
    # create itself validates
    with pytest.raises(ValueError, match="x_nonneg"):
        TxnTable.create(
            spark,
            str(tmp_path / "bad"),
            spark.createDataFrame([(1, -1.0)], "k bigint, x double"),
            constraints={"x_nonneg": "x >= 0"},
        )
    # a FRESH instance (constraints come from the manifest, not memory)
    t2 = TxnTable(spark, path)
    with pytest.raises(ValueError, match="x_nonneg.*1 row"):
        t2.append(spark.createDataFrame([(3, -2.0)], "k bigint, x double"))
    assert t2.version() == 1  # nothing committed
    assert sorted(map(tuple, t2.read().collect())) == [(1, 10.0), (2, 0.5)]
    # NULL satisfies
    t2.append(spark.createDataFrame([(4, None)], "k bigint, x double"))
    assert t2.version() == 2
    # merge path validated too
    src = spark.createDataFrame([(1, -5.0)], "k bigint, x double")
    with pytest.raises(ValueError, match="x_nonneg"):
        t2.merge(src, ["k"], when_matched_update={"x": "x"})
    # overwrite path validated
    with pytest.raises(ValueError, match="k_pos"):
        t2.overwrite(spark.createDataFrame([(0, 1.0)], "k bigint, x double"))
    # valid writes still flow
    t2.append(spark.createDataFrame([(5, 1.5)], "k bigint, x double"))
    assert {r.k for r in t2.read().collect()} == {1, 2, 4, 5}
    # "__"-prefixed names are reserved (the fused validation aggregate
    # aliases its internal row count "__n"; a user constraint of that name
    # would collide and corrupt the row[name] lookup)
    with pytest.raises(ValueError, match="reserved"):
        TxnTable.create(
            spark,
            str(tmp_path / "resv"),
            spark.createDataFrame([(1, 1.0)], "k bigint, x double"),
            constraints={"__n": "x >= 0"},
        )


def test_maybe_compact_threshold_policy(spark, tmp_path):
    """maybe_compact: no-op (manifest-read only, no new version) while the
    snapshot holds <= max_files files; one compact commit once the append
    loop crosses the threshold; data identical before/after."""
    import pytest

    from scraping_jobsdb_spark.sources.txn import TxnTable

    path = str(tmp_path / "t")
    t = TxnTable.create(
        spark, path, spark.range(10).selectExpr("id AS k").coalesce(1)
    )
    with pytest.raises(ValueError):
        t.maybe_compact(0)
    v_before = t.version()
    assert t.maybe_compact(max_files=50) is None
    assert t.version() == v_before  # no commit happened
    # accumulate small files past the threshold
    for i in range(6):
        t.append(spark.range(10 * (i + 1), 10 * (i + 2)).selectExpr("id AS k").coalesce(1))
    n_files = len(t._manifest()["files"])
    assert n_files > 4
    before = sorted(r.k for r in t.read().collect())
    new_count = t.maybe_compact(max_files=4, target_partitions=2)
    assert new_count is not None and len(t._manifest()["files"]) <= 4
    assert t._manifest()["op"] == "compact"
    assert sorted(r.k for r in t.read().collect()) == before
    # back under threshold: policy no-ops again
    assert t.maybe_compact(max_files=4) is None


def test_maybe_compact_bucketed_is_noop(spark, tmp_path):
    """A bucketed snapshot is already one file per bucket and every commit
    rewrites it whole: maybe_compact must no-op (never a rewrite-per-call
    loop when the threshold sits under n_buckets)."""
    from scraping_jobsdb_spark.sources.txn import TxnTable

    t = TxnTable.create(
        spark,
        str(tmp_path / "b"),
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"),
        bucket_by=["k"],
        n_buckets=8,
    )
    v = t.version()
    assert t.maybe_compact(max_files=2) is None  # threshold < n_buckets
    assert t.version() == v  # no commit


# ------------------------------------------------- file-level COW delete


def test_delete_where_rewrites_only_touched_files(spark, tdir):
    """DELETE WHERE: matching rows vanish, FALSE and NULL predicate rows
    survive (SQL semantics); files with no matching row carry over
    UNREWRITTEN (same physical path in the new manifest); time travel
    still reads the old snapshot; a no-match delete commits nothing."""
    t = TxnTable.create(
        spark, tdir,
        _df(spark, [(1, "a"), (2, "b")]).coalesce(1),
    )
    t.append(_df(spark, [(3, "c"), (4, None)]).coalesce(1))
    t.append(_df(spark, [(5, "e")]).coalesce(1))
    files_before = set(TxnTable(spark, tdir)._manifest()["files"])
    # delete k=3: only the second file holds it; v is NULL for k=4 -> the
    # NULL-predicate row survives
    n = t.delete_where(F.col("k") == 3)
    assert n == 1
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (4, None), (5, "e")]
    files_after = set(TxnTable(spark, tdir)._manifest()["files"])
    # the files holding k=1,2 and k=5 carried over by path
    assert len(files_before & files_after) == 2
    # time travel: pre-delete snapshot intact
    assert len(_rows(t.read(version=3))) == 5
    # NULL predicate: v = NULL rows survive a predicate on v
    assert t.delete_where(F.col("v") == "nope") == 0  # no match: no commit
    v = t.version()
    assert t.delete_where(F.col("v") == "a") == 1
    assert t.version() == v + 1
    assert _rows(t.read()) == [(2, "b"), (4, None), (5, "e")]


def test_replace_where_is_idempotent_backfill(spark, tdir):
    """replaceWhere: the predicate slice is atomically swapped for the new
    frame; re-running the same backfill yields the identical table
    (idempotence); an insert row outside the predicate is rejected;
    untouched files carry over."""
    import pytest

    t = TxnTable.create(
        spark, tdir,
        _df(spark, [(1, "day1"), (2, "day1")], "k bigint, day string").coalesce(1),
    )
    t.append(_df(spark, [(3, "day2"), (4, "day2")], "k bigint, day string").coalesce(1))
    files_before = set(TxnTable(spark, tdir)._manifest()["files"])
    redo = _df(spark, [(30, "day2"), (40, "day2"), (50, "day2")], "k bigint, day string")
    t.replace_where(F.col("day") == "day2", redo)
    assert _rows(t.read()) == [(1, "day1"), (2, "day1"), (30, "day2"), (40, "day2"), (50, "day2")]
    # day1's file carried over untouched
    assert files_before & set(TxnTable(spark, tdir)._manifest()["files"])
    # idempotent: same backfill again -> same table
    t.replace_where(F.col("day") == "day2", redo)
    assert _rows(t.read()) == [(1, "day1"), (2, "day1"), (30, "day2"), (40, "day2"), (50, "day2")]
    # stray insert outside the predicate: rejected before any commit
    v = t.version()
    with pytest.raises(ValueError, match="does not satisfy"):
        t.replace_where(F.col("day") == "day2", _df(spark, [(9, "day9")], "k bigint, day string"))
    assert t.version() == v


def test_delete_where_respects_stats_and_constraints(spark, tdir):
    """File stats stay maintained across a delete (pruned reads exact) and
    CHECK constraints re-validate rewritten survivors."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(4),
        stats_cols=["k"],
        constraints={"x_nonneg": "x >= 0"},
    )
    t.delete_where((F.col("k") >= 40) & (F.col("k") < 60))
    assert t.read().count() == 80
    kept = sorted(r.k for r in t.read_pruned("k", 35, 45).collect())
    assert kept == list(range(35, 40))  # pruning exact post-delete


# --------------------------------------------------- deletion vectors (MoR)


def test_delete_where_dv_merge_on_read(spark, tdir):
    """Merge-on-read delete: rows vanish from every read path with ZERO
    data files rewritten (file list unchanged across the commit); a second
    DV stacks on the first; already-DV-deleted rows can't re-match; time
    travel reads pre-delete snapshots; appends carry the vectors; compact
    materializes deletions and drops them."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 100).selectExpr("id AS k", "CAST(id % 7 AS INT) AS g").repartition(4),
    )
    files_v1 = list(TxnTable(spark, tdir)._manifest()["files"])
    assert t.delete_where_dv(F.col("k") % 10 == 0) == 10
    m = TxnTable(spark, tdir)._manifest()
    assert m["files"] == files_v1            # no data file rewritten
    assert m.get("dvs")                       # vectors recorded
    assert t.read().count() == 90
    assert t.read().filter(F.col("k") % 10 == 0).count() == 0
    # second DV stacks; re-deleting the same predicate is a no-op
    assert t.delete_where_dv(F.col("k") % 10 == 0) == 0
    assert t.delete_where_dv(F.col("k") == 7) == 1
    assert t.read().count() == 89
    # time travel: v1 still sees all 100
    assert t.read(version=1).count() == 100
    # appends carry the vectors forward
    t.append(spark.range(100, 110).selectExpr("id AS k", "CAST(id % 7 AS INT) AS g").coalesce(1))
    assert t.read().count() == 99
    assert t.read().filter(F.col("k") == 7).count() == 0
    # copy-on-write delete on a DV-carrying table must not resurrect rows
    assert t.delete_where(F.col("k") == 101) == 1
    assert t.read().count() == 98
    assert t.read().filter((F.col("k") == 7) | (F.col("k") % 10 == 0) & (F.col("k") < 100)).count() == 0
    # compact: deletions materialize, vectors dropped
    t.compact(target_partitions=2)
    m2 = TxnTable(spark, tdir)._manifest()
    assert not m2.get("dvs")
    assert t.read().count() == 98


def test_delete_where_dv_point_and_pruned_reads_overlay(spark, tdir):
    """The DV overlay applies to stats-pruned and bloom point reads too —
    pruning never resurrects deleted rows."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(4),
        stats_cols=["k"],
        bloom_cols=["k"],
        bloom_bits=1024,
    )
    t.delete_where_dv((F.col("k") >= 50) & (F.col("k") < 60))
    assert sorted(r.k for r in t.read_pruned("k", 45, 65).collect()) == (
        list(range(45, 50)) + list(range(60, 66))
    )
    assert t.read_point("k", 55).count() == 0
    assert t.read_point("k", 65).count() == 1
    # reserved-name guard
    import pytest

    bad = TxnTable.create(
        spark, str(tdir) + "_b",
        spark.createDataFrame([(1, "f")], "k bigint, file_name string"),
    )
    with pytest.raises(ValueError, match="reserved"):
        bad.delete_where_dv(F.col("k") == 1)


def test_update_where_rewrites_only_touched_files(spark, tdir):
    """UPDATE WHERE: matching rows get the SET expressions (types pinned
    to the schema), non-matching and NULL-predicate rows carry unchanged,
    untouched files carry over by path, unknown SET targets raise, and a
    no-match update commits nothing."""
    import pytest

    t = TxnTable.create(
        spark, tdir,
        _df(spark, [(1, "a"), (2, "b")]).coalesce(1),
    )
    t.append(_df(spark, [(3, "c"), (4, None)]).coalesce(1))
    files_before = set(TxnTable(spark, tdir)._manifest()["files"])
    n = t.update_where(F.col("k") >= 3, {"v": F.concat(F.coalesce(F.col("v"), F.lit("?")), F.lit("!"))})
    assert n == 2
    assert _rows(t.read()) == [(1, "a"), (2, "b"), (3, "c!"), (4, "?!")]
    files_after = set(TxnTable(spark, tdir)._manifest()["files"])
    assert files_before & files_after  # the k=1,2 file carried over
    # NULL-predicate rows carry unchanged
    assert t.update_where(F.col("v") == "zzz", {"v": F.lit("x")}) == 0
    with pytest.raises(ValueError, match="SET targets"):
        t.update_where(F.col("k") == 1, {"nope": F.lit(1)})
    # SQL-string forms for both cond and expression
    assert t.update_where("k = 1", {"v": "upper(v)"}) == 1
    assert _rows(t.read()) == [(1, "A"), (2, "b"), (3, "c!"), (4, "?!")]
    # time travel intact
    assert _rows(t.read(version=2)) == [(1, "a"), (2, "b"), (3, "c"), (4, None)]


def test_update_where_dv_merge_on_read(spark, tdir):
    """MoR update: one commit = deletion vector over matched rows + their
    updated copies appended; no pre-existing file rewritten; reads see
    updated values everywhere; chains with MoR delete; compact
    materializes; updated copies are themselves updatable."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x").repartition(2),
    )
    files_v1 = set(TxnTable(spark, tdir)._manifest()["files"])
    assert t.update_where_dv(F.col("k") < 10, {"x": F.col("x") + 1000.0}) == 10
    m = TxnTable(spark, tdir)._manifest()
    assert files_v1 <= set(m["files"])  # old files all still present
    assert m.get("dvs")
    got = {r.k: r.x for r in t.read().collect()}
    assert len(got) == 50
    assert got[3] == 1003.0 and got[20] == 20.0
    # update the updated copy again (its rows live in appended files)
    assert t.update_where_dv(F.col("k") == 3, {"x": F.lit(-1.0)}) == 1
    assert {r.x for r in t.read().filter(F.col("k") == 3).collect()} == {-1.0}
    # MoR delete composes on top
    assert t.delete_where_dv(F.col("x") == -1.0) == 1
    assert t.read().count() == 49
    # compact: everything materializes, vectors dropped, values kept
    t.compact(target_partitions=2)
    m2 = TxnTable(spark, tdir)._manifest()
    assert not m2.get("dvs")
    got2 = {r.k: r.x for r in t.read().collect()}
    assert len(got2) == 49 and got2[5] == 1005.0 and 3 not in got2


def test_maybe_compact_dv_threshold(spark, tdir):
    """max_dv_files: a stack of deletion vectors past the threshold
    triggers compaction (DV GC) even when the data-file count is fine;
    under both thresholds it stays a no-op."""
    t = TxnTable.create(
        spark, tdir,
        spark.range(0, 40).selectExpr("id AS k").coalesce(2),
    )
    for i in range(3):
        assert t.delete_where_dv(F.col("k") == i) == 1
    v = t.version()
    assert t.maybe_compact(max_files=50, max_dv_files=5) is None
    assert t.version() == v  # under both thresholds
    assert t.maybe_compact(max_files=50, max_dv_files=2) is not None
    m = TxnTable(spark, tdir)._manifest()
    assert not m.get("dvs")
    assert t.read().count() == 37


def test_dv_with_schema_evolution_and_occ(spark, tdir):
    """Deletion vectors survive the edge interactions: (1) an evolving
    append on a DV-carrying table (old files read through the widened
    schema, vectors still apply); (2) an OCC race — a concurrent append
    lands between a DV delete's base read and its commit, the delete
    retries and BOTH effects land."""
    t = TxnTable.create(
        spark, tdir,
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1),
    )
    assert t.delete_where_dv(F.col("k") == 2) == 1
    # additive schema evolution on top of a DV
    t.append(
        spark.createDataFrame([(4, "d", 9.5)], "k bigint, v string, w double")
    )
    got = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert got == {1: ("a", None), 3: ("c", None), 4: ("d", 9.5)}
    # OCC: interleave an append inside the DV delete's attempt
    real_commit = t._commit
    state = {"done": False}

    def racing_commit(base, files, schema, op, n_rows, extra=None):
        if not state["done"] and op == "delete_dv":
            state["done"] = True
            other = TxnTable(spark, t.path)
            other.append(
                spark.createDataFrame([(5, "e", 1.0)], "k bigint, v string, w double")
            )
        return real_commit(base, files, schema, op, n_rows, extra=extra)

    t._commit = racing_commit
    assert t.delete_where_dv(F.col("k") == 3) == 1
    t._commit = real_commit
    assert state["done"]
    final = {r.k for r in t.read().collect()}
    assert final == {1, 4, 5}  # both the racing append and the delete landed


def test_dv_rejects_duplicate_basenames(spark, tdir, tmp_path):
    """An adopted layout with colliding part-file basenames must refuse
    merge-on-read ops: the DV position key is (file_name, row_index) and
    a collision would delete rows from both files. Copy-on-write delete
    still works."""
    import pytest

    d = str(tmp_path / "ext")
    spark.createDataFrame([(1, "a")], "k bigint, v string").coalesce(1)\
        .write.parquet(d + "/p1")
    spark.createDataFrame([(2, "b")], "k bigint, v string").coalesce(1)\
        .write.parquet(d + "/p2")
    import glob as _g
    import os as _os
    import shutil as _sh
    # force identical basenames in two subdirs
    for sub in ("p1", "p2"):
        f = _g.glob(f"{d}/{sub}/part-*.parquet")[0]
        _sh.move(f, f"{d}/{sub}/part-00000.parquet")
        for extra in _g.glob(f"{d}/{sub}/_*"):
            _os.remove(extra)
    t = TxnTable.ensure(spark, d)
    assert t.read().count() == 2
    with pytest.raises(ValueError, match="duplicate file basenames"):
        t.delete_where_dv(F.col("k") == 1)
    assert t.delete_where(F.col("k") == 1) == 1  # COW path unaffected
    assert _rows(t.read()) == [(2, "b")]


def test_vacuum_keeps_referenced_dvs_removes_orphans(spark, tdir):
    """vacuum: deletion vectors referenced by ANY manifest survive (time
    travel through DV history stays valid); a crashed DV write's orphan
    parquet is removed."""
    import glob as _g
    import os as _os

    t = TxnTable.create(
        spark, tdir, spark.range(0, 20).selectExpr("id AS k").coalesce(1)
    )
    t.delete_where_dv(F.col("k") < 5)
    # simulate a crashed attempt: a dv dir written, never committed
    orphan_dir = _os.path.join(tdir, "_txn", "dv", "deadbeef")
    spark.createDataFrame(
        [("x.parquet", 0)], "file_name string, row_index bigint"
    ).coalesce(1).write.parquet(orphan_dir)
    n_orphans = len(_g.glob(orphan_dir + "/*.parquet"))
    assert n_orphans >= 1
    removed = t.vacuum()
    assert removed >= n_orphans
    assert not _os.path.isdir(orphan_dir)
    # the committed vector survives and still applies
    assert t.read().count() == 15
    assert t.read(version=1).count() == 20


def test_merge_not_matched_by_source_clauses(spark, tdir):
    """WHEN NOT MATCHED BY SOURCE (the full-sync / soft-delete surface):
    DELETE makes the table mirror the source snapshot; UPDATE instead
    rewrites target-only rows (staleness flag); a conditional delete
    removes only qualifying target-only rows; delete wins over update
    where its condition holds; join-key/unknown update targets raise."""
    import pytest

    base = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    source = _df(spark, [(2, "B"), (5, "E")], "k bigint, nv string")

    # (1) full sync: update + insert + not-matched-by-source delete
    t = TxnTable.create(spark, tdir + "_sync", _df(spark, base))
    t.merge(
        source,
        on=["k"],
        when_matched_update={"v": "nv"},
        when_not_matched_by_source_delete=True,
    )
    assert _rows(t.read()) == [(2, "B"), (5, "E")]  # mirrors the source

    # (2) soft delete: target-only rows flagged, not removed
    t2 = TxnTable.create(spark, tdir + "_soft", _df(spark, base))
    t2.merge(
        source,
        on=["k"],
        when_matched_update={"v": "nv"},
        when_not_matched_by_source_update={"v": F.lit("stale")},
    )
    assert _rows(t2.read()) == [
        (1, "stale"), (2, "B"), (3, "stale"), (4, "stale"), (5, "E"),
    ]

    # (3) conditional delete: only k=1 among the target-only rows goes
    t3 = TxnTable.create(spark, tdir + "_cond", _df(spark, base))
    t3.merge(
        source,
        on=["k"],
        when_matched_update={"v": "nv"},
        when_not_matched_by_source_delete=F.col("t.k") == 1,
    )
    assert _rows(t3.read()) == [(2, "B"), (3, "c"), (4, "d"), (5, "E")]

    # (4) delete wins over update where its condition holds
    t4 = TxnTable.create(spark, tdir + "_both", _df(spark, base))
    t4.merge(
        source,
        on=["k"],
        when_matched_update={"v": "nv"},
        when_not_matched_by_source_delete=F.col("t.k") == 1,
        when_not_matched_by_source_update={"v": F.lit("stale")},
    )
    assert _rows(t4.read()) == [(2, "B"), (3, "stale"), (4, "stale"), (5, "E")]

    # (5) validation: unknown / join-key targets
    t5 = TxnTable.create(spark, tdir + "_bad", _df(spark, base))
    with pytest.raises(ValueError, match="unknown or"):
        t5.merge(source, on=["k"], when_not_matched_by_source_update={"k": F.lit(0)})
    with pytest.raises(ValueError, match="unknown or"):
        t5.merge(source, on=["k"], when_not_matched_by_source_update={"zz": F.lit(0)})
