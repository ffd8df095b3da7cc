"""Transactional Parquet tables: manifest + snapshot reads + MERGE.

The reference got transactionality for free from Postgres — every DML ran in
a transaction and idempotence came from ``ON CONFLICT DO NOTHING`` on a
UNIQUE constraint (``sql/scrape_url_insert_data.sql:4``,
``sql/scrape_url_create_raw_table.sql:11``). Plain-Parquet Spark has neither:
``mode("append")`` is visible file-by-file, and overwrite is destructive
mid-write. This module supplies the missing layer, Delta-style but
self-contained:

- **Commit log**: ``<table>/_txn/v{N}.json`` manifests, each the COMPLETE
  list of data files in snapshot N plus the schema and operation metadata.
  A reader lists manifests, takes the max version, and reads exactly those
  files — writers never mutate or delete a committed snapshot's files, so
  reads are repeatable and time travel is ``read(version=K)``.
- **Atomic commit**: the manifest is written to a scratch name and published
  with ``os.link`` (hard link), which is atomic and fails with EEXIST if the
  version already exists. That single primitive gives optimistic concurrency:
  a writer that loses the race re-reads the new snapshot and retries its
  whole operation against it. (On object stores swap the link for the
  store's conditional-put / put-if-absent — same protocol, which is exactly
  Delta's pluggable LogStore contract.)
- **Crash safety**: data files are written BEFORE the manifest; a crash
  between the two leaves orphaned files invisible to every reader (the old
  snapshot still reads), cleaned opportunistically by ``vacuum()``.
- **MERGE**: copy-on-write upsert/delete expressed as one full-outer join —
  matched rows update (or delete), unmatched source rows insert — then a
  whole-snapshot commit. One shuffle on the merge key; at scale AQE
  broadcasts the small side.
- **Exactly-once idempotent append**: anti-join against the CURRENT snapshot
  inside the OCC retry loop, so two concurrent writers appending overlapping
  keys serialize — the loser re-anti-joins against the winner's commit and
  appends only genuinely-new keys (the Postgres ON CONFLICT guarantee).

Scale posture: manifests hold file paths + row counts only (KBs per commit);
data files are immutable splittable Parquet, so snapshot reads keep predicate
pushdown/column pruning. The metadata operations are driver-side by design —
the same division of labor as Delta/Iceberg.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "TxnTable",
    "TxnConflict",
    "read_table_any",
    "APPEND_OPS",
    "read_manifest",
    "current_version",
    "append_delta_files",
]

_TXN_DIR = "_txn"
_DATA_DIR = "data"

# Commit ops whose file delta IS a row delta (pure additions). Everything
# else (overwrite/merge/compact/zorder) rewrites files, so its delta cannot
# be tailed as an append stream. Single source of truth for BOTH the batch
# CDC path (read_appends_since) and the streaming source
# (streaming/txn_source.py) — an allowlist, so a future op defaults to
# "not streamable" instead of silently leaking rewritten files downstream.
APPEND_OPS = frozenset(
    {"create", "append", "idempotent_append", "stream_epoch_append", "adopt"}
)

# Ops that rewrite files WITHOUT changing the row multiset: a compaction or
# re-clustering commit contributes zero row delta, so delta-algebra
# consumers (incremental MVs) may skip it and keep folding appends around
# it instead of falling back to a full recompute. An allowlist for the same
# reason as APPEND_OPS.
ROW_PRESERVING_OPS = frozenset({"compact", "zorder"})

# Manifest keys that describe a snapshot's FILES rather than one commit. A
# metadata-only commit that re-references a snapshot's files (restore,
# set_meta) carries them, or readers lose the skipping index or the bucket
# layout — and without "dvs" a snapshot taken after delete_where_dv /
# update_where_dv would silently resurrect MoR-deleted rows (e.g. GDPR
# erasures) and double-count updated ones (old row + appended copy).
_SNAPSHOT_KEYS = (
    "stats_cols", "file_stats", "bucket",
    "bloom_cols", "bloom_bits", "bloom_probes", "file_blooms",
    "dvs",
)


def _jsonable(v):
    """Stat values as JSON-comparable scalars: numbers pass through, dates/
    timestamps become ISO strings (ISO order == chronological order)."""
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def read_table_any(spark: SparkSession, path: str) -> DataFrame:
    """Read ``path`` as a txn-table snapshot when it is one, else as plain
    Parquet — the pipelines' reader while tables migrate formats."""
    if TxnTable.exists(spark, path):
        return TxnTable(spark, path).read()
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# Manifest-log primitives. Pure Python (no SparkSession), so the streaming
# source — which runs where no session exists — shares the exact same code
# as TxnTable instead of re-implementing the log layout.
# --------------------------------------------------------------------------


# Append commits between checkpoints write DELTA manifests ("adds" only);
# every _CHECKPOINT_INTERVAL-th version — and every whole-snapshot rewrite —
# writes the complete file list. Keeps per-commit manifest size O(delta)
# instead of O(table files) on long append histories, while resolution cost
# stays bounded at O(interval) raw reads (Delta's checkpoint design).
_CHECKPOINT_INTERVAL = 10


def _read_raw_manifest(table_path: str, version: int) -> dict[str, Any]:
    """The manifest EXACTLY as stored: either a checkpoint (complete
    "files" list) or an append delta ("adds" + "delta_base")."""
    if version <= 0:
        raise FileNotFoundError(f"{table_path}: no committed snapshot")
    with open(
        os.path.join(table_path, _TXN_DIR, _manifest_name(version))
    ) as fh:
        return json.load(fh)


def read_manifest(table_path: str, version: int) -> dict[str, Any]:
    """Manifest ``version`` with "files" (and merged "file_stats" /
    "file_blooms") always materialized: delta manifests are resolved by
    walking back to the nearest checkpoint — at most
    ``_CHECKPOINT_INTERVAL`` raw reads — and replaying the adds in commit
    order. Consumers never see the delta encoding."""
    m = _read_raw_manifest(table_path, version)
    if "files" in m:
        return m
    deltas = [m]
    v = version - 1
    while True:
        base = _read_raw_manifest(table_path, v)
        if "files" in base:
            break
        deltas.append(base)
        v -= 1
    files = list(base["files"])
    stats = dict(base.get("file_stats") or {})
    blooms = dict(base.get("file_blooms") or {})
    dvs = dict(base.get("dvs") or {})
    for d in reversed(deltas):
        files.extend(d["adds"])
        stats.update(d.get("file_stats") or {})
        blooms.update(d.get("file_blooms") or {})
        dvs.update(d.get("dvs") or {})
    out = dict(m)
    out["files"] = files
    if dvs:
        out["dvs"] = dvs
    if m.get("stats_cols") or base.get("stats_cols"):
        out.setdefault("stats_cols", base.get("stats_cols"))
        out["file_stats"] = stats
    if m.get("bloom_cols") or base.get("bloom_cols"):
        for key in ("bloom_cols", "bloom_bits", "bloom_probes"):
            out.setdefault(key, base.get(key))
        out["file_blooms"] = blooms
    return out


def current_version(table_path: str) -> int:
    """Highest committed version (0 = no commits yet)."""
    log = os.path.join(table_path, _TXN_DIR)
    if not os.path.isdir(log):
        return 0
    versions = [
        int(f[1:-5])
        for f in os.listdir(log)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions, default=0)


def append_delta_files(
    table_path: str,
    from_version: int,
    to_version: int,
    skip_row_preserving: bool = False,
) -> list[str]:
    """Relative paths of data files added in versions
    ``(from_version, to_version]``, in commit order.

    Raises if any version in the range is a non-append op (its file delta
    is not a row delta — see ``APPEND_OPS``). Delta manifests hand over
    their "adds" directly; checkpoint manifests diff against the carried
    previous file set — so a range of n commits costs n raw manifest
    reads plus one resolution of ``from_version``. This is the
    incremental-offset path both ``read_appends_since`` and the streaming
    source resolve batches with.

    ``skip_row_preserving=True`` additionally tolerates ``compact``/
    ``zorder`` commits in the range: they rewrite files but not rows, so
    they contribute no delta — the walk re-bases its file set on the
    rewrite's complete list and keeps collecting the appends around it.
    ONLY safe for row-multiset consumers (aggregate MV refresh); a
    file-level consumer (the streaming source) must NOT skip them, since
    the post-rewrite append files carry rows it would then double-see."""
    prev: set[str] | None = None  # resolved lazily: delta-only ranges skip it
    out: list[str] = []
    for v in range(from_version + 1, to_version + 1):
        m = _read_raw_manifest(table_path, v)
        if skip_row_preserving and m["op"] in ROW_PRESERVING_OPS:
            # zero row delta: nothing to emit, but later checkpoint-manifest
            # diffs (and membership checks) must run against the rewritten
            # file set, and files emitted BEFORE the rewrite no longer exist
            # under their old names — their rows are inside the rewrite, so
            # drop them from the pending delta (the caller reads rows that
            # post-date the rewrite from the rewrite's own files... except a
            # rewrite folds PRE-range rows in too, so instead: a rewrite
            # mid-range makes the collected prefix unusable — raise and let
            # the caller full-recompute, UNLESS nothing was collected yet
            # (rewrite precedes all appends in range: safe to re-base).
            if out:
                raise ValueError(
                    f"version {v} is a {m['op']} after in-range appends: "
                    "their files were rewritten; re-read the snapshot"
                )
            prev = set(m["files"])
            continue
        if m["op"] not in APPEND_OPS:
            raise ValueError(
                f"version {v} is a {m['op']}: the file delta is not an "
                "append stream; re-read the snapshot instead"
            )
        if "adds" in m:
            out.extend(m["adds"])
            if prev is not None:
                prev.update(m["adds"])
        else:
            if prev is None:
                prev = (
                    set(read_manifest(table_path, from_version)["files"])
                    if from_version >= 1
                    else set()
                )
                prev.update(out)
            files = m["files"]
            out.extend(f for f in files if f not in prev)
            prev = set(files)
    return out


def _footer_row_count(files: list[str]) -> int | None:
    """Total row count straight from the parquet footers (exact by format
    contract) — the zero-job replacement for a read-back ``count()`` on
    just-written commit files. None on any surprise → caller falls back to
    the Spark job."""
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def _bloom_positions(value: Any, bits: int, probes: int) -> list[int]:
    """Driver-side probe positions for a point-lookup value — the SAME
    hash-once-slice-probes construction the Spark-side builder uses
    (``operators.sketches.probe_positions``): one md5, probe s reads 7-hex
    window s mod 4, blocks past the first re-hash with a ":block" suffix.
    Values are formatted via str(): supported key types are integers and
    strings (doubles would need a canonical text form — don't bloom float
    columns)."""
    import hashlib

    out = []
    for s in range(probes):
        block = s // 4
        basis = f"{value}" if block == 0 else f"{value}:{block}"
        h = hashlib.md5(basis.encode()).hexdigest()
        w = 7 * (s % 4)
        out.append(int(h[w:w + 7], 16) % bits)
    return out


class TxnConflict(RuntimeError):
    """Raised when an operation exhausts its OCC retries."""


_Z_BITS = 16


def _zorder_value(df: DataFrame, cols: list[str]) -> Column:
    """BIGINT Morton code over ``cols``: each column min/max-normalized to
    up to 16 bits (bounds from one small aggregate), bits interleaved with
    shiftleft/or — a flat JVM expression, no UDF. Dates/timestamps go
    through an epoch cast; an all-constant column contributes zeros.

    Bits per column are capped at ``63 // len(cols)`` so the interleaved
    code never touches bit 63 (the BIGINT sign bit — rows landing there
    would sort before everything) and no shiftleft amount reaches 64
    (JVM shifts wrap mod 64, which would fold high bits onto low
    positions and silently scramble the clustering).
    """
    if not cols:
        raise ValueError("zorder requires at least one column")
    bits = min(_Z_BITS, 63 // len(cols))
    numeric = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        col = F.col(c)
        if dt in ("date",):
            col = F.datediff(col, F.lit("1970-01-01"))
        elif dt.startswith("timestamp"):
            col = F.unix_timestamp(col)
        numeric.append(col.cast("double"))
    bounds = df.agg(
        *[F.min(c).alias(f"lo{i}") for i, c in enumerate(numeric)],
        *[F.max(c).alias(f"hi{i}") for i, c in enumerate(numeric)],
    ).collect()[0]
    scaled = []
    for i, c in enumerate(numeric):
        lo, hi = bounds[f"lo{i}"], bounds[f"hi{i}"]
        if lo is None or hi is None or hi == lo:
            scaled.append(F.lit(0).cast("bigint"))
            continue
        unit = (c - F.lit(float(lo))) / F.lit(float(hi - lo))
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor(unit * ((1 << bits) - 1)).cast("bigint"),
            )
        )
    z = F.lit(0).cast("bigint")
    k = len(scaled)
    for bit in range(bits):
        for i, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(s, bit).bitwiseAND(F.lit(1)), bit * k + i
                )
            )
    return z


def _manifest_name(version: int) -> str:
    return f"v{version:010d}.json"


class TxnTable:
    """A versioned Parquet table rooted at ``path`` (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._log = os.path.join(self.path, _TXN_DIR)

    # ------------------------------------------------------------------ log

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        log = os.path.join(os.path.abspath(path), _TXN_DIR)
        return os.path.isdir(log) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(log)
        )

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame | None = None,
        schema: StructType | None = None,
        stats_cols: list[str] | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = 8,
        checkpoint_interval: int | None = None,
        meta: dict[str, Any] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 256,
        bloom_probes: int = 4,
        constraints: dict[str, str] | None = None,
    ) -> "TxnTable":
        """Create version 1 from ``df`` (or empty with ``schema``).

        ``checkpoint_interval`` overrides the default manifest checkpoint
        cadence (every Nth version stores the complete file list; versions
        between store only their append delta). Recorded in the v1
        manifest so every writer of the table agrees on the cadence: lower
        it for tables read by many cold readers (shallower resolution
        walks), raise it for append-heavy ingest tables (smaller log).

        ``stats_cols`` declares the file-skipping index: every commit records
        per-file min/max for these columns in its manifest, and
        ``read_pruned`` skips files whose range cannot match — the
        Iceberg-style driver-side pruning that matters when a snapshot is
        thousands of files.

        ``bucket_by`` declares a write distribution: every snapshot is
        written hash-bucketed (and per-bucket sorted) on these columns, and
        reads register the snapshot as a bucketed catalog table — so a join
        or MERGE on the bucket columns needs NO exchange on the table side.
        For a table that is repeatedly MERGEd on the same key this converts
        the per-merge full-outer join from two shuffles to one (source side
        only) — the dominant cost of a keyed-upsert workload at scale.
        Bucketed tables are whole-snapshot-commit only (create / overwrite /
        merge / compact): the append family would emit files without bucket
        assignment and silently break the co-partitioning contract, so it
        raises instead."""
        t = cls(spark, path)
        if cls.exists(spark, path):
            raise FileExistsError(f"txn table already exists at {path}")
        os.makedirs(t._log, exist_ok=True)
        # caller metadata rides the v1 manifest (JSON-able values only;
        # keys must not collide with manifest fields) — the application-
        # level commit annotation MV watermarks use
        extra: dict[str, Any] = dict(meta or {})
        if stats_cols:
            extra["stats_cols"] = list(stats_cols)
        if bloom_cols:
            if bloom_bits % 64 != 0 or bloom_bits < 64:
                raise ValueError("bloom_bits must be a positive multiple of 64")
            extra["bloom_cols"] = list(bloom_cols)
            extra["bloom_bits"] = int(bloom_bits)
            extra["bloom_probes"] = int(bloom_probes)
        if checkpoint_interval is not None:
            if checkpoint_interval < 1:
                raise ValueError("checkpoint_interval must be >= 1")
            extra["checkpoint_interval"] = int(checkpoint_interval)
        if constraints:
            # Delta-style CHECK constraints: SQL predicates every committed
            # row must satisfy (NULL satisfies, per SQL CHECK semantics).
            # Recorded in the v1 manifest so EVERY writer of the table
            # enforces them on every write path, forever. Names starting
            # with "__" are reserved: the fused validation aggregate in
            # _write_data aliases its internal row count "__n", and a
            # user constraint of that name would collide with it.
            for k in constraints:
                if str(k).startswith("__"):
                    raise ValueError(
                        f"constraint name {k!r} is reserved (no '__' prefix)"
                    )
            extra["constraints"] = {str(k): str(v) for k, v in constraints.items()}
        bucket = None
        if bucket_by:
            bucket = {"cols": list(bucket_by), "n": int(n_buckets)}
        if df is not None:
            files, n = t._write_data(df, bucket=bucket, constraints=constraints)
            if stats_cols:
                extra["file_stats"] = t._collect_file_stats(files, stats_cols)
            if bloom_cols:
                extra["file_blooms"] = t._collect_file_blooms(
                    files, list(bloom_cols), int(bloom_bits), int(bloom_probes)
                )
            if bucket:
                extra["bucket"] = t._bucket_with_dir(bucket, files)
            committed = t._commit(0, files, df.schema, op="create", n_rows=n, extra=extra)
        elif schema is not None:
            if bucket:
                raise ValueError("bucketed create needs df (an empty bucketed "
                                 "snapshot has no files to carry the layout)")
            committed = t._commit(0, [], schema, op="create", n_rows=0, extra=extra)
        else:
            raise ValueError("create() needs df or schema")
        if not committed:
            raise FileExistsError(f"concurrent create at {path}")
        return t

    @classmethod
    def create_local(
        cls,
        spark: SparkSession,
        path: str,
        rows: list[tuple],
        ddl: str,
        meta: dict[str, Any] | None = None,
    ) -> "TxnTable":
        """Create version 1 of a TINY table entirely DRIVER-SIDE: one
        pyarrow parquet write + the atomic manifest publish — zero Spark
        jobs. For codebook-scale side tables (ANN centroids/codebooks,
        manifest frames): a Spark write of a 10-row frame costs two fixed
        job round-trips that dwarf the data, and commit-count-bound
        lifecycles pay that per commit. Readers are unchanged — ``read()``
        scans with the manifest schema exactly as for a Spark-written
        snapshot, and ``read_rows_local`` round-trips driver-side. Simple
        primitive/array column types only (the caller's DDL is parsed with
        ``StructType.fromDDL``); use ``create`` for anything bigger than a
        broadcast-literal-scale frame."""
        from pyspark.sql.pandas.types import to_arrow_schema

        import pyarrow as pa
        import pyarrow.parquet as pq_mod

        t = cls(spark, path)
        if cls.exists(spark, path):
            raise FileExistsError(f"txn table already exists at {path}")
        os.makedirs(t._log, exist_ok=True)
        schema = StructType.fromDDL(ddl)
        arrow_schema = to_arrow_schema(schema)
        names = [f.name for f in schema.fields]
        cols = (
            {n: list(c) for n, c in zip(names, zip(*rows))}
            if rows
            else {n: [] for n in names}
        )
        table = pa.table(cols, schema=arrow_schema)
        token = uuid.uuid4().hex
        out_dir = os.path.join(path, _DATA_DIR, token)
        os.makedirs(out_dir, exist_ok=True)
        fpath = os.path.join(out_dir, "part-00000.parquet")
        pq_mod.write_table(table, fpath)
        committed = t._commit(
            0,
            [fpath],
            schema,
            op="create",
            n_rows=len(rows),
            extra=dict(meta or {}),
        )
        if not committed:
            raise FileExistsError(f"concurrent create at {path}")
        return t

    def _bucket_with_dir(self, bucket: dict[str, Any], files: list[str]) -> dict[str, Any]:
        """The manifest bucket entry: spec + the snapshot's (single) data
        directory, which the bucketed catalog read points LOCATION at."""
        dirs = {os.path.dirname(os.path.relpath(f, self.path)) for f in files}
        if len(dirs) != 1:
            raise ValueError(f"bucketed snapshot must be one directory, got {dirs}")
        return {**bucket, "dir": dirs.pop()}

    def bucket_spec(self, version: int | None = None) -> dict[str, Any] | None:
        """The table's bucket layout ({cols, n, dir}) or None."""
        if self.version() == 0:
            return None
        return self._manifest(version).get("bucket")

    def _stats_extra(
        self, base: int, new_files: list[str], keep_base: bool = True
    ) -> dict[str, Any]:
        """Stats + bloom metadata for the next commit: base entries carried
        for files that survive (appends), dropped for whole-snapshot
        rewrites. Every write path funnels through here, so declared
        min/max stats AND bloom filters stay maintained across
        append/overwrite/merge/compact without per-op code."""
        if base == 0:
            return {}
        out = dict(self._bloom_extra(base, new_files, keep_base))
        m = self._manifest(base)
        if keep_base and m.get("dvs"):
            # deletion vectors ride the manifest like stats: appends carry
            # them (new files have none), rewrites drop them (the rewrite
            # materializes the deletions)
            out["dvs"] = dict(m["dvs"])
        cols = m.get("stats_cols") or []
        if not cols:
            return out
        file_stats: dict[str, Any] = dict(m.get("file_stats") or {}) if keep_base else {}
        file_stats.update(self._collect_file_stats(new_files, cols))
        return {**out, "stats_cols": cols, "file_stats": file_stats}

    @classmethod
    def ensure(cls, spark: SparkSession, path: str) -> "TxnTable":
        """Open a txn table; a plain-Parquet directory is adopted in place
        (metadata-only migration: version 1 references the existing files
        where they lie — nothing is rewritten)."""
        if cls.exists(spark, path):
            return cls(spark, path)
        t = cls(spark, path)
        existing = t._list_parquet(t.path)
        if not existing:
            raise FileNotFoundError(
                f"{path}: neither a txn table nor a parquet directory; "
                "use create()"
            )
        schema = spark.read.parquet(*existing).schema
        os.makedirs(t._log, exist_ok=True)
        t._commit(0, existing, schema, op="adopt", n_rows=None)
        return t

    def version(self) -> int:
        return current_version(self.path)

    def _checkpoint_interval(self) -> int:
        """The table's manifest checkpoint cadence: the v1 override when
        recorded, else the module default. Cached per instance (the v1
        manifest is immutable)."""
        if not hasattr(self, "_ckpt_int"):
            try:
                m = _read_raw_manifest(self.path, 1)
            except FileNotFoundError:
                return _CHECKPOINT_INTERVAL
            self._ckpt_int = int(
                m.get("checkpoint_interval", _CHECKPOINT_INTERVAL)
            )
        return self._ckpt_int

    def _constraints(self) -> dict[str, str]:
        """The table's CHECK constraints: recorded in the immutable v1
        manifest at create time (cached per instance), {} when none or the
        table does not exist yet (mid-create)."""
        if not hasattr(self, "_constr"):
            try:
                m = _read_raw_manifest(self.path, 1)
            except FileNotFoundError:
                return {}
            self._constr = dict(m.get("constraints", {}))
        return self._constr

    def _manifest(self, version: int | None = None) -> dict[str, Any]:
        v = version if version is not None else self.version()
        return read_manifest(self.path, v)

    def history(self) -> list[dict[str, Any]]:
        return [self._manifest(v) for v in range(1, self.version() + 1)]

    def snapshot_file_counts(self, version: int | None = None) -> tuple[int, int]:
        """(data files, active deletion-vector parquets) referenced by the
        snapshot — the PUBLIC compaction-pressure gauge. ``maybe_compact``'s
        trigger rule is exactly ``files > max_files or dvs > max_dv_files``
        over these two numbers; external maintenance loops (e.g. the ANN
        index's zorder-aware compactor) should read them here rather than
        re-deriving from the raw manifest, so the trigger can never drift
        from the table's own."""
        m = self._manifest(version)
        n_dvs = len({d for fs in (m.get("dvs") or {}).values() for d in fs})
        return len(m["files"]), n_dvs

    # ----------------------------------------------------------------- data

    @staticmethod
    def _list_parquet(directory: str) -> list[str]:
        out = []
        for root, dirs, files in os.walk(directory):
            dirs[:] = [d for d in dirs if d != _TXN_DIR]
            out.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
        return sorted(out)

    def _write_data(
        self,
        df: DataFrame,
        bucket: dict[str, Any] | None = None,
        constraints: dict[str, str] | None = None,
    ) -> tuple[list[str], int]:
        """Write a commit's data files under a fresh directory; the files are
        invisible until a manifest referencing them is published.

        With ``bucket``, the snapshot is written through ``bucketBy`` +
        ``sortBy`` (via a transient catalog name — Spark's bucketed layout is
        only writable through the table API). The frame is pre-repartitioned
        onto the bucket hash so each bucket lands in exactly ONE file —
        that's what lets the bucketed read publish a per-bucket sort order
        and the downstream sort-merge join skip both its exchange AND its
        sort on the table side.

        CHECK constraints (create-time for this call, else the table's
        recorded set) validate on the SAME post-write read that already
        computes the row count — fused into one aggregate, zero extra
        passes. A violation raises BEFORE any manifest is published: the
        already-written files stay invisible (orphans, reclaimed by
        vacuum), so enforcement is transactional by construction. NULL
        satisfies a constraint (SQL CHECK semantics)."""
        token = uuid.uuid4().hex
        out_dir = os.path.join(self.path, _DATA_DIR, token)
        if bucket:
            cols, n_buckets = bucket["cols"], bucket["n"]
            tmp_name = f"sjs_bucket_write_{token[:12]}"
            try:
                (
                    df.repartition(n_buckets, *cols)
                    .write.mode("error")
                    .format("parquet")
                    .bucketBy(n_buckets, *cols)
                    .sortBy(*cols)
                    .option("path", out_dir)
                    .saveAsTable(tmp_name)
                )
            finally:
                # the transient name must not outlive the write, even when
                # saveAsTable fails after partially registering it
                self.spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        else:
            df.write.mode("error").parquet(out_dir)
        files = self._list_parquet(out_dir)
        if not files:
            return files, 0
        checks = constraints if constraints is not None else self._constraints()
        if not checks:
            # No CHECK constraints → the commit's row count comes straight
            # from the parquet FOOTERS (exact by format contract), not a
            # read-back Spark job. Commits are the fixed cost of every txn
            # lifecycle (create/add/admit legs are commit-count-bound, not
            # data-bound), and this removes one whole job per commit.
            n = _footer_row_count(files)
            if n is not None:
                return files, n
        back = self.spark.read.parquet(*files)
        if not checks:
            return files, back.count()
        row = back.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.when(~F.expr(e), 1).otherwise(0)).alias(name)
                for name, e in checks.items()
            ],
        ).collect()[0]
        bad = {name: row[name] for name in checks if row[name]}
        if bad:
            raise ValueError(
                f"{self.path}: CHECK constraint violation — "
                + ", ".join(
                    f"{name} ({checks[name]!r}): {cnt} row(s)"
                    for name, cnt in bad.items()
                )
            )
        return files, row["__n"]

    def _footer_file_stats(
        self, files: list[str], stats_cols: list[str]
    ) -> dict[str, dict[str, list]] | None:
        """Per-file min/max straight from the parquet FOOTERS — zero Spark
        jobs. Returns None (caller falls back to the Spark aggregate) unless
        every stats column is a footer-safe primitive in every file:
        integers and date32, where parquet min/max statistics are
        exact by format contract. Strings are excluded deliberately
        (parquet-mr may TRUNCATE long binary min/max, which would corrupt
        the skipping index), as are timestamps (unit/timezone re-mapping)
        and decimals. FLOATS are excluded too: Spark's min/max orders NaN
        as the LARGEST double, while parquet writers either omit or
        NaN-ignore float stats — a NaN-bearing chunk would under-report
        ``hi`` and silently mis-prune a ``x > hi`` predicate. For the safe
        types the values produced are exactly what the Spark ``min``/``max``
        aggregate produces, so manifests are byte-identical either way
        (pinned by test)."""
        try:
            import pyarrow.parquet as pq
            import pyarrow.types as pat
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return None

        def safe(t) -> bool:
            return pat.is_integer(t) or pat.is_date32(t)

        out: dict[str, dict[str, list]] = {}
        try:
            for f in files:
                pf = pq.ParquetFile(f)
                schema = pf.schema_arrow
                names = set(schema.names)
                present = [c for c in stats_cols if c in names]
                if not present:
                    # stats col absent from the schema entirely — the Spark
                    # path returns {} for this case; let it decide
                    return None
                if any(not safe(schema.field(c).type) for c in present):
                    return None
                meta = pf.metadata
                col_idx = {
                    meta.row_group(0).column(i).path_in_schema: i
                    for i in range(meta.num_columns)
                } if meta.num_row_groups else {}
                stats: dict[str, list] = {c: [None, None] for c in present}
                for g in range(meta.num_row_groups):
                    rg = meta.row_group(g)
                    if rg.num_rows == 0:
                        continue
                    for c in present:
                        if c not in col_idx:
                            return None
                        cc = rg.column(col_idx[c])
                        st = cc.statistics
                        if st is None:
                            return None
                        if not st.has_min_max:
                            # legal only when the group holds no non-null
                            # values (Statistics.num_values EXCLUDES nulls,
                            # unlike ColumnChunkMetaData.num_values): the
                            # all-NULL chunk contributes nothing, like
                            # Spark's null-skipping min/max
                            if st.has_null_count and st.num_values == 0:
                                continue
                            return None
                        lo, hi = st.min, st.max
                        cur = stats[c]
                        if cur[0] is None or lo < cur[0]:
                            cur[0] = lo
                        if cur[1] is None or hi > cur[1]:
                            cur[1] = hi
                out[os.path.relpath(f, self.path)] = {
                    c: [_jsonable(v[0]), _jsonable(v[1])]
                    for c, v in stats.items()
                }
        except Exception:
            return None  # any footer surprise → the Spark aggregate path
        return out

    def _collect_file_stats(
        self, files: list[str], stats_cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max for the stats columns — from the parquet footers
        when every column is a footer-safe primitive (``_footer_file_stats``,
        zero jobs), else in ONE Spark job (group by
        input_file_name over the just-written files). JSON-serializable
        values only (numeric/string/date-as-iso) — the manifest is the
        file-skipping index, Iceberg-style."""
        if not files or not stats_cols:
            return {}
        fast = self._footer_file_stats(files, stats_cols)
        if fast is not None:
            return fast
        df = self.spark.read.parquet(*files)
        present = [c for c in stats_cols if c in df.columns]
        if not present:
            return {}
        aggs = []
        for c in present:
            aggs.append(F.min(c).alias(f"__lo_{c}"))
            aggs.append(F.max(c).alias(f"__hi_{c}"))
        rows = (
            df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
        )
        # Seed every file with [null, null] (the stats of an empty file —
        # zero-row part files emit no groupBy row, yet must still prune).
        out: dict[str, dict[str, list]] = {
            os.path.relpath(f, self.path): {c: [None, None] for c in present}
            for f in files
        }
        for r in rows:
            rel = os.path.relpath(r["__f"].replace("file://", ""), self.path)
            out[rel] = {
                c: [_jsonable(r[f"__lo_{c}"]), _jsonable(r[f"__hi_{c}"])]
                for c in present
            }
        return out

    def _collect_file_blooms(
        self, files: list[str], cols: list[str], bits: int, probes: int
    ) -> dict[str, dict[str, list[int]]]:
        """Per-file Bloom filters for the bloom columns, ONE Spark job:
        each row contributes ``probes`` bit positions per column (the
        md5-derived engine-portable hash), OR-combined per row then
        bit_or-aggregated per file into ``bits/64`` signed 64-bit words.
        The Delta-style point-lookup index for keys that range stats can't
        prune (hash-distributed writes make every file's min/max span the
        whole key space; the bloom still pins a key to the files that
        actually contain it)."""
        if not files or not cols:
            return {}
        df = self.spark.read.parquet(*files)
        present = [c for c in cols if c in df.columns]
        if not present:
            return {}
        n_words = bits // 64
        # Narrow-and-tall on purpose: explode each value's probe positions
        # into rows and aggregate (file, col, word) cells — a wide
        # one-agg-per-word plan generates O(bits) aggregate expressions and
        # blows up codegen/heap at real widths (observed: 2^16 bits OOM'd a
        # default-memory driver). Map-side partial bit_or reduces the
        # exploded rows to files x cols x words before the shuffle.
        from scraping_jobsdb_spark.operators.sketches import probe_positions

        per_col = []
        for c in present:
            positions = F.array(
                *probe_positions(F.col(c).cast("string"), probes, bits)
            )
            per_col.append(
                df.filter(F.col(c).isNotNull()).select(
                    F.input_file_name().alias("__f"),
                    F.lit(c).alias("__c"),
                    F.explode(positions).alias("__p"),
                )
            )
        cells = per_col[0]
        for extra_cells in per_col[1:]:
            cells = cells.unionByName(extra_cells)
        rows = (
            cells.select(
                "__f",
                "__c",
                F.shiftright("__p", 6).alias("__w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))").alias("__m"),
            )
            .groupBy("__f", "__c", "__w")
            .agg(F.bit_or("__m").alias("__bits"))
            .collect()
        )
        out: dict[str, dict[str, list[int]]] = {
            os.path.relpath(f, self.path): {c: [0] * n_words for c in present}
            for f in files
        }
        for r in rows:
            rel = os.path.relpath(r["__f"].replace("file://", ""), self.path)
            out[rel][r["__c"]][int(r["__w"])] = int(r["__bits"])
        return out

    def _bloom_extra(
        self, base: int, new_files: list[str], keep_base: bool = True
    ) -> dict[str, Any]:
        """Bloom metadata for the next commit, mirroring ``_stats_extra``:
        config carried from the base manifest, filters computed for the new
        files, base files' filters kept for appends and dropped for
        whole-snapshot rewrites."""
        if base == 0:
            return {}
        m = self._manifest(base)
        cols = m.get("bloom_cols") or []
        if not cols:
            return {}
        bits = int(m.get("bloom_bits") or 256)
        probes = int(m.get("bloom_probes") or 4)
        blooms: dict[str, Any] = (
            dict(m.get("file_blooms") or {}) if keep_base else {}
        )
        blooms.update(self._collect_file_blooms(new_files, cols, bits, probes))
        return {
            "bloom_cols": cols,
            "bloom_bits": bits,
            "bloom_probes": probes,
            "file_blooms": blooms,
        }

    def _commit(
        self,
        base_version: int,
        files: list[str],
        schema: StructType,
        op: str,
        n_rows: int | None,
        extra: dict[str, Any] | None = None,
    ) -> bool:
        """Publish ``base_version + 1``. Returns False on a lost race (a
        manifest for that version already exists); the caller retries against
        the new snapshot. os.link is atomic: readers see a complete manifest
        or none.

        Append-family commits between checkpoints store only their file
        DELTA ("adds"); every ``_CHECKPOINT_INTERVAL``-th version and every
        whole-snapshot rewrite stores the complete list, bounding both
        per-commit manifest size and read-side resolution depth."""
        os.makedirs(self._log, exist_ok=True)
        rel_files = [os.path.relpath(f, self.path) for f in files]
        extra = dict(extra or {})
        present = set(rel_files)
        for per_file_key in ("file_stats", "file_blooms", "dvs"):
            if per_file_key in extra:
                extra[per_file_key] = {
                    f: s for f, s in extra[per_file_key].items() if f in present
                }
        if not extra.get("dvs", {"_": 1}):
            extra.pop("dvs", None)  # drop an emptied map entirely
        import time

        committed_at = time.time()
        manifest = {
            "version": base_version + 1,
            "files": rel_files,
            "schema": schema.json(),
            "op": op,
            "n_rows": n_rows,
            "committed_at": committed_at,
            **extra,
        }
        if (
            op in APPEND_OPS
            and base_version >= 1
            and (base_version + 1) % self._checkpoint_interval() != 0
        ):
            base_files = read_manifest(self.path, base_version)["files"]
            # appends only ever extend the base list in place; anything else
            # (defensive) keeps the full-manifest form
            if rel_files[: len(base_files)] == base_files:
                adds = rel_files[len(base_files):]
                manifest = {
                    "version": base_version + 1,
                    "adds": adds,
                    "delta_base": base_version,
                    "schema": schema.json(),
                    "op": op,
                    "n_rows": n_rows,
                    "committed_at": committed_at,
                    **extra,
                }
                add_set = set(adds)
                for per_file_key in ("file_stats", "file_blooms", "dvs"):
                    if per_file_key in extra:
                        manifest[per_file_key] = {
                            f: s
                            for f, s in extra[per_file_key].items()
                            if f in add_set
                        }
                if not manifest.get("dvs", {"_": 1}):
                    manifest.pop("dvs", None)
        scratch = os.path.join(self._log, f".tmp-{uuid.uuid4().hex}.json")
        with open(scratch, "w") as fh:
            json.dump(manifest, fh)
        target = os.path.join(self._log, _manifest_name(base_version + 1))
        try:
            os.link(scratch, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(scratch)

    # ---------------------------------------------------------------- reads

    def _dv_overlay(
        self, df: DataFrame, m: dict[str, Any], scanned: list[str]
    ) -> DataFrame:
        """Apply the snapshot's deletion vectors to a scan of ``scanned``
        manifest files (merge-on-read): anti-join the scan against the
        union of the DV parquets referenced by those files, keyed on
        (_metadata.file_name, _metadata.row_index). A no-op when no scanned
        file carries a DV — existing tables pay nothing. The DV side is
        deleted-row-scale and BROADCAST: the overlay adds no shuffle to the
        scan."""
        dvs = m.get("dvs") or {}
        dv_files = sorted(
            {dv for f in scanned for dv in dvs.get(f, [])}
        )
        if not dv_files:
            return df
        # DV schema is fixed by the writer; stating it skips a per-read
        # footer-inference pass (~100 ms driver wall per overlay, r14)
        dv = (
            self.spark.read.schema("file_name STRING, row_index BIGINT")
            .parquet(*[os.path.join(self.path, f) for f in dv_files])
            .select("file_name", "row_index")
            .distinct()
        )
        tagged = df.select(
            "*",
            F.col("_metadata.file_name").alias("__dvf"),
            F.col("_metadata.row_index").alias("__dvr"),
        )
        kept = tagged.join(
            F.broadcast(dv),
            (tagged["__dvf"] == dv["file_name"])
            & (tagged["__dvr"] == dv["row_index"]),
            "left_anti",
        )
        return kept.drop("__dvf", "__dvr")

    def read_rows_local(
        self, version: int | None = None
    ) -> list[dict[str, Any]] | None:
        """The snapshot as of ``version`` as a list of plain-dict rows read
        DRIVER-SIDE via pyarrow — zero Spark jobs. For TINY side tables by
        contract (codebooks, centroids, manifest-scale frames): the caller
        was about to ``.collect()`` a one-file table anyway, and a Spark
        scan's fixed job cost dwarfs the read. Returns None whenever the
        snapshot needs engine machinery — deletion vectors on any scanned
        file, bucketed layout, or an empty file list — so callers fall back
        to ``read().collect()``; values are whatever pyarrow surfaces
        (lists for array columns), matching Row field access by name."""
        m = self._manifest(version)
        if m.get("bucket") or not m["files"]:
            return None
        dvs = m.get("dvs") or {}
        if any(dvs.get(f) for f in m["files"]):
            return None
        try:
            import pyarrow.parquet as pq

            tables = [
                pq.read_table(os.path.join(self.path, f)) for f in m["files"]
            ]
        except Exception:
            return None
        out: list[dict[str, Any]] = []
        for t in tables:
            out.extend(t.to_pylist())
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """The snapshot as of ``version`` (default: latest). Immutable: the
        returned frame keeps reading the same files regardless of later
        commits. Bucketed snapshots read through a catalog registration so
        the scan carries the bucket distribution into the planner.
        Deletion vectors, if any, overlay transparently (merge-on-read)."""
        m = self._manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        files = [os.path.join(self.path, f) for f in m["files"]]
        if not files:
            return self.spark.createDataFrame([], schema)
        bucket = m.get("bucket")
        if bucket:
            return self._read_bucketed(m, schema, bucket)
        df = self.spark.read.schema(schema).parquet(*files)
        return self._dv_overlay(df, m, m["files"])

    def _read_bucketed(
        self, m: dict[str, Any], schema: StructType, bucket: dict[str, Any]
    ) -> DataFrame:
        """Register (once per session) an external bucketed table over the
        snapshot's data directory and read through it. Only a catalog table
        can carry a bucket spec in Spark, so this is the one place the
        engine touches the catalog; the name is deterministic per
        (table path, version) and the registration is metadata-only."""
        import hashlib

        loc = os.path.join(self.path, bucket["dir"])
        tag = hashlib.md5(f"{self.path}@{m['version']}".encode()).hexdigest()[:12]
        name = f"sjs_txn_snap_{tag}"
        # IF NOT EXISTS: the name is deterministic per (path, version) and the
        # definition is a pure function of the manifest, so concurrent readers
        # racing past a tableExists() check must not throw TableAlreadyExists.
        ddl_cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        bcols = ", ".join(f"`{c}`" for c in bucket["cols"])
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({ddl_cols}) USING parquet "
            f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
            f"INTO {bucket['n']} BUCKETS LOCATION '{loc}'"
        )
        return self.spark.table(name)

    def pruned_files(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> list[str]:
        """Snapshot files that can contain rows with ``lo <= col <= hi``,
        decided from manifest min/max stats (files without stats for ``col``
        are always kept — pruning is only ever an optimization). A file whose
        stats are [null, null] (all-null column) is skipped: a range
        predicate never matches NULL."""
        m = self._manifest(version)
        stats = m.get("file_stats") or {}
        kept = []
        for f in m["files"]:
            rng = stats.get(f, {}).get(col)
            if rng is None:
                kept.append(f)
                continue
            f_lo, f_hi = rng
            if f_lo is None and f_hi is None and (lo is not None or hi is not None):
                continue  # all-null/empty file: a range predicate never matches
            if lo is not None and f_hi is not None and f_hi < _jsonable(lo):
                continue
            if hi is not None and f_lo is not None and f_lo > _jsonable(hi):
                continue
            kept.append(f)
        return kept

    def read_pruned(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> DataFrame:
        """Snapshot filtered to ``lo <= col <= hi``, scanning only the files
        whose manifest stats intersect the range (driver-side file skipping,
        before Spark's own footer/row-group pruning). Exactly equivalent to
        ``read().filter(...)`` — the predicate is still applied, pruning
        never changes results."""
        return self.read_pruned_all({col: (lo, hi)}, version)

    def read_pruned_in(
        self, col: str, values, version: int | None = None
    ) -> DataFrame:
        """Snapshot filtered to ``col IN values``, scanning each kept file
        ONCE: a file survives when its manifest stats intersect ANY of the
        values (driver-side file skipping, same stats walk as
        ``pruned_files``). Exactly equivalent to — and the one-scan,
        one-DV-overlay replacement for — unioning ``read_pruned(col, v,
        v)`` per value, which built one scan + one deletion-vector overlay
        per value (measured r14: ~0.13 s of driver plan construction per
        union leg on the ANN probe path, and a |values|-leg Union plan
        where one scan suffices). A file whose stats intersect two probed
        values is scanned once here; the per-value union scanned it once
        per value with disjoint point filters, so the row multiset is
        identical."""
        vals = sorted(set(values))
        m = self._manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        kept_set: set = set()
        for v in vals:
            kept_set.update(self.pruned_files(col, v, v, version))
        files = [f for f in m["files"] if f in kept_set]
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._dv_overlay(
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, f) for f in files]
                ),
                m,
                files,
            )
        return df.filter(F.col(col).isin(vals))

    def read_pruned_all(
        self, predicates: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Conjunctive multi-column range scan: keep only files whose stats
        intersect EVERY ``col: (lo, hi)`` range — kept sets intersect, so
        each additional predicate only prunes further. This is what makes
        Z-ordered layouts pay off on compound lookups: each z-clustered
        column's stats are tight per file, and the intersection of two
        narrow ranges keeps near-no files where either alone keeps some.
        Exactly equivalent to ``read().filter(AND ...)``; the predicates
        are still applied after the scan."""
        m = self._manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        kept = set(m["files"])
        for col, (lo, hi) in predicates.items():
            kept &= set(self.pruned_files(col, lo, hi, version))
        files = [f for f in m["files"] if f in kept]
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._dv_overlay(
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, f) for f in files]
                ),
                m,
                files,
            )
        for col, (lo, hi) in predicates.items():
            if lo is not None:
                df = df.filter(F.col(col) >= lo)
            if hi is not None:
                df = df.filter(F.col(col) <= hi)
        return df

    def bloom_pruned_files(
        self, col: str, value: Any, version: int | None = None
    ) -> list[str]:
        """Snapshot files whose Bloom filter for ``col`` may contain
        ``value`` (files without a bloom entry are always kept — pruning is
        only an optimization, never a correctness lever). This is the
        point-lookup complement to ``pruned_files``: hash-distributed
        writes give every file a full-range min/max, useless to a range
        index, while the bloom pins the key to the files that actually
        contain it (plus the filter's false-positive rate)."""
        m = self._manifest(version)
        blooms = m.get("file_blooms") or {}
        if col not in (m.get("bloom_cols") or []):
            return list(m["files"])
        bits = int(m.get("bloom_bits") or 256)
        probes = int(m.get("bloom_probes") or 4)
        positions = _bloom_positions(value, bits, probes)
        kept = []
        for f in m["files"]:
            words = blooms.get(f, {}).get(col)
            if words is None:
                kept.append(f)
                continue
            if all((words[p >> 6] >> (p & 63)) & 1 for p in positions):
                kept.append(f)
        return kept

    def read_point(
        self, col: str, value: Any, version: int | None = None
    ) -> DataFrame:
        """``col = value`` point lookup scanning only the bloom-surviving
        files. Exactly equivalent to ``read().filter(col == value)`` —
        the equality predicate is still applied after the skip."""
        m = self._manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        files = self.bloom_pruned_files(col, value, version)
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self._dv_overlay(
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, f) for f in files]
                ),
                m,
                files,
            )
        return df.filter(F.col(col) == value)

    # --------------------------------------------------------------- writes

    _MAX_RETRIES = 10

    def _occ_loop(self, attempt_fn) -> Any:
        """Run ``attempt_fn(base_version)`` until its commit lands.
        attempt_fn returns (files, schema, op, n_rows, result) with an
        optional sixth ``extra`` manifest-metadata element, or None to abort
        with no commit (no-op)."""
        for _ in range(self._MAX_RETRIES):
            base = self.version()
            prepared = attempt_fn(base)
            if prepared is None:
                return None
            files, schema, op, n_rows, result, *rest = prepared
            extra = rest[0] if rest else None
            if self._commit(base, files, schema, op, n_rows, extra=extra):
                return result
            # lost the race: leave the orphaned data files to vacuum() and
            # recompute against the winner's snapshot
        raise TxnConflict(f"{self.path}: commit contention, gave up")

    def _require_unbucketed(self, op: str) -> None:
        if self.bucket_spec() is not None:
            raise ValueError(
                f"{op} on a bucketed txn table would emit files outside the "
                "bucket layout and break co-partitioned reads; use merge()/"
                "overwrite(), or create the table unbucketed for append "
                "workloads"
            )

    def _snapshot_extra(
        self, base: int, new_files: list[str], bucket: dict[str, Any] | None
    ) -> dict[str, Any]:
        """Manifest extras for a whole-snapshot rewrite: fresh file stats,
        plus the bucket spec re-pointed at the new data directory."""
        extra = self._stats_extra(base, new_files, keep_base=False)
        if bucket:
            extra = {
                **extra,
                "bucket": self._bucket_with_dir(
                    {"cols": bucket["cols"], "n": bucket["n"]}, new_files
                ),
            }
        return extra

    def append(self, df: DataFrame, evolve_schema: bool = False) -> int:
        """Transactional append: all-or-nothing visibility.

        Additive evolution: a frame carrying every table column PLUS new
        ones evolves the committed schema automatically (old files read
        through the widened schema as nulls — Parquet scans by name). A
        frame MISSING table columns requires ``evolve_schema=True``, which
        null-fills them (Delta's mergeSchema posture) — without the flag
        it raises instead of silently forking the schema."""
        self._require_unbucketed("append")

        def attempt(base):
            data = df
            schema = df.schema
            if base >= 1:
                table_schema = StructType.fromJson(
                    json.loads(self._manifest(base)["schema"])
                )
                missing = [
                    f for f in table_schema.fields
                    if f.name not in set(schema.fieldNames())
                ]
                if missing:
                    if not evolve_schema:
                        raise ValueError(
                            f"{self.path}: append frame lacks table columns "
                            f"{[f.name for f in missing]}; pass "
                            "evolve_schema=True to null-fill them"
                        )
                    have = set(schema.fieldNames())
                    # table columns first (nulls where df lacks them), then
                    # df-only columns appended in df order — the evolved
                    # committed schema
                    cols = [
                        F.col(f.name) if f.name in have
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in table_schema.fields
                    ] + [
                        F.col(f.name)
                        for f in schema.fields
                        if f.name not in set(table_schema.fieldNames())
                    ]
                    data = df.select(*cols)
                    schema = data.schema
            new_files, n = self._write_data(data)
            m = self._manifest(base)
            all_files = [os.path.join(self.path, f) for f in m["files"]] + new_files
            return all_files, schema, "append", n, n, self._stats_extra(base, new_files)

        return self._occ_loop(attempt)

    def idempotent_append(self, df: DataFrame, key_cols: list[str]) -> int:
        """Exactly-once insert-if-absent (Postgres ON CONFLICT DO NOTHING):
        anti-join against the snapshot INSIDE the retry loop, so a concurrent
        winner's rows are excluded on retry. Returns rows appended."""
        self._require_unbucketed("idempotent_append")

        def attempt(base):
            existing = self.read(base).select(*key_cols)
            fresh = df.join(existing, on=key_cols, how="left_anti")
            new_files, n = self._write_data(fresh)
            if n == 0:
                return None
            m = self._manifest(base)
            all_files = [os.path.join(self.path, f) for f in m["files"]] + new_files
            return (
                all_files, df.schema, "idempotent_append", n, n,
                self._stats_extra(base, new_files),
            )

        return self._occ_loop(attempt) or 0

    def committed_epoch(self, app_id: str) -> int:
        """Highest epoch committed by ``app_id`` (-1 if none) — the replay
        ledger for streaming writers."""
        best = -1
        for v in range(1, self.version() + 1):
            m = self._manifest(v)
            if m.get("app_id") == app_id:
                best = max(best, int(m.get("epoch", -1)))
        return best

    def stream_epoch_append(
        self,
        df: DataFrame,
        app_id: str,
        epoch_id: int,
        key_cols: list[str] | None = None,
    ) -> int:
        """Exactly-once micro-batch append for foreachBatch sinks.

        Each commit records (app_id, epoch): a replayed batch (failure
        recovery re-delivers the same epoch_id) finds its epoch already in
        the log and becomes a no-op — Delta's txnAppId/txnVersion idempotent-
        write contract, here per-manifest. ``key_cols`` optionally layers the
        anti-join on top for cross-writer key dedup. Returns rows appended
        (0 for a recognized replay)."""
        self._require_unbucketed("stream_epoch_append")

        def attempt(base):
            if self.committed_epoch(app_id) >= epoch_id:
                return None  # replayed batch: already committed
            data = df
            if key_cols:
                existing = self.read(base).select(*key_cols)
                data = df.join(existing, on=key_cols, how="left_anti")
            new_files, n = self._write_data(data)
            m = self._manifest(base)
            all_files = [os.path.join(self.path, f) for f in m["files"]] + new_files
            return (
                all_files,
                df.schema,
                "stream_epoch_append",
                n,
                n,
                self._stats_extra(base, new_files),
            )

        def attempt_with_meta(base):
            prepared = attempt(base)
            if prepared is None:
                return None
            files, schema, op, n_rows, result, extra = prepared
            if self._commit(
                base, files, schema, op, n_rows,
                extra={**extra, "app_id": app_id, "epoch": int(epoch_id)},
            ):
                return ("committed", result)
            return ("retry", None)

        for _ in range(self._MAX_RETRIES):
            out = attempt_with_meta(self.version())
            if out is None:
                return 0
            state, n = out
            if state == "committed":
                return n
        raise TxnConflict(f"{self.path}: commit contention, gave up")

    def overwrite(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        """Atomic whole-table replace: readers see the old snapshot until the
        one manifest link, never a half-written table (the fix for the
        read-tmp-overwrite dance this replaces). ``meta`` rides the commit
        manifest (JSON-able, non-colliding keys) — e.g. the source-version
        watermark an incrementally-maintained view records per refresh."""

        def attempt(base):
            bucket = self.bucket_spec(base) if base else None
            new_files, n = self._write_data(df, bucket=bucket)
            return (
                new_files, df.schema, "overwrite", n, n,
                {**self._snapshot_extra(base, new_files, bucket), **(meta or {})},
            )

        return self._occ_loop(attempt)

    def restore(self, version: int) -> int:
        """Roll the table back to snapshot ``version`` as a NEW commit —
        metadata-only (data files are immutable, so the restore manifest
        simply references the old snapshot's files; nothing is rewritten
        and the botched history stays readable for forensics). This is the
        recover-from-bad-write primitive Delta ships as RESTORE. Returns
        the new current version."""
        self._manifest(version)  # raises if the version doesn't exist
        return self._recommit("restore", {"restored_from": version}, version)

    def set_meta(self, meta: dict[str, Any]) -> int:
        """Record ``meta`` (JSON-able, non-colliding keys) as a NEW commit
        over the current snapshot's files — metadata-only, zero Spark jobs,
        rows unchanged. The op ("set_meta") is in neither ``APPEND_OPS`` nor
        ``ROW_PRESERVING_OPS``, so a delta-algebra consumer of this table
        falls back to a snapshot read across it. The watermark-only commit
        an incremental view makes when its source range held no appends.
        Returns the new current version."""
        return self._recommit("set_meta", dict(meta))

    def _recommit(
        self, op: str, extra: dict[str, Any], version: int | None = None
    ) -> int:
        """Commit snapshot ``version``'s files (default: the current
        snapshot at commit time) unchanged under ``op``, carrying the
        ``_SNAPSHOT_KEYS`` plus ``extra``."""

        def attempt(base):
            src = self._manifest(base if version is None else version)
            carried = {k: src[k] for k in _SNAPSHOT_KEYS if k in src}
            files = [os.path.join(self.path, f) for f in src["files"]]
            schema = StructType.fromJson(json.loads(src["schema"]))
            return (
                files, schema, op, src.get("n_rows"),
                base + 1, {**carried, **extra},
            )

        return self._occ_loop(attempt)

    def version_asof(self, ts: float) -> int:
        """Highest version whose commit landed at or before epoch ``ts``
        (every manifest records ``committed_at``). Raises if the table has
        no commit that old."""
        best = 0
        for v in range(1, self.version() + 1):
            m = _read_raw_manifest(self.path, v)
            at = m.get("committed_at")
            if at is not None and at <= ts:
                best = v
        if best == 0:
            raise FileNotFoundError(
                f"{self.path}: no snapshot committed at or before {ts}"
            )
        return best

    def read_asof(self, ts: float) -> DataFrame:
        """Time travel by wall-clock: the snapshot current at epoch ``ts``
        (``read(version_asof(ts))``) — the audit/debug form of time travel
        when the caller knows WHEN, not which version."""
        return self.read(self.version_asof(ts))

    def apply_changes(self, changes: DataFrame) -> int:
        """Apply a ``read_row_changes`` feed (table schema +
        ``_change_type`` in {'delete','insert'}) to THIS table — the
        replication/downstream-sync consumer: ship the delta, not the
        table. Deletes are removed with multiset semantics (each delete
        row removes exactly one matching copy, exceptAll), inserts are
        appended; applying table A's v1→v2 feed to a copy of A@v1 yields
        exactly A@v2. The new snapshot is one whole-table commit, so the
        apply is atomic and OCC-retried like every other write."""
        deletes = changes.filter(F.col("_change_type") == "delete").drop(
            "_change_type"
        )
        inserts = changes.filter(F.col("_change_type") == "insert").drop(
            "_change_type"
        )

        def attempt(base):
            bucket = self.bucket_spec(base) if base else None
            result = (
                self.read(base).exceptAll(deletes).unionByName(inserts)
            )
            new_files, n = self._write_data(result, bucket=bucket)
            return (
                new_files, result.schema, "apply_changes", n, n,
                self._snapshot_extra(base, new_files, bucket),
            )

        return self._occ_loop(attempt)

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: Column | None = None,
        when_not_matched_insert: bool = True,
        evolve_schema: bool = False,
        when_not_matched_by_source_update: dict | None = None,
        when_not_matched_by_source_delete: Column | bool | None = None,
    ) -> int:
        """Copy-on-write MERGE (SQL MERGE INTO semantics):

        - matched + ``when_matched_delete`` (a Column over ``t``/``s``
          aliases) → row removed;
        - matched → target columns replaced per ``when_matched_update``
          ({target_col: source_col_name | Column expression over the ``t``/
          ``s`` aliases}), others carried;
        - source-only + ``when_not_matched_insert`` → inserted, taking each
          target column from the same mapping (falling back to the
          same-named source column, else null);
        - target-only (no source row for the key — the WHEN NOT MATCHED BY
          SOURCE clauses, Delta's full-sync surface):
          ``when_not_matched_by_source_delete`` (True, or a Column over the
          ``t`` alias) removes the row — with insert+update this makes the
          table mirror the source snapshot;
          ``when_not_matched_by_source_update`` ({target_col: Column over
          ``t``}) instead rewrites it — the soft-delete/staleness-flag
          pattern. Delete wins where both are given and the delete
          condition holds.

        One full-outer join on the key; the whole new snapshot commits
        atomically. Returns the new row count.

        ``evolve_schema=True`` additionally appends source-only columns to
        the table schema (the additive evolution append already supports):
        matched and inserted rows take the source value, target-only rows
        get null — Delta's mergeSchema contract. Off by default so a typo'd
        source column is an error, not a silent new column.

        Like SQL MERGE, multiple source rows hitting the same key are
        rejected (the full-outer join would silently fan the target row out
        once per match) — pre-aggregate the source to one row per key. The
        check is one small aggregate over the source keys."""
        upd = when_matched_update or {}
        dup = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key = {c: dup[0][c] for c in on}
            raise ValueError(
                f"merge source has multiple rows for key {key}; MERGE "
                "requires one source row per key — aggregate the source first"
            )

        def attempt(base):
            target = self.read(base)
            t = target.withColumn("__t", F.lit(1)).alias("t")
            s = source.withColumn("__s", F.lit(1)).alias("s")
            joined = t.join(s, on=on, how="full_outer")
            matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
            target_only = F.col("__t").isNotNull() & F.col("__s").isNull()
            if when_matched_delete is not None:
                joined = joined.filter(
                    ~(matched & F.coalesce(when_matched_delete, F.lit(False)))
                )
            if when_not_matched_by_source_delete is not None:
                nmbs_del = (
                    F.lit(True)
                    if when_not_matched_by_source_delete is True
                    else when_not_matched_by_source_delete
                )
                joined = joined.filter(
                    ~(target_only & F.coalesce(nmbs_del, F.lit(False)))
                )
            nmbs_upd = when_not_matched_by_source_update or {}
            bad = set(nmbs_upd) - (
                {f.name for f in target.schema.fields} - set(on)
            )
            if bad:
                raise ValueError(
                    "when_not_matched_by_source_update targets unknown or "
                    f"join-key columns: {sorted(bad)}"
                )
            cols = []
            for f in target.schema.fields:
                c = f.name
                if c in on:
                    # join key: identical on both sides where matched
                    cols.append(F.col(c).alias(c))
                    continue
                if c in upd:
                    mapped = upd[c]
                    upd_col = (
                        mapped if isinstance(mapped, Column) else F.col(f"s.{mapped}")
                    )
                    ins_col = upd_col
                elif c in source.columns:
                    upd_col = F.col(f"t.{c}")
                    ins_col = F.col(f"s.{c}")
                else:
                    upd_col = F.col(f"t.{c}")
                    ins_col = F.lit(None).cast(f.dataType)
                carry_col = (
                    nmbs_upd[c] if c in nmbs_upd else F.col(f"t.{c}")
                )
                cols.append(
                    F.when(matched, upd_col)
                    .when(F.col("__t").isNotNull(), carry_col)
                    .otherwise(ins_col)
                    .cast(f.dataType)
                    .alias(c)
                )
            if evolve_schema:
                target_names = {f.name for f in target.schema.fields}
                for f in source.schema.fields:
                    c = f.name
                    if c in target_names or c == "__s":
                        continue
                    # new column: source value where a source row exists,
                    # null for carried target-only rows
                    cols.append(
                        F.when(F.col("__s").isNotNull(), F.col(f"s.{c}"))
                        .otherwise(F.lit(None).cast(f.dataType))
                        .alias(c)
                    )
            result = joined
            if not when_not_matched_insert:
                result = result.filter(F.col("__t").isNotNull())
            result = result.select(*cols)
            bucket = self.bucket_spec(base)
            new_files, n = self._write_data(result, bucket=bucket)
            return (
                new_files, result.schema, "merge", n, n,
                self._snapshot_extra(base, new_files, bucket),
            )

        return self._occ_loop(attempt)

    def _touched_files(
        self, base: int, cond: Column
    ) -> tuple[list[str], StructType, int]:
        """(relative paths of files holding rows where ``cond`` IS TRUE,
        snapshot schema, matching-row count). ONE predicate-pushed scan with
        ``input_file_name()``: parquet row-group statistics skip
        non-matching groups, and only matching rows reach the aggregate —
        the Delta-style touched-file discovery every file-level
        copy-on-write op starts with."""
        m = self._manifest(base)
        schema = StructType.fromJson(json.loads(m["schema"]))
        rel_files = m["files"]
        if not rel_files:
            return [], schema, 0
        abs_files = [os.path.join(self.path, f) for f in rel_files]
        # Tag file identity BEFORE the DV overlay: a post-join
        # input_file_name() is ambiguous (two scan sources), and any DV
        # overlay must apply first so already-deleted rows cannot re-match.
        # Key on the FULL file path, not the basename — adopted external
        # layouts can hold colliding basenames and a basename map would
        # silently resolve a match to the wrong file.
        tagged = self.spark.read.schema(schema).parquet(*abs_files).select(
            "*", F.col("_metadata.file_path").alias("__tf")
        )
        hits = (
            self._dv_overlay(tagged, m, rel_files)
            .filter(cond)
            .groupBy("__tf")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        root = os.path.abspath(self.path)
        touched = []
        n_match = 0
        for r in hits:
            uri = r["__tf"]
            fp = uri[5:] if uri.startswith("file:") else uri
            fp = "/" + fp.lstrip("/")
            touched.append(os.path.relpath(os.path.abspath(fp), root))
            n_match += r["__n"]
        return sorted(touched), schema, int(n_match)

    def delete_where(self, cond: Column | str) -> int:
        """File-level copy-on-write DELETE: rows where ``cond`` IS TRUE are
        removed; rows where it is FALSE or NULL survive (SQL DELETE
        semantics). Only files that actually HOLD a matching row are
        rewritten — every other file carries over untouched, so deleting
        one day from a year-partitioned fact table rewrites ~1/365th of it,
        not the snapshot (contrast ``merge``, which rewrites whole). The
        discovery scan is predicate-pushed; file stats and blooms carry for
        surviving files and are recomputed for rewrites. Returns rows
        deleted (0 = no commit). Row-CHANGING op: CDC append feeds and
        incremental MVs past it fall back, by design."""
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        self._require_unbucketed("delete_where")

        def attempt(base):
            touched, schema, n_match = self._touched_files(base, cond_col)
            if not touched:
                return None  # nothing matches: no-op, no commit
            m = self._manifest(base)
            keep = self._dv_overlay(
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, f) for f in touched]
                ),
                m,
                touched,
            ).filter(~F.coalesce(cond_col, F.lit(False)))
            new_files, _ = self._write_data(keep)
            untouched = [f for f in m["files"] if f not in set(touched)]
            all_files = [
                os.path.join(self.path, f) for f in untouched
            ] + new_files
            n_total = (m.get("n_rows") or 0) - n_match if m.get("n_rows") else None
            return (
                all_files,
                schema,
                "delete",
                n_total,
                n_match,
                self._stats_extra(base, new_files),
            )

        out = self._occ_loop(attempt)
        return 0 if out is None else out

    def update_where(
        self, cond: Column | str, set_exprs: dict[str, Column | str]
    ) -> int:
        """File-level copy-on-write UPDATE (SQL ``UPDATE t SET ... WHERE
        cond``): rows where ``cond`` IS TRUE get each target column
        replaced by its ``set_exprs`` expression (a Column or SQL string
        over the row); all other rows — including NULL-predicate rows —
        carry unchanged. Likes its delete sibling, only files holding a
        matching row are rewritten; untouched files carry over by path.
        Types are pinned to the table schema (an expression cannot drift a
        column's type). Returns rows updated (0 = no commit)."""
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        self._require_unbucketed("update_where")

        def attempt(base):
            touched, schema, n_match = self._touched_files(base, cond_col)
            if not touched:
                return None
            names = set(schema.fieldNames())
            unknown = [c for c in set_exprs if c not in names]
            if unknown:
                raise ValueError(
                    f"update_where: SET targets {unknown} not in table "
                    f"schema {sorted(names)}"
                )
            m = self._manifest(base)
            scan = self._dv_overlay(
                self.spark.read.schema(schema).parquet(
                    *[os.path.join(self.path, f) for f in touched]
                ),
                m,
                touched,
            )
            is_hit = F.coalesce(cond_col, F.lit(False))
            cols = []
            for f in schema.fields:
                if f.name in set_exprs:
                    e = set_exprs[f.name]
                    e_col = F.expr(e) if isinstance(e, str) else e
                    cols.append(
                        F.when(is_hit, e_col.cast(f.dataType))
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            rewritten = scan.select(*cols)
            new_files, _ = self._write_data(rewritten)
            untouched = [f for f in m["files"] if f not in set(touched)]
            all_files = [
                os.path.join(self.path, f) for f in untouched
            ] + new_files
            return (
                all_files,
                schema,
                "update",
                m.get("n_rows"),
                n_match,
                self._stats_extra(base, new_files),
            )

        out = self._occ_loop(attempt)
        return 0 if out is None else out

    def delete_where_dv(self, cond: Column | str) -> int:
        """Merge-on-READ delete (Delta/Iceberg deletion-vector posture):
        matching row POSITIONS are recorded in a deletion-vector parquet
        under the transaction log and every read path overlays them with a
        broadcast anti-join — NO data file is rewritten. The write cost is
        one predicate-pushed scan plus a deleted-rows-sized write,
        independent of file sizes; the read cost is a broadcast anti-join
        only on files that carry a DV. Use for frequent small deletes (GDPR
        erasure, late-event retraction) where ``delete_where``'s
        copy-on-write rewrite amplification dominates; a later ``compact``
        (or any whole-snapshot rewrite) materializes the deletions and
        drops the vectors — compaction IS the DV garbage collection.
        Returns rows deleted (0 = no commit). Row-changing op: CDC append
        feeds and incremental MVs past it fall back, by design."""
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        self._require_unbucketed("delete_where_dv")

        def attempt(base):
            m = self._manifest(base)
            rel_files = m["files"]
            if not rel_files:
                return None
            schema = StructType.fromJson(json.loads(m["schema"]))
            clash = {"file_name", "row_index"} & set(schema.fieldNames())
            if clash:
                raise ValueError(
                    f"delete_where_dv: column names {sorted(clash)} are "
                    "reserved for the deletion-vector position keys; use "
                    "delete_where (copy-on-write) on this table"
                )
            names_list = [os.path.basename(f) for f in rel_files]
            if len(set(names_list)) != len(names_list):
                # adopted tables can hold externally-written files with
                # colliding basenames; the DV position key is (file_name,
                # row_index), so a collision would delete rows from BOTH
                raise ValueError(
                    "delete_where_dv: snapshot holds duplicate file "
                    "basenames (adopted external layout?); use "
                    "delete_where (copy-on-write) on this table"
                )
            tagged = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in rel_files]
            ).select(
                "*",
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            dvs_now = m.get("dvs") or {}
            dv_files = sorted({d for fs in dvs_now.values() for d in fs})
            if dv_files:
                prior = (
                    self.spark.read.parquet(
                        *[os.path.join(self.path, f) for f in dv_files]
                    )
                    .select(
                        F.col("file_name").alias("__pf"),
                        F.col("row_index").alias("__pr"),
                    )
                    .distinct()
                )
                tagged = tagged.join(
                    F.broadcast(prior),
                    (tagged["file_name"] == prior["__pf"])
                    & (tagged["row_index"] == prior["__pr"]),
                    "left_anti",
                )
            matches = tagged.filter(cond_col).select("file_name", "row_index")
            dv_dir_rel = os.path.join(_TXN_DIR, "dv", uuid.uuid4().hex)
            dv_dir = os.path.join(self.path, dv_dir_rel)
            # one DV file per delete: vectors are deleted-rows-sized, and a
            # part file per scan partition would bloat the active-DV count
            matches.coalesce(1).write.parquet(dv_dir)
            new_dv_files = self._list_parquet(dv_dir)
            back = self.spark.read.parquet(dv_dir)
            touched_names = [r[0] for r in back.select("file_name").distinct().collect()]
            n_deleted = back.count()
            if n_deleted == 0:
                shutil.rmtree(dv_dir, ignore_errors=True)
                return None
            rel_new_dvs = [os.path.relpath(f, self.path) for f in new_dv_files]
            by_name = {os.path.basename(f): f for f in rel_files}
            new_dvs = {k: list(v) for k, v in dvs_now.items()}
            for name in touched_names:
                data_rel = by_name[name]
                new_dvs.setdefault(data_rel, []).extend(rel_new_dvs)
            extra = self._stats_extra(base, [])
            extra["dvs"] = new_dvs
            prev_n = m.get("n_rows")
            return (
                [os.path.join(self.path, f) for f in rel_files],
                schema,
                "delete_dv",
                (prev_n - n_deleted) if isinstance(prev_n, int) else None,
                n_deleted,
                extra,
            )

        out = self._occ_loop(attempt)
        return 0 if out is None else out

    def update_where_dv(
        self, cond: Column | str, set_exprs: dict[str, Column | str]
    ) -> int:
        """Merge-on-READ update (Iceberg's MoR posture): ONE commit records
        a deletion vector over the matching rows AND appends their updated
        copies — no existing data file is rewritten. Write cost is
        matched-rows-sized (the copy-on-write ``update_where`` pays
        touched-FILE-sized rewrites); read cost is the same broadcast DV
        anti-join every read already applies. Use for frequent small
        updates on tables with large files; compaction materializes the
        whole history away. Returns rows updated (0 = no commit)."""
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        self._require_unbucketed("update_where_dv")

        def attempt(base):
            m = self._manifest(base)
            rel_files = m["files"]
            if not rel_files:
                return None
            schema = StructType.fromJson(json.loads(m["schema"]))
            clash = {"file_name", "row_index"} & set(schema.fieldNames())
            if clash:
                raise ValueError(
                    f"update_where_dv: column names {sorted(clash)} are "
                    "reserved for the deletion-vector position keys; use "
                    "update_where (copy-on-write) on this table"
                )
            names_list = [os.path.basename(f) for f in rel_files]
            if len(set(names_list)) != len(names_list):
                raise ValueError(
                    "update_where_dv: snapshot holds duplicate file "
                    "basenames (adopted external layout?); use "
                    "update_where (copy-on-write) on this table"
                )
            names = set(schema.fieldNames())
            unknown = [c for c in set_exprs if c not in names]
            if unknown:
                raise ValueError(
                    f"update_where_dv: SET targets {unknown} not in table "
                    f"schema {sorted(names)}"
                )
            tagged = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in rel_files]
            ).select(
                "*",
                F.col("_metadata.file_name").alias("file_name"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            dvs_now = m.get("dvs") or {}
            dv_files = sorted({d for fs in dvs_now.values() for d in fs})
            if dv_files:
                prior = (
                    self.spark.read.parquet(
                        *[os.path.join(self.path, f) for f in dv_files]
                    )
                    .select(
                        F.col("file_name").alias("__pf"),
                        F.col("row_index").alias("__pr"),
                    )
                    .distinct()
                )
                tagged = tagged.join(
                    F.broadcast(prior),
                    (tagged["file_name"] == prior["__pf"])
                    & (tagged["row_index"] == prior["__pr"]),
                    "left_anti",
                )
            matched = tagged.filter(cond_col).localCheckpoint()
            dv_dir_rel = os.path.join(_TXN_DIR, "dv", uuid.uuid4().hex)
            dv_dir = os.path.join(self.path, dv_dir_rel)
            matched.select("file_name", "row_index").coalesce(1).write.parquet(
                dv_dir
            )
            back = self.spark.read.parquet(dv_dir)
            touched_names = [
                r[0] for r in back.select("file_name").distinct().collect()
            ]
            n_updated = back.count()
            if n_updated == 0:
                shutil.rmtree(dv_dir, ignore_errors=True)
                return None
            cols = []
            for f in schema.fields:
                if f.name in set_exprs:
                    e = set_exprs[f.name]
                    e_col = F.expr(e) if isinstance(e, str) else e
                    cols.append(e_col.cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.col(f.name))
            new_files, _ = self._write_data(matched.select(*cols))
            new_dv_rels = [
                os.path.relpath(f, self.path)
                for f in self._list_parquet(dv_dir)
            ]
            by_name = {os.path.basename(f): f for f in rel_files}
            new_dvs = {k: list(v) for k, v in dvs_now.items()}
            for name in touched_names:
                new_dvs.setdefault(by_name[name], []).extend(new_dv_rels)
            extra = self._stats_extra(base, new_files)
            extra["dvs"] = new_dvs
            all_files = [
                os.path.join(self.path, f) for f in rel_files
            ] + new_files
            return (
                all_files,
                schema,
                "update_dv",
                m.get("n_rows"),
                n_updated,
                extra,
            )

        out = self._occ_loop(attempt)
        return 0 if out is None else out

    def replace_where(self, cond: Column | str, df: DataFrame) -> int:
        """Partition-scoped overwrite (Delta's ``replaceWhere``): atomically
        delete every row where ``cond`` IS TRUE and insert ``df`` — the
        idempotent backfill primitive ("recompute day X and swap it in").
        Every inserted row must satisfy ``cond`` (enforced; otherwise a
        re-run would not be idempotent — the second run's delete wouldn't
        claim the stray rows). File-level copy-on-write like
        ``delete_where``: untouched files carry over; one commit covers
        the delete AND the insert. Returns the rows written to the
        replaced region (the inserts plus carried non-matching rows from
        rewritten files)."""
        cond_col = F.expr(cond) if isinstance(cond, str) else cond
        self._require_unbucketed("replace_where")
        stray = df.filter(~F.coalesce(cond_col, F.lit(False))).limit(1).collect()
        if stray:
            raise ValueError(
                "replace_where: an insert row does not satisfy the "
                f"predicate — first offender: {stray[0].asDict()}"
            )

        def attempt(base):
            touched, schema, _n_match = self._touched_files(base, cond_col)
            m = self._manifest(base)
            survivors = None
            if touched:
                survivors = self._dv_overlay(
                    self.spark.read.schema(schema).parquet(
                        *[os.path.join(self.path, f) for f in touched]
                    ),
                    m,
                    touched,
                ).filter(~F.coalesce(cond_col, F.lit(False)))
            data = (
                df if survivors is None else survivors.unionByName(df)
            )
            new_files, n_written = self._write_data(data)
            untouched = [f for f in m["files"] if f not in set(touched)]
            all_files = [
                os.path.join(self.path, f) for f in untouched
            ] + new_files
            return (
                all_files,
                schema,
                "replace_where",
                None,
                n_written,
                self._stats_extra(base, new_files),
            )

        return self._occ_loop(attempt)

    def read_appends_since(self, version: int) -> DataFrame:
        """Rows added by append-family commits AFTER ``version`` (the
        incremental-consumption edge: checkpoint a version, poll for news).
        Append-only CDC — precise because appended files are exactly the
        manifest delta; an overwrite/merge/compact in the range raises, since
        its file delta does not represent row-level changes."""
        current = self.version()
        if version >= current:
            m = self._manifest(current)
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        new_files = append_delta_files(self.path, version, current)
        schema = StructType.fromJson(json.loads(self._manifest(current)["schema"]))
        if not new_files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f) for f in new_files]
        )

    def read_row_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots, computed from the
        snapshots themselves: deletes = rows in FROM but not TO, inserts =
        rows in TO but not FROM (multiset semantics, so duplicate rows count
        correctly); an update surfaces as its delete+insert pair. Works for
        EVERY operation (append/merge/overwrite/compact) with zero write-path
        cost — the compute-on-read tradeoff vs Delta's stored change files;
        store change files only when CDC becomes the hot path. Returns the
        table schema + ``_change_type`` string column.

        Physical strategy: when BOTH snapshots carry the same bucket spec
        (and schema), the diff runs per-bucket with ZERO global exchange —
        each side aggregates row multiplicities within its bucket (the
        bucket cols are a subset of the grouping cols, so the bucketed
        scan's hash distribution already satisfies the aggregate), and the
        two counted sides full-outer join co-partitioned. Unbucketed
        snapshots fall back to the two-scan ``exceptAll`` form, which
        shuffles both snapshots on all columns."""
        old = self.read(from_version)
        new = self.read(to_version)
        bf = self.bucket_spec(from_version)
        bt = self.bucket_spec(to_version)
        if (
            bf is not None
            and bt is not None
            and bf["cols"] == bt["cols"]
            and bf["n"] == bt["n"]
            and old.columns == new.columns
        ):
            return self._row_changes_cobucketed(old, new, bf["cols"])
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        return deletes.unionByName(inserts)

    @staticmethod
    def _row_changes_cobucketed(
        old: DataFrame, new: DataFrame, bucket_cols: list[str]
    ) -> DataFrame:
        """exceptAll-both-ways as one co-partitioned plan: per-side
        multiplicity counts (no exchange — bucket cols ⊆ grouping cols),
        full-outer join on every column (no exchange — both sides share
        the bucket distribution), then each row re-emitted |count delta|
        times via sequence+explode. Identical multiset semantics to the
        fallback, without shuffling either snapshot.

        Join-key nullability: bucket columns join by PLAIN equality — the
        null-safe form would be rewritten to coalesce/isnull keys, which
        no longer match the scan's hash distribution and would force the
        exchange back in. Bucket cols are the table's merge keys, and the
        merge join itself never matches null keys, so a null there is
        already outside the table's key discipline; the only effect would
        be an unchanged null-keyed row surfacing as a delete+insert pair
        (a no-op for any CDC applier). All other columns join null-safe.

        Requires ``spark.sql.requireAllClusterKeysForCoPartition=false``
        (set here and in the engine's session defaults): the join keys are
        a superset of the bucket columns, and with the default ``true``
        Spark refuses subset-based co-partition reuse and reshuffles both
        sides on the full key list. The knob is purely physical — with it
        left at ``true`` the result is identical, just with two exchanges."""
        from functools import reduce

        old.sparkSession.conf.set(
            "spark.sql.requireAllClusterKeysForCoPartition", "false"
        )

        cols = old.columns
        oc = old.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_old"))
        nc = new.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n_new"))
        cond = reduce(
            lambda a, b: a & b,
            [
                (oc[c] == nc[c]) if c in bucket_cols else oc[c].eqNullSafe(nc[c])
                for c in cols
            ],
        )
        j = oc.join(nc, cond, "full_outer").select(
            *[F.coalesce(oc[c], nc[c]).alias(c) for c in cols],
            F.coalesce(oc["__n_old"], F.lit(0)).alias("__n_old"),
            F.coalesce(nc["__n_new"], F.lit(0)).alias("__n_new"),
        )
        delta = F.col("__n_old") - F.col("__n_new")
        deletes = (
            j.filter(delta > 0)
            .withColumn("__i", F.explode(F.sequence(F.lit(1), delta)))
            .select(*cols)
            .withColumn("_change_type", F.lit("delete"))
        )
        inserts = (
            j.filter(delta < 0)
            .withColumn("__i", F.explode(F.sequence(F.lit(1), -delta)))
            .select(*cols)
            .withColumn("_change_type", F.lit("insert"))
        )
        return deletes.unionByName(inserts)

    def compact(self, target_partitions: int | None = None) -> int:
        """Rewrite the current snapshot into at most ``target_partitions``
        files (default: the session's default parallelism) — the OPTIMIZE
        answer to the small-file problem that per-commit appends
        accumulate: scans over many tiny files pay per-file open/footer
        costs and defeat row-group parallelism. Old versions keep reading
        their original files; vacuum reclaims them once history is no
        longer needed. Returns the new file count.

        Cost: when the target is at most the snapshot's current file count
        (the usual merge-many-into-few case) the rewrite is ONE map-only
        job — a ``coalesce`` merges scan partitions without a shuffle. Only
        a target above the current count (splitting few files into more)
        pays a ``repartition`` shuffle, which is what spreads the rows."""

        def attempt(base):
            snapshot = self.read(base)
            bucket = self.bucket_spec(base)
            if bucket:
                # a bucketed snapshot is already one file per bucket —
                # compaction is its write path by construction
                compacted = snapshot
            else:
                n_parts = target_partitions or max(
                    1, self.spark.sparkContext.defaultParallelism
                )
                n_files = len(self._manifest(base)["files"])
                compacted = (
                    snapshot.coalesce(n_parts)
                    if n_parts <= n_files
                    else snapshot.repartition(n_parts)
                )
            new_files, n = self._write_data(compacted, bucket=bucket)
            return (
                new_files, snapshot.schema, "compact", n, len(new_files),
                self._snapshot_extra(base, new_files, bucket),
            )

        return self._occ_loop(attempt)

    def maybe_compact(
        self,
        max_files: int,
        target_partitions: int | None = None,
        max_dv_files: int | None = None,
    ) -> int | None:
        """Auto-compaction policy (Delta's autoOptimize posture): compact
        only when the live snapshot references MORE than ``max_files`` data
        files, else no-op. The check is a driver-side manifest read — no
        Spark job, no data touched — so an ingest loop can call this after
        every append and pay the rewrite only when the small-file count
        actually crosses the threshold (rewrite cost amortizes to
        O(snapshot / max_files) per file ever written). ``max_dv_files``
        additionally triggers on the count of ACTIVE deletion-vector
        parquets — compaction is the DV garbage collection, and an
        unbounded stack of tiny vectors slows every read's overlay
        broadcast. Returns the new file count, or None when no compaction
        ran."""
        if max_files < 1:
            raise ValueError("max_files must be >= 1")
        if self.bucket_spec() is not None:
            # a bucketed snapshot is already one file per bucket and every
            # commit rewrites it whole — compaction cannot reduce the count
            # below n_buckets, so a threshold under it would otherwise
            # trigger a full-table rewrite on EVERY call, forever
            return None
        n_files, n_dvs = self.snapshot_file_counts()
        dv_over = max_dv_files is not None and n_dvs > max_dv_files
        if n_files <= max_files and not dv_over:
            return None
        # The post-compact count must come in UNDER the threshold, or the
        # policy churns: the bare compact() default (session parallelism,
        # e.g. 32) can exceed a small max_files, leaving the table
        # perpetually "over threshold" and rewritten on every call.
        return self.compact(
            target_partitions=target_partitions
            or min(max_files, max(1, self.spark.sparkContext.defaultParallelism))
        )

    def zorder_by(
        self, cols: list[str], target_partitions: int | None = None
    ) -> int:
        """Whole-snapshot rewrite clustered along the Z-order (Morton) curve
        of ``cols`` — multi-column file skipping for the manifest stats
        index.

        A linear sort makes per-file min/max tight on the leading column
        only; interleaving the columns' bits makes every file a small
        hyper-rectangle in the cluster space, so ``read_pruned`` on ANY of
        the cluster columns skips most files (the Delta/Iceberg OPTIMIZE
        ZORDER answer to multi-dimension point/range lookups). Each column
        is min/max-normalized to a 16-bit integer (one tiny agg for the
        bounds — numeric/date/timestamp columns only), bits are interleaved
        JVM-side (shiftleft/or expressions), and the snapshot is range-
        partitioned + sorted on the z-value. The cluster columns join the
        manifest's stats_cols so the new layout is immediately prunable.
        Returns the new file count. Conflicts with bucketing (two layouts
        can't both own the write distribution) — bucketed tables raise.
        """
        self._require_unbucketed("zorder_by")
        if not cols:
            raise ValueError("zorder_by needs at least one column")

        def attempt(base):
            snap = self.read(base)
            zval = _zorder_value(snap, cols)
            n_parts = target_partitions or max(
                1, self.spark.sparkContext.defaultParallelism
            )
            clustered = (
                snap.withColumn("__z", zval)
                .repartitionByRange(n_parts, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            new_files, n = self._write_data(clustered)
            m = self._manifest(base)
            stats_cols = sorted(set(m.get("stats_cols") or []) | set(cols))
            extra = {
                **self._bloom_extra(base, new_files, keep_base=False),
                "stats_cols": stats_cols,
                "file_stats": self._collect_file_stats(new_files, stats_cols),
            }
            return new_files, snap.schema, "zorder", n, len(new_files), extra

        return self._occ_loop(attempt)

    # ------------------------------------------------------------- cleanup

    def vacuum(self) -> int:
        """Delete data files not referenced by ANY manifest (crash/race
        orphans). Returns the number of files removed. Referenced-by-old-
        snapshot files are kept — time travel stays valid."""
        referenced = set()
        for v in range(1, self.version() + 1):
            # raw manifests suffice: a delta's "adds" plus every checkpoint's
            # "files" covers the union without re-resolving each version
            raw = _read_raw_manifest(self.path, v)
            referenced.update(raw["files"] if "files" in raw else raw["adds"])
        removed = 0
        for f in self._list_parquet(self.path):
            rel = os.path.relpath(f, self.path)
            if rel not in referenced:
                os.unlink(f)
                removed += 1
        # deletion-vector parquets live under the txn log (outside the
        # data walk): keep every vector any raw manifest references (time
        # travel), remove crashed-attempt orphans
        referenced_dvs: set[str] = set()
        for v in range(1, self.version() + 1):
            raw = _read_raw_manifest(self.path, v)
            for fs in (raw.get("dvs") or {}).values():
                referenced_dvs.update(fs)
        dv_root = os.path.join(self.path, _TXN_DIR, "dv")
        if os.path.isdir(dv_root):
            for root, _dirs, files_ in os.walk(dv_root):
                for f in files_:
                    if not f.endswith(".parquet"):
                        continue
                    full = os.path.join(root, f)
                    if os.path.relpath(full, self.path) not in referenced_dvs:
                        os.unlink(full)
                        removed += 1
            for d in os.listdir(dv_root):
                full = os.path.join(dv_root, d)
                if os.path.isdir(full) and not any(
                    fn.endswith(".parquet")
                    for _r, _d, fns in os.walk(full)
                    for fn in fns
                ):
                    shutil.rmtree(full, ignore_errors=True)
        # prune empty commit directories
        data_root = os.path.join(self.path, _DATA_DIR)
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                full = os.path.join(data_root, d)
                if os.path.isdir(full) and not self._list_parquet(full):
                    shutil.rmtree(full, ignore_errors=True)
        self._drop_snapshot_registrations()
        return removed

    def _drop_snapshot_registrations(self) -> None:
        """Drop this table's per-(path, version) bucketed-snapshot catalog
        entries (see _read_bucketed). They are metadata-only and
        deterministic, so dropping is always safe — the next read simply
        re-registers."""
        import hashlib

        for v in range(1, self.version() + 1):
            tag = hashlib.md5(f"{self.path}@{v}".encode()).hexdigest()[:12]
            self.spark.sql(f"DROP TABLE IF EXISTS sjs_txn_snap_{tag}")
