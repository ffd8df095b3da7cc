"""Table readers and writers.

Replaces the reference's source/sink zoo (SURVEY.md §2.1) — JDBC scans with
hand-pushed SQL (``spark/ParseHtml.py:23-41``), per-combo CSV temp-table hops
(``airflow/dags/scrape_url.py:227-262``), single-writer JDBC appends
(``ParseHtml.py:74-80``), and `COPY TO` CSV export
(``airflow/dags/export_to_csv.py:12-26``) — with splittable columnar Parquet
as the one storage format plus CSV kept only at the import/export edges.

Scale posture: Parquet scans are splittable and get predicate pushdown +
column pruning + partition pruning from Catalyst for free; the idempotent
append (the engine's replacement for Postgres `ON CONFLICT DO NOTHING`,
``sql/scrape_url_insert_data.sql:1-4``) is an anti-join keyed on the logical
uniqueness constraint, which AQE plans as broadcast when the incoming batch is
small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver's TPC-H-ish star schema + LLM-pipeline tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP regardless of how the
    parquet file encodes it.

    The driver's testdata has shipped ``ts`` two ways: TIMESTAMP(NANOS)
    (which Spark's vectorized reader only loads as BIGINT via the legacy
    nanos-as-long conf) and plain ``timestamp[us]`` (loaded as
    TIMESTAMP_NTZ). Branch on the *loaded* dtype rather than assuming one
    encoding — a hardcoded nanos conversion is an AnalysisException the day
    the files change, and vice versa. NTZ is cast to session-time TIMESTAMP
    (session tz is pinned UTC) so downstream watermarks/windows/oracle
    comparisons see identical instants on both paths.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # legacy TIMESTAMP(NANOS) read as long
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Inferred-schema cache for the static testdata tables: path -> (mtime,
# size, schema). ``spark.read.parquet`` pays a full footer read + schema
# inference (~100 ms driver wall, measured r14) on EVERY call; a catalog
# or lakehouse manifest would hold the schema as metadata (guide §6 — the
# practical argument for manifest-bearing table formats). Keyed on
# (mtime, size) so a rewritten file re-infers; caches only schema
# metadata, never data or results.
_SCHEMA_CACHE: dict[str, tuple[float, int, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table: splittable parquet scan, columns pruned lazily.

    ``events.parquet``'s ``ts`` encoding has changed across driver versions;
    ``normalize_event_ts`` adapts whatever dtype the scan yields to TIMESTAMP.
    The nanos-as-long conf is harmless for non-nanos files (it only affects
    TIMESTAMP(NANOS) columns) and required for the legacy ones.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(_read_parquet_cached_schema(spark, path))
    return _read_parquet_cached_schema(spark, path)


def _read_parquet_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == st.st_mtime and hit[1] == st.st_size:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (st.st_mtime, st.st_size, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """Widen a narrow scan so a CPU-heavy map stage uses every core.

    Small parquet files (one row group) produce one input split regardless of
    cluster size, serializing any expensive per-row computation (shingling,
    hashing, UDF feature extraction) onto a single task. On a real cluster a
    100 TB table has millions of splits and this is a no-op — the guard
    checks the *actual* scan partitioning and only pays the (tiny: the raw
    rows) round-robin shuffle when the scan is narrower than the session's
    parallelism. Contrast with the reference's fixed single-partition JDBC
    scan (``spark/ParseHtml.py:33-41``), which serializes the parse stage by
    construction.

    ``cols`` switches round-robin to hash partitioning on those columns: when
    the next operator needs exactly that clustering (window partition key,
    group-by key), the one exchange does double duty and Catalyst skips the
    operator's own shuffle. Use round-robin (default) when downstream keys
    are low-cardinality (skew) or the map work is keyless.

    Operators may call it on their own input (``minhash_candidate_pairs``
    does, before signing). It repartitions ANY frame without file splits —
    a ``localCheckpoint``, a driver-built frame, a post-shuffle result —
    because such a frame's width is whatever AQE or the producer left, and
    AQE coalesces a small shuffle (hundreds of KB) to one partition however
    CPU-heavy the next stage is. Cost model: one more exchange of the
    frame's rows (a map stage, run as its own job under AQE; select the
    columns the next stage needs first) against a next stage that runs on
    every core instead of one. Worth it before per-row CPU work such as
    signing; not worth it on a per-batch path of ~100 rows, where the job
    is the cost.

    Idempotent: a frame that is already a round-robin shuffle to at least
    ``target`` partitions (under projections and filters) passes through,
    so a caller's ``fan_out`` and an operator's own never stack.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if not cols and _shuffled_to(df, target):
        return df
    # Width probe: pure file metadata, never df.rdd — the RDD translation
    # forces a second physical planning pass for every fan_out call, which
    # on a wide plan costs more than the question is worth. A scan over
    # >= target files always has enough splits; fewer files can still mean
    # enough byte-range splits (Spark splits parquet by maxPartitionBytes),
    # estimated from file sizes alone.
    if _estimated_scan_splits(df) >= target:
        return df
    if cols:
        return df.repartition(target, *cols)
    return df.repartition(target)


def _shuffled_to(df: DataFrame, target: int) -> bool:
    """True when ``df``'s logical plan, below any projections and filters
    (narrow: they keep the partition count), is a shuffling repartition to
    at least ``target`` partitions — e.g. an earlier ``fan_out``. The file
    probe cannot tell: it reads the plan's leaves, which still report the
    narrow scan."""
    node = df._jdf.queryExecution().logical()
    while node.nodeName() in ("Project", "Filter"):
        node = node.child()
    return (
        node.nodeName() == "Repartition"
        and node.shuffle()
        and node.numPartitions() >= target
    )


def _parse_byte_size(s: str) -> int:
    """Parse Spark size strings like '128MB', '134217728b', '1g'."""
    s = s.strip().lower().removesuffix("b")
    for suffix, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            return int(float(s[:-1]) * mult)
    return int(s)


def _estimated_scan_splits(df: DataFrame) -> int:
    """Estimate how many input splits a file scan produces, metadata-only.

    Spark carves parquet scans into byte ranges of maxPartitionBytes, so
    splits ~= sum(ceil(size / maxPartitionBytes)). Files whose size can't be
    stat'ed (remote URIs without a mounted fs) count as one split each —
    conservative: worst case fan_out pays an unneeded (cheap, raw-row)
    shuffle rather than silently under-parallelizing. Non-file scans (in-
    memory frames, post-shuffle results) report 0 ⇒ caller repartitions,
    which is the safe default for a frame of unknown width.
    """
    files = df.inputFiles()
    if not files:
        return 0
    spark = df.sparkSession
    max_bytes = _parse_byte_size(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    )
    splits = 0
    for uri in files:
        path = uri.removeprefix("file:")
        try:
            size = os.path.getsize(path)
        except OSError:
            splits += 1
            continue
        splits += max(1, -(-size // max_bytes))
    return splits


def read_csv_table(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    """CSV bulk import with an explicit schema (replaces S4, the Postgres COPY
    of scraper CSVs at ``scrape_url.py:248-261``). Never infer: schema
    inference is a full extra pass over the data."""
    return spark.read.schema(schema).option("header", header).csv(path)


def write_csv_export(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Final CSV export (S9, ``export_to_csv.py:12-26``). ``coalesce(1)`` is
    only for the human-facing edge; at scale leave ``single_file=False`` so
    each task writes its own part-file."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("year", "month", "day"),
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Date-partitioned lake writer (S8): the reference laid HTML out under
    ``{lake}/{yyyy}/{mm}/{dd}/{job_id}.html`` (``scrape_url.py:101-116``);
    here any frame with year/month/day columns lands Hive-partitioned so later
    scans get partition pruning."""
    (df.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path))


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Parallel JDBC scan (S5 done right).

    The reference's JDBC read pushes its filter into the query string but has
    NO partitionColumn — a single-partition scan and the whole table through
    one connection (``spark/ParseHtml.py:33-41``). This wrapper always
    stripes the scan across ``num_partitions`` range predicates; Catalyst
    additionally pushes filters/pruning via the JDBC dialect. (No database
    ships in the test runtime; exercised only against live JDBC URLs.)
    """
    return spark.read.jdbc(
        url,
        table,
        column=partition_column,
        lowerBound=lower_bound,
        upperBound=upper_bound,
        numPartitions=num_partitions,
        properties=properties or {},
    )


def write_jdbc_append(
    df: DataFrame, url: str, table: str, properties: dict[str, str] | None = None
) -> None:
    """JDBC append sink (S6, ``ParseHtml.py:74-80``) — one connection per
    partition, so writer parallelism follows the frame's partitioning
    (``df.repartition(n)`` upstream controls the fan-in)."""
    df.write.mode("append").jdbc(url, table, properties=properties or {})


def write_idempotent_append(
    df: DataFrame, path: str, key_cols: list[str], fmt: str = "parquet"
) -> int:
    """Insert-if-absent append (A3): Postgres expressed this as a UNIQUE
    constraint + ``ON CONFLICT DO NOTHING`` (``scrape_url_create_raw_table.sql:11``,
    ``scrape_url_insert_data.sql:1-4``). With plain Parquet the engine gets the
    same at-most-once-per-key semantics via a left-anti join of the incoming
    batch against the existing table on the key columns, then a plain append.

    Returns the number of rows actually appended. At scale the existing side
    is only scanned on the key columns (column pruning) and the incoming batch
    is typically the small side → AQE broadcasts it.

    NB: with a SINGLE writer this is exactly-once; under concurrent writers
    the check and the append do not serialize, so it degrades to
    at-least-once. ``sources.txn.TxnTable.idempotent_append`` runs the same
    anti-join inside an optimistic-commit retry loop and is exactly-once —
    the pipelines use that; this stays for plain-Parquet edges.
    """
    spark = df.sparkSession
    try:
        existing = spark.read.format(fmt).load(path).select(*key_cols)
        fresh = df.join(existing, on=key_cols, how="left_anti")
    except Exception:  # first write: nothing to dedupe against
        fresh = df
    n = fresh.count()
    if n:
        fresh.write.mode("append").format(fmt).save(path)
    return n
