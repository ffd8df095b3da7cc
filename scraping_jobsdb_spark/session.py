"""SparkSession factory.

Replaces the reference's config-file loader (``spark/lib/utils.py:128-138``,
which read ``spark.conf`` into a SparkConf and pinned ``local[3]`` with
``spark.sql.shuffle.partitions=2``). Here the defaults are scale-sane: AQE on
(runtime partition coalescing + skew-join handling), Arrow enabled for the
pandas-UDF surface, and shuffle parallelism sized from the env rather than
hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "local_df"]


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "scraping_jobsdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Local mode is only the test harness; every setting here is chosen to also
    be correct on a multi-executor cluster:

    - AQE: runtime shuffle-partition coalescing, skew-join splitting, and
      dynamic join-strategy demotion — the knobs that keep a fixed
      ``shuffle.partitions`` from being wrong at 1000x the data.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension
      tables (region/nation/...) broadcast automatically; operators that know
      a side is small also hint ``F.broadcast`` explicitly.
    - Arrow on for pandas UDFs (the only sanctioned Python hot path).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # allow join children partitioned on a SUBSET of the join keys to
        # co-partition (bucketed tables joined on bucket-cols-plus-more, e.g.
        # the co-bucketed CDC diff) instead of forcing a full-key reshuffle
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Delay scheduling is a data-locality optimization for HDFS-era
        # co-located storage; on local mode and on object-store clusters
        # (where every read is remote anyway) it only stalls the scheduler —
        # measured: a coalesce(1) over a parallelized local relation waited
        # the full 3 s default before running its one task. 0 = schedule
        # immediately wherever a slot is free.
        .config("spark.locality.wait", "0s")
    )
    # Master: honor an existing session/cluster manager; local[N] only as the
    # single-machine fallback (tests, bench).
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def local_df(spark: SparkSession, rows, schema: str):
    """Arrow/JVM-backed DataFrame from a small driver-side row list.

    ``spark.createDataFrame(list, ...)`` parallelizes the rows into
    Python-pickled partitions — every downstream job then pays a
    Python-worker round trip PER PARTITION (measured ~130 ms each: a
    ``coalesce(1)`` over the default 32 slices of a 10-row frame stalled
    ~4 s computing 32 tiny Python partitions sequentially) even though the
    data is bytes. Handing Spark ONE Arrow table instead gives a
    ``LocalRelation`` that lives JVM-side from then on: the same frame
    coalesces, joins, or writes in ~50 ms. Use this for every
    codebook-scale side frame (centroids, codebooks, probe-pair lists,
    driver-solved components, parameter grids).

    The table is built column by column, typed from ``schema`` — not
    through pandas, whose inference turns an int64 column holding a None
    into float64 (ids above 2^53 would round). Nulls stay nulls, values
    cross exactly, and an empty row list is an empty ``LocalRelation``
    rather than an empty Python RDD.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    asch = to_arrow_schema(st)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(asch)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, asch)], schema=asch
    )
    return spark.createDataFrame(table, st)


def ship_package(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via ``addPyFile``.

    Called by every operator that executes Python on workers (mapInPandas /
    pandas UDFs): cloudpickle serializes module-level functions by reference,
    so workers must be able to ``import scraping_jobsdb_spark`` themselves —
    true on a real cluster (spark-submit --py-files) and NOT guaranteed in
    local mode when the driver's cwd is elsewhere. Idempotent per session;
    pure-expression operators never need it.
    """
    if getattr(spark, "_sjs_package_shipped", False):
        return
    import tempfile
    import zipfile

    import scraping_jobsdb_spark

    pkg_dir = os.path.dirname(os.path.abspath(scraping_jobsdb_spark.__file__))
    # Always rebuild (cheap: ~100 KB of .py files) into a process-unique file,
    # then atomically rename — a version-keyed cache went stale once when the
    # package grew within a version, and a shared path could be read
    # half-written by a concurrent Spark app.
    zip_path = os.path.join(
        tempfile.gettempdir(), f"scraping_jobsdb_spark-pyfiles-{os.getpid()}.zip"
    )
    tmp_path = zip_path + ".tmp"
    with zipfile.ZipFile(tmp_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in sorted(files):
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "scraping_jobsdb_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    os.replace(tmp_path, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark._sjs_package_shipped = True
