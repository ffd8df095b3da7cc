"""Sink/lake coverage: partitioned writer + pruning, binary lake reader,
idempotent append, CSV export round-trip (SURVEY.md §2.1 S3/S7/S8/S9, §2.4 A3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from scraping_jobsdb_spark.sources.lake import read_binary_lake
from scraping_jobsdb_spark.sources.tables import (
    load_table,
    write_csv_export,
    write_idempotent_append,
    write_partitioned,
)


def test_partitioned_write_and_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "lake")
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        F.dayofmonth("o_orderdate").alias("day"),
    )
    write_partitioned(o, path)
    back = spark.read.parquet(path)
    assert back.count() == o.count()

    pruned = back.filter((F.col("year") == 1995) & (F.col("month") == 3))
    expect = o.filter((F.col("year") == 1995) & (F.col("month") == 3)).count()
    assert pruned.count() == expect
    # The filter must prune at planning time, not scan-and-filter.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "year" in plan.split("PartitionFilters", 1)[1][:200]


def test_binary_lake_reader_roundtrip(spark, tmp_path):
    payloads = {f"doc{i}.bin": bytes([i] * (i + 1)) for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    df = read_binary_lake(spark, str(tmp_path / "*.bin"))
    rows = {r.file_path.rsplit("/", 1)[-1]: bytes(r.content) for r in df.collect()}
    assert rows == payloads
    lengths = {r.file_path.rsplit("/", 1)[-1]: r.length for r in df.collect()}
    assert lengths == {k: len(v) for k, v in payloads.items()}


def test_idempotent_append_is_exactly_once_per_key(spark, tmp_path):
    path = str(tmp_path / "tbl")
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    first = o.filter(F.col("o_orderkey") % 2 == 0)
    n1 = write_idempotent_append(first, path, ["o_orderkey"])
    assert n1 == first.count()
    # Re-deliver an overlapping batch: only the truly-new keys land.
    second = o.filter(F.col("o_orderkey") % 4 != 1)
    n2 = write_idempotent_append(second, path, ["o_orderkey"])
    got = spark.read.parquet(path)
    assert got.count() == n1 + n2
    assert got.select("o_orderkey").distinct().count() == got.count()
    union_keys = first.select("o_orderkey").union(second.select("o_orderkey"))
    assert got.count() == union_keys.distinct().count()


def test_csv_export_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out_csv")
    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_csv_export(o, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == o.count()
    assert back.columns == ["o_orderkey", "o_orderstatus", "o_totalprice"]


def test_observe_metrics_ride_the_write_job(spark, tmp_path):
    """df.observe: DQ metrics from the SAME job as the write — no second scan."""
    from scraping_jobsdb_spark.operators.checks import observed

    o = load_table(spark, SF_SMOKE, "orders")
    obs_df, handle = observed(
        o,
        "write_dq",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_cust": F.sum(F.col("o_custkey").isNull().cast("int")),
            "max_price": F.max("o_totalprice"),
        },
    )
    obs_df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = handle.get()
    assert got["n_rows"] == o.count()
    assert got["n_null_cust"] == 0
    assert got["max_price"] == o.agg(F.max("o_totalprice")).collect()[0][0]


def test_custom_python_datasource_search_surface(spark):
    """Spark 4 Python DataSource: search combos as InputPartitions."""
    from scraping_jobsdb_spark.session import ship_package
    from scraping_jobsdb_spark.sources.datasource import JobSearchDataSource
    from scraping_jobsdb_spark.sources.fake_site import job_ids_for, total_jobs_for

    ship_package(spark)
    spark.dataSource.register(JobSearchDataSource)
    df = (
        spark.read.format("jobsdb_sim")
        .option("keywords", "data-engineer,analyst")
        .option("bands", "10000:20000,20000:30000")
        .load()
    )
    rows = df.collect()
    combos = [("data-engineer", 10000, 20000), ("data-engineer", 20000, 30000),
              ("analyst", 10000, 20000), ("analyst", 20000, 30000)]
    expected = sum(total_jobs_for(k, lo, hi) for k, lo, hi in combos)
    assert len(rows) == expected
    # ids per combo match the simulator's ground truth
    for k, lo, hi in combos:
        got = sorted(r.job_id for r in rows
                     if (r.keyword, r.salary_min, r.salary_max) == (k, lo, hi))
        assert got == sorted(job_ids_for(k, lo, hi))
    # column pruning through the Python source still returns correct values
    only = spark.read.format("jobsdb_sim").option(
        "keywords", "data-engineer"
    ).option("bands", "10000:20000").load().select("job_id")
    assert only.count() == total_jobs_for("data-engineer", 10000, 20000)


def test_param_grid_plan_scans_no_python_rdd(spark):
    """The ingest grid is a JVM-side ``LocalRelation``: reading it runs no
    Python-worker stage. Rows keep the keyword-major order."""
    from scraping_jobsdb_spark.pipelines.ingest import build_param_grid

    grid = build_param_grid(spark, ["a", "b"], [(1, 2), (3, 4)])
    plan = grid._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert grid.schema.simpleString() == "struct<keyword:string,lo:int,hi:int>"
    assert [tuple(r) for r in grid.collect()] == [
        ("a", 1, 2), ("a", 3, 4), ("b", 1, 2), ("b", 3, 4)
    ]


def test_datasource_equals_fetch_extract_path(spark):
    """The DataSource surface and the pipeline's fetch+regex path discover
    the same (keyword, band, job_id) memberships."""
    from scraping_jobsdb_spark.pipelines.ingest import build_param_grid, fetch_html
    from scraping_jobsdb_spark.session import ship_package
    from scraping_jobsdb_spark.sources.datasource import JobSearchDataSource
    from scraping_jobsdb_spark.sources.fake_site import fake_transport

    ship_package(spark)
    kws, bands = ["data_engineer", "analyst"], [(11000, 20000), (20000, 30000)]

    spark.dataSource.register(JobSearchDataSource)
    via_source = (
        spark.read.format("jobsdb_sim")
        .option("keywords", ",".join(kws))
        .option("bands", ",".join(f"{lo}:{hi}" for lo, hi in bands))
        .load()
        .select("keyword", "salary_min", "salary_max", "job_id")
    )

    grid = build_param_grid(spark, kws, bands)
    p1 = grid.withColumn(
        "url",
        F.concat(
            F.lit("https://example.test/search?kw="), "keyword",
            F.lit("&lo="), "lo", F.lit("&hi="), "hi", F.lit("&page=1"),
        ),
    )
    meta = fetch_html(p1, fake_transport).withColumn(
        "total",
        F.get_json_object(
            F.regexp_extract("html", r"data-meta='([^']*)'", 1), "$.totalJobCount"
        ).cast("int"),
    ).withColumn("n_pages", F.ceil(F.coalesce(F.col("total"), F.lit(0)) / 30.0))
    pages = meta.filter(F.col("n_pages") > 0).select(
        "keyword", "lo", "hi",
        F.explode(F.sequence(F.lit(1), F.col("n_pages"))).alias("page"),
    )
    page_urls = pages.withColumn(
        "url",
        F.concat(
            F.lit("https://example.test/search?kw="), "keyword",
            F.lit("&lo="), "lo", F.lit("&hi="), "hi", F.lit("&page="), "page",
        ),
    )
    via_fetch = (
        fetch_html(page_urls, fake_transport)
        .select(
            "keyword", "lo", "hi",
            F.explode(
                F.regexp_extract_all("html", F.lit(r'href="/hk/en/job/[^"]*-(\d+)"'), 1)
            ).alias("job_id"),
        )
        .select(
            "keyword",
            F.col("lo").alias("salary_min"),
            F.col("hi").alias("salary_max"),
            "job_id",
        )
    )
    assert sorted(map(tuple, via_source.collect())) == sorted(
        map(tuple, via_fetch.collect())
    )
