"""Parse pipeline: the ``parse_html_in_spark`` DAG + ParseHtml job
(SURVEY.md §3.2), Spark-first.

Reference flow: JDBC scan with a hand-pushed NOT-IN subquery (single
partition! ``ParseHtml.py:23-41``) → row-at-a-time UDF invoked 12× per row,
each call re-opening the HTML file from inside the UDF (``ParseHtml.py:48``,
``utils.py:29-30``) → single-writer JDBC append.

Engine flow: splittable parquet scan of the lake (partition-pruned to the
requested date range) → left-anti vs already-parsed keys (J3) → ONE
Arrow-batched struct-returning pandas UDF (operators/extract.py) → a
transactional idempotent append (sources/txn.py). EXACTLY-once by
construction: the cheap pre-filter anti-join skips re-extracting known
job_ids, and the txn append re-anti-joins inside its commit retry loop, so
even concurrent parse runs cannot duplicate a job_id (the reference's
ON CONFLICT guarantee, ``sql/scrape_url_insert_data.sql:4``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.extract import extract_jobs
from scraping_jobsdb_spark.operators.incremental import new_rows
from scraping_jobsdb_spark.schemas import LAKE_DOCUMENT
from scraping_jobsdb_spark.session import local_df
from scraping_jobsdb_spark.sources.txn import TxnTable

__all__ = ["parse"]


def parse(
    spark: SparkSession,
    lake_path: str,
    parsed_path: str,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
) -> int:
    """Parse lake documents not yet in the parsed table; returns rows added.

    Passing year/month/day prunes the lake scan to those partitions (the
    reference never exploited its own date layout — SURVEY.md §4 'partition
    pruning').

    Cost: the lake is read with its declared schema (``LAKE_DOCUMENT``, the
    one ingest writes), so no schema-inference job runs; with all three of
    year/month/day given only that day's directory is listed."""
    from scraping_jobsdb_spark.observability import get_logger, job_log

    with job_log(get_logger(), "parse", lake=lake_path, parsed=parsed_path) as rec:
        n = _parse(spark, lake_path, parsed_path, year, month, day)
        rec["rows_added"] = n
        return n


def _parse(
    spark: SparkSession,
    lake_path: str,
    parsed_path: str,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
) -> int:
    lake = _read_lake(spark, lake_path, year, month, day)
    for col, val in (("year", year), ("month", month), ("day", day)):
        if val is not None:
            lake = lake.filter(F.col(col) == val)
    lake = lake.filter(F.col("html").isNotNull())

    table = TxnTable(spark, parsed_path) if TxnTable.exists(spark, parsed_path) else None
    if table is not None:
        todo = new_rows(lake, table.read().select("job_id"), ["job_id"])
    else:  # first run
        todo = lake

    extracted: DataFrame = extract_jobs(
        todo.select("job_id", "html", "scraped_date"), "html", "scraped_date"
    )
    out = extracted.select(
        "job_id",
        "job_title",
        "company_name",
        "job_description",
        "location",
        "official_post_date",
        "min_official_salary",
        "max_official_salary",
        "career_level",
        "qualification",
        "job_type",
        "job_functions",
        "industry",
        F.lit(None).cast("int").alias("min_salary"),
        F.lit(None).cast("int").alias("max_salary"),
    )
    if table is None:
        table = TxnTable.create(spark, parsed_path, schema=out.schema)
    return table.idempotent_append(out, ["job_id"])


def _read_lake(
    spark: SparkSession,
    lake_path: str,
    year: int | None,
    month: int | None,
    day: int | None,
) -> DataFrame:
    """The lake under its declared schema. On a local lake one given day
    reads only its partition directory (``basePath`` keeps year/month/day
    as columns); a day that landed no pages has none and reads as empty."""
    reader = spark.read.schema(LAKE_DOCUMENT)
    if year is None or month is None or day is None or not os.path.isdir(lake_path):
        return reader.parquet(lake_path)
    part = os.path.join(lake_path, f"year={year}", f"month={month}", f"day={day}")
    if not os.path.isdir(part):
        return local_df(spark, [], LAKE_DOCUMENT)
    return reader.option("basePath", lake_path).parquet(part)
