"""Ingestion pipeline: the ``scrape_url`` DAG (SURVEY.md §3.1) as ONE Spark
dataflow.

The reference fans out 11 keywords × 8 salary bands into 88 sequential Airflow
task chains (``scrape_url.py:12-34,335-398``), writes page rows to CSV, COPYs
into per-combo temp tables, upserts with ON CONFLICT, dedupes with DISTINCT
ON, anti-joins a work queue, then scrapes one URL at a time with a 1-6 s
sleep. Here the whole DAG is data parallelism over one parameter DataFrame:

    param grid → fetch search pages (mapInPandas, rate-limited per partition)
      → explode job links (regexp_extract_all — the reference's morally-UDTF
        page→links fan-out, scrape_url.py:169-181)
      → idempotent append to raw memberships (A3)
      → deterministic dedup (A2) → anti-join vs catalog (J1)
      → fetch detail pages (mapInPandas) → date-partitioned lake write (S8)
      → catalog update (A6, batch form) → DQ checks (A5)

Scale: fetch stages parallelize by repartitioning the URL frame; politeness
is per-partition rate limiting (F18), so aggregate throughput = partitions ×
1/delay. Everything after the fetch is shuffle-minimal: one hash shuffle for
dedup, one broadcast-able anti-join, map-only extraction.

Cost: a day's Spark jobs follow the day, not the history. The DQ checks and
the row counts ride the lake write as observed metrics (no scan of their
own), ``catalog_size`` is read from the catalog's parquet footers, and each
table's append writes at most ``defaultParallelism`` files.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from datetime import date

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from scraping_jobsdb_spark.operators.checks import CheckResult, observed, raise_failed
from scraping_jobsdb_spark.operators.dedup import dedup_first
from scraping_jobsdb_spark.operators.incremental import new_rows
from scraping_jobsdb_spark.schemas import LAKE_DOCUMENT
from scraping_jobsdb_spark.session import local_df

Transport = Callable[[str], str]

__all__ = ["build_param_grid", "fetch_html", "ingest"]

# Reference search space (scrape_url.py:12-34), kept as defaults.
DEFAULT_KEYWORDS = ["data_engineer", "data_analyst", "software_engineer"]
DEFAULT_BANDS = [(11000, 20000), (20000, 30000), (30000, 50000)]


def build_param_grid(
    spark: SparkSession,
    keywords: list[str] | None = None,
    bands: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """The 88-combo fan-out as one DataFrame (kw × band).

    Built with ``local_df``: a JVM-side ``LocalRelation``, so reading the
    grid costs no Python-worker stage (``createDataFrame(list)`` paid a
    4-task Python-RDD stage per run just to read the rows)."""
    rows = [
        (kw, lo, hi)
        for kw in (keywords or DEFAULT_KEYWORDS)
        for lo, hi in (bands or DEFAULT_BANDS)
    ]
    return local_df(spark, rows, "keyword string, lo int, hi int")


def fetch_html(
    df: DataFrame,
    transport: Transport,
    url_col: str = "url",
    out_col: str = "html",
    delay_s: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Fetch stage (S1/S2): mapInPandas over a URL frame with a per-partition
    rate limiter (F18 — the reference sleeps 1-6 s between sequential
    requests, ``scrape_url.py:119-127``; here politeness is per worker, so
    total throughput scales with partitions while each worker stays polite).
    Failures surface in an ``error`` column instead of killing the job
    (failure isolation, SURVEY.md §2.9)."""
    from scraping_jobsdb_spark.session import ship_package

    ship_package(df.sparkSession)
    if partitions:
        df = df.repartition(partitions)
    # NB: StructType.add mutates in place — never call it on df.schema (it
    # corrupts the DataFrame's cached schema); build a fresh StructType.
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, StringType()), StructField("error", StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            htmls, errors = [], []
            for url in pdf[url_col]:
                if delay_s:
                    time.sleep(delay_s)
                try:
                    htmls.append(transport(url))
                    errors.append(None)
                except Exception as e:  # noqa: BLE001 — isolate per-row failure
                    htmls.append(None)
                    errors.append(str(e))
            pdf = pdf.copy()
            pdf[out_col] = htmls
            pdf["error"] = errors
            yield pdf

    return df.mapInPandas(run, schema)


def ingest(
    spark: SparkSession,
    transport: Transport,
    lake_path: str,
    raw_path: str,
    catalog_path: str,
    run_date: date,
    keywords: list[str] | None = None,
    bands: list[tuple[int, int]] | None = None,
    base_url: str = "https://example.test",
    fetch_partitions: int = 8,
    delay_s: float = 0.0,
) -> dict[str, int]:
    """Run the full ingestion for ``run_date``. Returns row counts per stage
    (the numbers the reference's sanity task would check).

    The raw-membership and catalog tables are transactional (sources/txn.py):
    appends are exactly-once on their uniqueness keys even under concurrent
    runs — the reference leaned on Postgres ON CONFLICT for the same
    guarantee. The lake itself stays plain date-partitioned Parquet (raw
    immutable files; the catalog anti-join upstream already gates what lands
    there).

    A detail page whose fetch failed lands in the lake with NULL html but
    not in the catalog, so the next run fetches it again; this run raises
    ``AssertionError`` naming the failed job ids, after the rest of the day
    has landed. The catalog's job ids are unique by construction
    (``dedup_first`` builds the delta, the keyed ``idempotent_append``
    writes it), so no check scans the catalog.

    Cost: ``jobs_scraped`` and the failed-fetch count are observed metrics
    of the lake write and ``catalog_size`` is summed from parquet footers
    (``TxnTable.row_count``), so the stats and checks add no Spark job."""
    from scraping_jobsdb_spark.sources.txn import TxnTable

    grid = build_param_grid(spark, keywords, bands)

    # --- search page 1: discover totalJobCount, branch on zero results (P5)
    p1 = grid.withColumn(
        "url",
        F.concat(
            F.lit(f"{base_url}/search?kw="), "keyword",
            F.lit("&lo="), "lo", F.lit("&hi="), "hi", F.lit("&page=1"),
        ),
    )
    # localCheckpoint: page 1's html is consumed twice (pagination metadata AND
    # its own job links) — materialize the fetch once so the transport sees
    # each search URL exactly once per run.
    p1_html = fetch_html(
        p1, transport, partitions=fetch_partitions, delay_s=delay_s
    ).localCheckpoint()
    meta = p1_html.withColumn(
        "total",
        F.get_json_object(
            F.regexp_extract("html", r"data-meta='([^']*)'", 1), "$.totalJobCount"
        ).cast("int"),
    ).withColumn("n_pages", F.ceil(F.coalesce(F.col("total"), F.lit(0)) / 30.0))

    # --- fan out to the REMAINING pages (the per-combo page loop,
    # scrape_url.py:160). Page 1 was already fetched by the discovery stage —
    # re-using its html instead of refetching halves the load for single-page
    # combos and keeps every URL exactly-once.
    pages = meta.filter(F.col("n_pages") > 1).select(
        "keyword", "lo", "hi",
        F.explode(F.sequence(F.lit(2), F.col("n_pages"))).alias("page"),
    )
    page_urls = pages.withColumn(
        "url",
        F.concat(
            F.lit(f"{base_url}/search?kw="), "keyword",
            F.lit("&lo="), "lo", F.lit("&hi="), "hi",
            F.lit("&page="), "page",
        ),
    )
    rest_html = fetch_html(page_urls, transport, partitions=fetch_partitions, delay_s=delay_s)
    all_pages = meta.filter(F.col("n_pages") > 0).select(
        "keyword", "lo", "hi", "html"
    ).unionByName(rest_html.select("keyword", "lo", "hi", "html"))

    # --- explode job links: the page→links UDTF-shaped fan-out, JVM-side
    links = all_pages.select(
        "keyword",
        F.col("lo").alias("salary_min"),
        F.col("hi").alias("salary_max"),
        F.explode(
            F.regexp_extract_all("html", F.lit(r'href="(/hk/en/job/[^"]+)"'), 1)
        ).alias("job_path"),
    )
    memberships = links.select(
        "keyword",
        F.regexp_extract("job_path", r"-(\d+)$", 1).alias("job_id"),
        "salary_min",
        "salary_max",
        F.lit(run_date).alias("scrape_date"),
        F.concat(F.lit(base_url), "job_path").alias("url"),
    )
    # Materialize ONCE: memberships is consumed by the raw append AND by the
    # dedup → anti-join → detail-fetch chain below; without this the search
    # fetches (p1 + all pages) re-execute per consumer — with a real transport
    # that is duplicated HTTP load (a politeness violation) and, if the site
    # changes between executions, divergent lineages. The checkpointed state
    # is one day's (url, membership) rows — tiny relative to the corpus.
    #
    # The checkpoint keeps the fetch width (two fetch_partitions-wide stages);
    # the coalesce after it sizes the day's appends to the cores rather than
    # to that width, which would write one small file per fetch partition.
    n_files = spark.sparkContext.defaultParallelism
    memberships = memberships.localCheckpoint().coalesce(n_files)

    # --- exactly-once append on the composite uniqueness key (A3)
    raw_table = (
        TxnTable(spark, raw_path)
        if TxnTable.exists(spark, raw_path)
        else TxnTable.create(spark, raw_path, schema=memberships.schema)
    )
    n_new_memberships = raw_table.idempotent_append(
        memberships,
        ["keyword", "job_id", "salary_min", "salary_max", "scrape_date"],
    )

    # --- dedup to unique jobs (A2) and anti-join vs catalog (J1)
    unique_jobs = dedup_first(
        memberships.select("job_id", "url"), ["job_id"], ["url"]
    )
    catalog_table = (
        TxnTable(spark, catalog_path) if TxnTable.exists(spark, catalog_path) else None
    )
    if catalog_table is not None:
        todo = new_rows(unique_jobs, catalog_table.read().select("job_id"), ["job_id"])
    else:  # first run: everything is new
        todo = unique_jobs

    # --- fetch details, land in the date-partitioned lake (S2 + S8)
    # localCheckpoint: the fetch result has three consumers (lake write,
    # catalog append, jobs_scraped count) — without it the transport re-runs
    # per consumer (3× the HTTP load; a non-deterministic transport could
    # even make lake and catalog disagree). One day's fetched HTML fits
    # executor block storage; the lineage cut is deliberate.
    detail_html = fetch_html(
        todo, transport, partitions=fetch_partitions, delay_s=delay_s
    ).localCheckpoint().coalesce(n_files)
    values = {
        "job_id": F.col("job_id"),
        "url": F.col("url"),
        "html": F.col("html"),
        "scraped_date": F.lit(run_date),
        "year": F.lit(run_date.year),
        "month": F.lit(run_date.month),
        "day": F.lit(run_date.day),
    }
    lake_rows = detail_html.select(
        *[values[f.name].cast(f.dataType).alias(f.name) for f in LAKE_DOCUMENT.fields]
    )
    # the row count and the failed-fetch count ride the write (A5)
    landing, landed = observed(lake_rows, "ingest_lake_write", {
        "rows": F.count(F.lit(1)),
        "null_html": F.count(F.lit(1)) - F.count("html"),
    })
    landing.write.mode("append").partitionBy("year", "month", "day").parquet(lake_path)
    lake_stats = landed.get()

    # --- catalog update (A6 batch form: exactly-once append of new keys).
    # Only pages that landed: a failed fetch stays out, so the next run's
    # anti-join fetches it again. html_present stays a CASE so the column
    # keeps the nullable type the catalog schema records.
    new_catalog = lake_rows.filter(F.col("html").isNotNull()).select(
        "job_id", "url", "scraped_date",
        F.when(F.col("html").isNotNull(), F.lit("y")).alias("html_present"),
    )
    if catalog_table is None:
        catalog_table = TxnTable.create(spark, catalog_path, schema=new_catalog.schema)
    catalog_table.idempotent_append(new_catalog, ["job_id"])

    # --- fail-loud DQ check (A5): every fetched page landed
    n_failed = lake_stats["null_html"]
    check = CheckResult("not_null:html_present", n_failed == 0, n_failed)
    if not check.passed:
        failed_ids = sorted(
            r.job_id for r in lake_rows.filter(F.col("html").isNull()).collect()
        )
        raise_failed([check], f"; failed fetches: job_id {failed_ids}")

    from scraping_jobsdb_spark.observability import get_logger

    stats = {
        "new_memberships": n_new_memberships,
        "jobs_scraped": lake_stats["rows"],
        "catalog_size": catalog_table.row_count(),
    }
    get_logger().info(
        "ingest finished", extra={"ctx": {"job": "ingest", "run_date": str(run_date), **stats}}
    )
    return stats
