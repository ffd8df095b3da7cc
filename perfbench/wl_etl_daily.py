"""``etl_daily``: the paper's daily pipeline on a seeded job site.

Set-up backfills day 1 into fresh tables. One pass is the next day's run:
ingest -> parse -> impute -> export, where the site lists every earlier
job again plus a seeded share of new ones. Detail pages are fetched only
for new jobs, so each pass appends one day of memberships, lake rows and
parsed jobs, merges imputed salaries and rewrites the CSV.
"""

from __future__ import annotations

import os

import pyspark.cloudpickle

from perfbench import gen, jobsite, workload
from perfbench.jobsite import JobSite, job_page
from scraping_jobsdb_spark.pipelines.export import export
from scraping_jobsdb_spark.pipelines.impute import impute
from scraping_jobsdb_spark.pipelines.ingest import ingest
from scraping_jobsdb_spark.pipelines.parse import parse
from scraping_jobsdb_spark.sources.txn import read_table_any

BASE_URL = "https://jobs.example.test"
FIELDS = ["job_title", "company_name", "job_description", "location",
          "official_post_date", "min_official_salary", "max_official_salary",
          "career_level", "qualification", "job_type", "job_functions", "industry"]
TABLES = ("lake", "raw", "catalog", "parsed")


def generate(seed: int, cache_dir: str) -> dict:
    return gen.site_spec(seed, cache_dir)


class Workload(workload.Workload):
    def __init__(self, *a):
        super().__init__(*a)
        # Python workers render pages from the site object itself.
        pyspark.cloudpickle.register_pickle_by_value(jobsite)
        spec = self.inputs
        self.keywords = spec["keywords"]
        self.bands = [tuple(b) for b in spec["bands"]]
        self.posted = {j: gen.site_day(d + 1) for d, new in enumerate(spec["days"])
                       for j in new}
        self.calls = self.spark.sparkContext.accumulator(0)
        self.runs: list[dict] = []

    def _site(self, day: int) -> JobSite:
        return JobSite(self.seed, gen.listings(self.inputs, day), self.posted, self.calls)

    def _new_jobs(self, day: int) -> list[str]:
        return self.inputs["days"][day - 1]

    def _run_day(self, day: int) -> int:
        """One daily run; returns the postings the site lists that day."""
        site, date = self._site(day), gen.site_day(day)
        p = {n: os.path.join(self.root, n) for n in (*TABLES, f"csv{day}")}
        self.calls.value = 0
        self.call("pipelines.ingest", ingest, self.spark, site, p["lake"], p["raw"],
                  p["catalog"], date, keywords=self.keywords, bands=self.bands,
                  base_url=BASE_URL)
        parsed = self.call("pipelines.parse", parse, self.spark, p["lake"], p["parsed"],
                           date.year, date.month, date.day)
        self.call("pipelines.impute", impute, self.spark, p["raw"], p["parsed"])
        exported = self.call("pipelines.export", export, self.spark, p["parsed"],
                             p[f"csv{day}"])
        self.runs.append({"day": day, "parsed": parsed, "exported": exported,
                          "csv": p[f"csv{day}"], "fetches": self.calls.value,
                          "traced": self.t.enabled})
        return sum(len(v) for v in site.listings.values())

    def setup(self) -> None:
        self.root = os.path.join(self.work, "tables")
        self._run_day(1)
        self.commits0 = workload.txn_commits(self.root)

    def run_pass(self, k: int) -> int:
        return self._run_day(len(self.runs) + 1)

    def check(self) -> list[str]:
        from pyspark.sql import functions as F

        days = len(self.runs)
        jobs = [j for d in range(1, days + 1) for j in self._new_jobs(d)]
        bad_days = [r["day"] for r in self.runs
                    if r["parsed"] != len(self._new_jobs(r["day"]))]
        errs = self.expect("each day's parse adds exactly that day's new jobs",
                           not bad_days, f"days {bad_days}")
        seen, bad_export = 0, []
        for r in self.runs:
            seen += len(self._new_jobs(r["day"]))
            if r["exported"] != seen:
                bad_export.append(r["day"])
        errs += self.expect("each export has the table's row count", not bad_export,
                            f"days {bad_export}")
        last = self.runs[-1]
        csv_rows = 0
        for f in os.listdir(last["csv"]):
            if f.endswith(".csv"):
                with open(os.path.join(last["csv"], f)) as fh:
                    csv_rows += sum(1 for _ in fh) - 1
        errs += self.expect("the CSV has the table's rows", csv_rows == last["exported"],
                            f"{csv_rows} != {last['exported']}")
        lake = self.spark.read.parquet(os.path.join(self.root, "lake"))
        n_fetched = lake.count()
        fetch_errors = lake.filter(F.col("html").isNull()).count()
        rows = {x["job_id"]: x.asDict() for x in
                read_table_any(self.spark, os.path.join(self.root, "parsed")).collect()}
        self.null_pages = sum(all(x[f] is None for f in FIELDS) for x in rows.values())
        self.attempted += n_fetched + len(rows)
        self.failed += fetch_errors + self.null_pages
        errs += self.expect("the parsed table holds exactly the site's jobs",
                            set(rows) == set(jobs), f"{len(rows)} rows, {len(jobs)} jobs")
        mism = []
        for jid in jobs:
            got = rows.get(jid)
            if got is None:
                continue
            want = job_page(self.seed, jid, self.posted[jid])[1]
            ms = self.inputs["memberships"][jid]
            want["min_salary"] = min(m[1] for m in ms)
            want["max_salary"] = max(m[2] for m in ms)
            bad = [f for f, v in want.items() if got[f] != v]
            if bad:
                mism.append((jid, bad))
        errs += self.expect("every parsed and imputed field matches the site",
                            not mism, f"{len(mism)} jobs differ, e.g. {mism[:3]}")
        return errs

    def layer_counters(self) -> dict[str, float]:
        ratios = []
        for r in self.runs:
            if r["traced"]:
                urls = len(self._site(r["day"]).search_pages(self.keywords, self.bands))
                ratios.append(r["fetches"] / (urls + len(self._new_jobs(r["day"]))))
        commits = workload.txn_commits(self.root) - self.commits0
        tables = sum(workload.dir_bytes(os.path.join(self.root, t)) for t in TABLES)
        return {"pipelines.fetches_per_url": workload.median(ratios),
                "extract.null_pages": float(self.null_pages),
                "txn.commits": commits / (len(self.runs) - 1),
                "txn.snapshot_files": float(workload.snapshot_files(self.spark, self.root)),
                "txn.bytes_per_user_byte": tables / self._served_bytes()}

    def _served_bytes(self) -> int:
        """Bytes of HTML the site served over every day run so far."""
        total = 0
        for r in self.runs:
            site = self._site(r["day"])
            for kw, ids, page in site.search_pages(self.keywords, self.bands):
                total += len(JobSite.search_page(ids, kw, page))
            total += sum(len(job_page(self.seed, j, self.posted[j])[0])
                         for j in self._new_jobs(r["day"]))
        return total
