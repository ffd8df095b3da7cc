"""A seeded offline job site, handed to ``pipelines.ingest.ingest`` as its
transport.

The site spec (keywords, salary bands, which jobs each (keyword, band)
search lists) is generated by ``gen.site_spec``; this module turns it into
pages. Detail pages are a pure function of (seed, job id), so Python
workers render them without shipping the corpus, and the output check
derives every expected parsed field from the same function.
"""

from __future__ import annotations

import json
import random
import re
from datetime import date, timedelta

PER_PAGE = 30

_TITLES = ["Data Engineer", "Data Analyst", "ML Engineer", "Backend Developer",
           "Platform Engineer", "BI Developer", "Product Analyst", "SRE"]
_COMPANIES = ["Acme Ltd", "Globex", "Initech", "Umbrella Corp", "Hooli",
              "Stark Industries", "Wayne Enterprises", "Vandelay Imports"]
_LOCATIONS = ["Central", "Kwun Tong", "Tsim Sha Tsui", "Quarry Bay", "Sha Tin"]
_LEVELS = ["Entry Level", "Middle", "Senior", "Manager"]
_QUALS = ["Degree", "Diploma", "Master", "Non-Degree Tertiary"]
_TYPES = ["Full Time", "Part Time", "Contract", "Temporary"]
_FUNCTIONS = ["IT", "Data", "Finance", "Accounting", "Engineering", "Hardware",
              "Marketing", "Operations"]
_INDUSTRIES = ["Information Technology", "Banking", "Retail", "Logistics"]
_WORDS = ("pipeline warehouse stream batch model schema partition cluster query "
          "latency throughput index cache shard replica metric dashboard report "
          "deploy monitor scale design review migrate tune ingest parse export "
          "team client stakeholder roadmap budget").split()
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
           "Nov", "Dec"]


def _rng(seed: int, job_id: str) -> random.Random:
    return random.Random(f"{seed}|{job_id}")


def job_page(seed: int, job_id: str, scraped: date) -> tuple[str, dict]:
    """(html, expected parsed fields) of one detail page. Pages are a few
    KB: the description carries a seeded number of sentences."""
    r = _rng(seed, job_id)
    title, company = r.choice(_TITLES), r.choice(_COMPANIES)
    desc = " ".join(
        " ".join(r.choice(_WORDS) for _ in range(12)).capitalize() + "."
        for _ in range(r.randint(15, 45))
    )
    funcs = r.sample(_FUNCTIONS, r.randint(1, 3))
    fields = {
        "job_title": title,
        "company_name": company,
        "job_description": desc,
        "location": r.choice(_LOCATIONS),
        "career_level": r.choice(_LEVELS),
        "qualification": r.choice(_QUALS),
        "job_type": r.choice(_TYPES),
        "job_functions": funcs,
        "industry": r.choice(_INDUSTRIES),
    }
    if r.random() < 0.3:
        ago = r.randint(1, 20)
        posted = f"Posted {ago} days ago"
        fields["official_post_date"] = scraped - timedelta(days=ago)
    else:
        d = date(2023, 1, 1) + timedelta(days=r.randint(0, 364))
        posted = f"Posted on {d.day:02d}-{_MONTHS[d.month - 1]}-{d.year % 100:02d}"
        fields["official_post_date"] = d
    kind = r.random()
    if kind < 0.4:
        lo = 10 + r.randint(0, 40)
        hi = lo + r.randint(5, 30)
        salary = f"HK${lo},000 - HK${hi},000 /month"
        fields["min_official_salary"], fields["max_official_salary"] = lo * 1000, hi * 1000
    elif kind < 0.5:
        salary = "Above HK$100,000 /month"
        fields["min_official_salary"], fields["max_official_salary"] = 100000, None
    else:
        salary = None
        fields["min_official_salary"] = fields["max_official_salary"] = None
    html = (
        "<html><head><title>job</title></head><body>"
        f"<h1 data-automation='job-title'>{title}</h1>"
        f"<div data-automation='company-name'>{company}</div>"
        f"<div data-automation='job-description'>{desc}</div>"
        f"<div data-automation='job-location'>{fields['location']}</div>"
        f"<span data-automation='job-post-date'>{posted}</span>"
        + (f"<span data-automation='job-salary'>{salary}</span>" if salary else "")
        + f"<div data-automation='career-level'>{fields['career_level']}</div>"
        f"<div data-automation='qualification'>{fields['qualification']}</div>"
        f"<div data-automation='job-type'>{fields['job_type']}</div>"
        f"<div data-automation='job-functions'>{', '.join(funcs)}</div>"
        f"<div data-automation='industry'>{fields['industry']}</div>"
        "</body></html>"
    )
    return html, fields


class JobSite:
    """``url -> html`` for one day of the site. ``listings`` maps
    ``"keyword|lo|hi"`` to the sorted job ids that search lists that day;
    ``posted`` maps each job id to the day it first appeared (detail pages
    render relative post dates against it). ``calls`` is a Spark
    accumulator counting transport calls."""

    _SEARCH = re.compile(r"/search\?kw=([^&]+)&lo=(\d+)&hi=(\d+)&page=(\d+)$")
    _DETAIL = re.compile(r"/hk/en/job/[^/]*-(\d+)$")

    def __init__(self, seed: int, listings: dict[str, list[str]],
                 posted: dict[str, date], calls):
        self.seed = seed
        self.listings = listings
        self.posted = posted
        self.calls = calls

    def __call__(self, url: str) -> str:
        self.calls.add(1)
        m = self._SEARCH.search(url)
        if m:
            kw, lo, hi, page = m.group(1), m.group(2), m.group(3), int(m.group(4))
            return self.search_page(self.listings.get(f"{kw}|{lo}|{hi}", []), kw, page)
        m = self._DETAIL.search(url)
        if m:
            jid = m.group(1)
            return job_page(self.seed, jid, self.posted[jid])[0]
        raise ValueError(f"JobSite: unrecognized url {url!r}")

    @staticmethod
    def search_page(ids: list[str], keyword: str, page: int) -> str:
        if not ids:
            return ('<html><body><div data-automation="zeroResultsPage">'
                    "No jobs</div></body></html>")
        chunk = ids[(page - 1) * PER_PAGE: page * PER_PAGE]
        links = "".join(
            f'<a href="/hk/en/job/{keyword}-{jid}">Job {jid}</a>' for jid in chunk
        )
        meta = json.dumps({"totalJobCount": len(ids)})
        return (f"<html><body><div data-automation=\"searchMeta\" "
                f"data-meta='{meta}'>{meta}</div>{links}</body></html>")

    def search_pages(self, keywords: list[str], bands) -> list[tuple[str, list[str], int]]:
        """(keyword, listed ids, page) of every search page a full crawl of
        this day fetches: page 1 of every search, then its further pages."""
        out = []
        for kw in keywords:
            for lo, hi in bands:
                ids = self.listings.get(f"{kw}|{lo}|{hi}", [])
                out.extend((kw, ids, p) for p in range(1, max(1, -(-len(ids) // PER_PAGE)) + 1))
        return out
