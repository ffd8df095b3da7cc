"""Operator library (SURVEY.md §2.2-§2.5 + north-star extensions)."""

from scraping_jobsdb_spark.operators.dedup import dedup_exact, dedup_first
from scraping_jobsdb_spark.operators.incremental import new_rows
from scraping_jobsdb_spark.operators.merge import coalesce_merge
from scraping_jobsdb_spark.operators.checks import CheckResult

__all__ = [
    "dedup_exact",
    "dedup_first",
    "new_rows",
    "coalesce_merge",
    "CheckResult",
]
