"""Export pipeline: the ``export_to_csv`` DAG (SURVEY.md §3, entry point 4).

Reference: Postgres ``COPY staging.parsed_jobs TO`` one CSV
(``airflow/dags/export_to_csv.py:12-26``). Engine: the CSV edge writer —
single file for the human-facing export, many-part for scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.checks import observed
from scraping_jobsdb_spark.sources.tables import write_csv_export
from scraping_jobsdb_spark.sources.txn import read_table_any

__all__ = ["export"]


def export(spark: SparkSession, parsed_path: str, csv_path: str, single_file: bool = True) -> int:
    """Write the parsed table to CSV; returns the rows written. Cost: the
    write job alone — the row count is an observed metric of the write."""
    df = read_table_any(spark, parsed_path)
    # CSV cannot carry arrays: serialize job_functions with the reference's
    # semicolon convention (utils.py:97) at the edge only.
    out = df.withColumn("job_functions", F.array_join("job_functions", ";"))
    out, written = observed(out, "export_csv_write", {"rows": F.count(F.lit(1))})
    write_csv_export(out, csv_path, single_file=single_file)
    return written.get()["rows"]
