"""Data-quality assertion operators.

Port of the reference's ``SQLColumnCheckOperator`` sanity task
(``airflow/dags/scrape_url.py:424-436``): job_id uniqueness, scraped_date
within bounds, zero NULL file_path — plus its fail-loud runtime raises
(``scrape_url.py:276-277, 289-290``). The engine takes its check values as
``observed`` metrics on the job that writes the data (no separate checking
pass) and ``raise_failed`` raises on violation, mirroring the DAG-failure
semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CheckResult",
    "raise_failed",
    "observed",
    "ObservationHandle",
    "k_anonymity_report",
    "referential_integrity_report",
]


@dataclass(frozen=True)
class CheckResult:
    name: str
    passed: bool
    observed: object


def raise_failed(results: list[CheckResult], detail: str = "") -> None:
    """Raise AssertionError listing every failed check (then ``detail``),
    the one failure message for checks read off ``observed`` metrics."""
    failed = [r for r in results if not r.passed]
    if failed:
        raise AssertionError(
            "data-quality checks failed: "
            + "; ".join(f"{r.name} (observed={r.observed!r})" for r in failed)
            + detail
        )


def observed(
    df: DataFrame, name: str, metrics: dict[str, Column]
) -> tuple[DataFrame, "ObservationHandle"]:
    """Attach in-flight metrics to a DataFrame with ``df.observe``.

    Unlike a separate aggregation pass, observed metrics ride the SAME job
    that materializes the frame — zero extra scans, the
    right DQ shape for a 100 TB write where a second pass doubles the bill.
    Returns (observed_df, handle); after ANY action on the observed frame,
    ``handle.get()`` returns the metric row as a dict.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    return out, ObservationHandle(obs)


class ObservationHandle:
    def __init__(self, observation) -> None:
        self._observation = observation

    def get(self) -> dict:
        """Metric values (blocks until the observed frame ran an action)."""
        return dict(self._observation.get)


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Per-equivalence-class k-anonymity report over a quasi-identifier
    set — the data-governance gate run before a corpus (or its metadata)
    is shared: every combination of quasi-identifier values is an
    equivalence class, a class smaller than ``k`` re-identifies its
    members. Output one row per class: the quasi columns, ``class_size``,
    ``k_anonymous`` (size ≥ k), and ``risk_rows`` (rows exposed if the
    class is below k, else 0) — the ``SUM(risk_rows)/SUM(class_size)``
    rollup is the dataset's re-identification risk share.

    One hash aggregate on the quasi key (map-side combined); no second
    pass, nothing driver-sized. Exact integers only → trivially
    hash-oracle-able.
    """
    n = F.count(F.lit(1))
    return df.groupBy(*quasi_cols).agg(
        n.alias("class_size"),
        (n >= k).alias("k_anonymous"),
        F.when(n >= k, F.lit(0)).otherwise(n).cast("bigint").alias("risk_rows"),
    )


def referential_integrity_report(
    pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table foreign-key orphan audit — the warehouse DQ gate that
    catches broken ingestion ordering (children landing before parents)
    and bad backfills. ``pairs`` is a list of
    ``(name, child_df, fk_col, parent_df, pk_col)``; the report has one
    row per relationship: child row count, orphan count (child rows whose
    FK has no parent — NULL FKs are not orphans, matching SQL FK
    semantics), and the ok flag.

    Each relationship is ONE left-anti join against the parent KEY
    PROJECTION (parent scans prune to the key column; small parents
    broadcast under AQE) plus a count — no row ever leaves the executor.
    Exact integers → trivially hash-oracle-able.
    """
    from functools import reduce

    if not pairs:
        raise ValueError(
            "referential_integrity_report: pairs must be non-empty "
            "(no DataFrame to derive an empty report's session from)"
        )
    reports = []
    for name, child, fk, parent, pk in pairs:
        total = child.select(F.count(F.lit(1)).alias("child_rows"))
        orphans = (
            child.filter(F.col(fk).isNotNull())
            .join(
                parent.select(F.col(pk).alias(fk)).distinct(),
                fk,
                "left_anti",
            )
            .select(F.count(F.lit(1)).alias("orphan_rows"))
        )
        reports.append(
            total.crossJoin(orphans).select(
                F.lit(name).alias("relationship"),
                "child_rows",
                "orphan_rows",
                (F.col("orphan_rows") == 0).alias("ok"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), reports)
