"""What every workload module provides to the harness."""

from __future__ import annotations

import os
import statistics

from scraping_jobsdb_spark.sources.txn import TxnTable, current_version


class Workload:
    """One workload bound to a session. ``setup()`` runs the set-up: the
    state the workload needs plus one cold pass (timed into ``setup_s``),
    ``run_pass(k)`` runs one timed pass and returns its input rows,
    ``check()`` checks the outputs after the timed passes and returns the
    failures. ``attempted``/``failed`` count operations; ``checks`` names
    the output checks made."""

    def __init__(self, spark, inputs, work_dir: str, tracer, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.t = tracer
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []
        os.makedirs(work_dir, exist_ok=True)

    def call(self, span: str, fn, *args, **kwargs):
        """One public call into the engine, inside its span."""
        self.attempted += 1
        with self.t.span(span):
            return fn(*args, **kwargs)

    def expect(self, name: str, ok: bool, detail: str = "") -> list[str]:
        self.checks.append(name)
        return [] if ok else [f"{name}: {detail}"]

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, k: int) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def count_pass(self) -> None:
        """Untimed pass that gathers per-layer counts (traced runs only)."""

    def layer_counters(self) -> dict[str, float]:
        return {}

    def summary(self) -> dict[str, float]:
        """Extra human-readable figures printed by an untraced run."""
        return {}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_latency(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with ten samples or fewer, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def txn_tables(root: str) -> list[str]:
    """Every transactional table directory under ``root``."""
    out = []
    for d, dirs, _files in os.walk(root):
        if "_txn" in dirs:
            out.append(d)
            dirs[:] = []
    return sorted(out)


def txn_commits(root: str) -> int:
    """Commits of every transactional table under ``root`` so far."""
    return sum(current_version(p) for p in txn_tables(root))


def snapshot_files(spark, root: str) -> int:
    return sum(TxnTable(spark, p).snapshot_file_counts()[0] for p in txn_tables(root))


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)
