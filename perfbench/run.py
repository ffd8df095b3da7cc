"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run tags its Spark jobs with spans, parses the event log and reports the
per-layer metrics instead (the span tree is written under
``.perfbench/trace/``). Exits non-zero when an output check fails or the
engine package is missing.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "dedup_corpus", "index_admission"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "scraping_jobsdb_spark", "__init__.py")):
        print(f"perfbench: no scraping_jobsdb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, not its files
    from perfbench import harness

    return harness.run(args, ROOT)


if __name__ == "__main__":
    sys.exit(main())
