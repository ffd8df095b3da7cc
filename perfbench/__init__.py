"""Seeded end-to-end benchmark of the scraping_jobsdb_spark engine.

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0|1`` from the repository root. See ``perfbench/DESIGN.json`` for
the workloads, metrics and the layer map.
"""
