"""Spans around the benchmark's calls into the engine, and the Spark event
log parse that attributes jobs, stages and task metrics to them.

A span tags every Spark job its thread starts with
``sc.setJobDescription("span:<id>")``; after the session stops, the event
log maps each job back to its span. A span's self time is its wall time
minus the part covered by its child spans and its own Spark jobs, which is
the driver-side time of that call.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric names (as Spark writes them into stage accumulables).
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"
SCAN_BYTES = "size of files read"


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute check per call and tags nothing."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.pass_no = -1
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "pass": self.pass_no,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobDescription(f"span:{sid}")
        try:
            yield
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None
            )


def _event_files(evdir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(evdir):
        out.extend(os.path.join(root, f) for f in files
                   if not f.startswith(".") and not f.endswith(".crc"))
    return sorted(out)


def _plan_accums(node: dict, name: str, out: set) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _plan_accums(child, name, out)


def parse_event_log(evdir: str) -> tuple[dict, dict, list]:
    """(jobs, stages, scans) from an uncompressed Spark event log directory.
    jobs: id -> {t0, t1, span, stages}; stages: id -> {t0, t1, tasks,
    acc: {metric name: value}, m: summed task metrics}; scans: (start time
    of the SQL execution, bytes of files its scans read)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_m: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    exec_t: dict[int, float] = {}
    byte_accs: set = set()
    driver_updates: list[tuple[int, int, float]] = []
    for path in _event_files(evdir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "span": int(desc[5:]) if desc.startswith("span:") else None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif et == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = defaultdict(float)
                    for a in si.get("Accumulables", []):
                        try:
                            acc[a.get("Name", "")] += float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            pass
                    stages[si["Stage ID"]] = {
                        "t0": si.get("Submission Time", 0) / 1000.0,
                        "t1": si.get("Completion Time", 0) / 1000.0,
                        "tasks": si.get("Number of Tasks", 0),
                        "acc": dict(acc),
                    }
                elif et.endswith("SparkListenerSQLExecutionStart"):
                    exec_t[ev["executionId"]] = ev["time"] / 1000.0
                    _plan_accums(ev.get("sparkPlanInfo") or {}, SCAN_BYTES, byte_accs)
                elif et.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.extend((ev["executionId"], a, v)
                                          for a, v in ev.get("accumUpdates", []))
                elif et == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tm = task_m[ev["Stage ID"]]
                    tm["run_ms"] += m.get("Executor Run Time", 0)
                    tm["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    tm["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    tm["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    tm["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    tm["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for sid, st in stages.items():
        st["m"] = dict(task_m.get(sid, {}))
    for j in jobs.values():
        j.setdefault("t1", j["t0"])
    scans = [(exec_t[e], float(v)) for e, a, v in driver_updates
             if a in byte_accs and e in exec_t]
    return jobs, stages, scans


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


ENGINE_KEYS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "fetch_wait_ms")


def attribute(spans: list[dict], jobs: dict, stages: dict) -> None:
    """Annotate each span in place with its Spark jobs' totals, its self
    time and its driver gap (wall time during which none of its own or
    its descendants' jobs ran)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in jobs.values():
        if j["span"] in by_id:
            own_jobs[j["span"]].append(j)

    def subtree_jobs(sid: int) -> list[dict]:
        out = list(own_jobs[sid])
        for c in children[sid]:
            out.extend(subtree_jobs(c))
        return out

    for s in spans:
        wall = s["t1"] - s["t0"]
        mine = own_jobs[s["id"]]
        tree = subtree_jobs(s["id"])
        covered = [(j["t0"], j["t1"]) for j in mine]
        covered += [(by_id[c]["t0"], by_id[c]["t1"]) for c in children[s["id"]]]
        s["wall_s"] = wall
        s["self_s"] = max(0.0, wall - _union_len(covered))
        s["driver_gap_s"] = max(0.0, wall - _union_len([(j["t0"], j["t1"]) for j in tree]))
        eng = defaultdict(float)
        acc = defaultdict(float)
        for j in tree:
            eng["jobs"] += 1
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None:  # skipped stage (reused shuffle output)
                    continue
                eng["stages"] += 1
                eng["tasks"] += st["tasks"]
                for k in ENGINE_KEYS:
                    eng[k] += st["m"].get(k, 0.0)
                for k, v in st["acc"].items():
                    acc[k] += v
                if PY_SENT in st["acc"]:
                    eng["python_stage_s"] += max(0.0, st["t1"] - st["t0"])
        s["spark"] = dict(eng)
        s["sql"] = {k: acc[k] for k in (PY_SENT, PY_RECV, SCAN_TIME) if k in acc}
