"""One benchmark run: generate inputs, start the session, set the workload
up, time closed-loop passes for the requested seconds, check the outputs,
and print the metrics as the last line of standard output."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import sys
import tempfile
import time

from perfbench import trace
from perfbench.procs import MemSampler, reap_descendants
from perfbench.workload import median

MIN_PASSES = 1

# Printed by an untraced run beside the end-to-end metrics; not in the
# result line.
PRINTED_UNITS = {"peak_pss_mb": "MB", "failed_frac": "ratio", "batch_p50_s": "s",
                 "batch_tail_s": "s", "batch_tail_pct": "pct", "batch_samples": "count"}


def metric_units(root: str, kind: str) -> dict[str, str]:
    """Name -> unit of the ``kind`` ("end_to_end" or "per_layer") metrics
    that BENCHMARK.json defines."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(state: str, evdir: str | None):
    from scraping_jobsdb_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(state, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(state, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Dderby.system.home={state}",
        "spark.ui.showConsoleProgress": "false",
    }
    if evdir:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{_cpus()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to the reaper
            pass
    reap_descendants()


def run(args, root: str) -> int:
    units = metric_units(root, "per_layer" if args.trace else "end_to_end")
    state = os.path.join(root, ".perfbench")
    run_dir = os.path.join(state, "run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    # Every JVM spark-submit starts (its launcher too) would otherwise write
    # /tmp/hsperfdata_<user>; the run writes only inside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    evdir = None
    if args.trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir)
    mod = importlib.import_module(f"perfbench.wl_{args.workload}")
    inputs = mod.generate(args.seed, os.path.join(state, "inputs"))
    try:
        with MemSampler() as mem:
            return _measure(args, mod, inputs, run_dir, state, evdir, mem, units)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _measure(args, mod, inputs, run_dir, state, evdir, mem, units) -> int:
    _log("inputs ready, starting session")
    t = time.perf_counter()
    spark = start_session(run_dir, evdir)
    session_start = time.perf_counter() - t
    tracer = trace.Tracer(spark.sparkContext)
    failures: list[str] = []
    walls, traced, rows = [], [], []
    counters: dict[str, float] = {}
    w, setup_time = None, 0.0
    try:
        w = mod.Workload(spark, inputs, os.path.join(run_dir, "work"), tracer, args.seed)
        t = time.perf_counter()
        w.setup()
        setup_time = time.perf_counter() - t
        _log(f"set up in {setup_time:.2f} s")
        mem.active.set()
        deadline = time.monotonic() + args.seconds
        k = 0
        # A traced run interleaves untraced and traced passes as U T T U ...
        # so the warm-up trend biases neither side of trace.overhead_s.
        # A pass starts only if one of median length would end by the
        # deadline, so a run measures about --seconds, not one pass more.
        while (k < (4 if args.trace else MIN_PASSES)
               or time.monotonic() + median(walls + traced) <= deadline):
            tracer.enabled = bool(args.trace) and k % 4 in (1, 2)
            tracer.pass_no = k
            t = time.perf_counter()
            with tracer.span("pass"):
                rows.append(w.run_pass(k))
            (traced if tracer.enabled else walls).append(time.perf_counter() - t)
            tracer.enabled = False
            k += 1
        mem.active.clear()
        _log(f"timed passes {walls} traced {traced}")
        failures += w.check()
        _log("checked")
        if args.trace:
            w.count_pass()
            counters = w.layer_counters()
    except Exception as e:  # noqa: BLE001 — a failed call is a failed run
        import traceback

        traceback.print_exc(file=sys.stderr)
        failures.append(f"{type(e).__name__}: {e}")
        mem.active.clear()
    finally:
        stop_session(spark)
        _log("session stopped")
    if w is None:
        return 1

    attempted = w.attempted + len(w.checks)
    failed = min(attempted, w.failed + len(failures))
    correct = not failures and w.failed == 0 and bool(walls)
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    wall = median(walls)
    metrics = {
        "setup_s": session_start + setup_time,
        "wall_s": wall,
        "rows_per_s": median(rows) / wall if wall else 0.0,
    }
    if args.trace:
        metrics = layer_metrics(tracer, evdir, counters, session_start,
                                setup_time, walls, traced, attempted, failed)
        metrics["mem.peak_pss_mb"] = mem.peak / 2**20
        _write_trace(state, args, tracer.spans, metrics)
    else:
        extra = {"peak_pss_mb": mem.peak / 2**20,
                 "failed_frac": failed / max(attempted, 1), **w.summary()}
        for name, value in {**metrics, **extra}.items():
            unit = units.get(name) or PRINTED_UNITS.get(name, "")
            print(f"{args.workload} {name} = {value:.6g} {unit}")
    out = {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
           "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                       for n, u in units.items()}}
    print(json.dumps(out))
    return 0 if correct else 1


def layer_metrics(tracer, evdir, counters, session_start, setup_time, walls,
                  traced, attempted, failed) -> dict:
    jobs, stages, scans = trace.parse_event_log(evdir)
    spans = tracer.spans
    trace.attribute(spans, jobs, stages)
    per_pass: dict[int, dict] = {}
    for s in spans:
        m = per_pass.setdefault(s["pass"], {})
        if s["name"] == "pass":
            eng = s["spark"]
            for key in ("jobs", "stages", "tasks", *trace.ENGINE_KEYS):
                m[f"spark.{key}"] = eng.get(key, 0.0)
            m["spark.driver_gap_s"] = s["driver_gap_s"]
            m["tables.scan_ms"] = s["sql"].get(trace.SCAN_TIME, 0.0)
            m["tables.scan_bytes"] = sum(b for t, b in scans if s["t0"] <= t <= s["t1"])
        else:  # a span's metrics sum its calls in the pass
            for key, v in ((f"{s['name']}_s", s["wall_s"]),
                           (f"{s['name']}.self_s", s["self_s"])):
                m[key] = m.get(key, 0.0) + v
        if s["name"] == "pipelines.parse":
            m["extract.s"] = m.get("extract.s", 0.0) + s["spark"].get("python_stage_s", 0.0)
            for key, acc in (("extract.bytes_to_python", trace.PY_SENT),
                             ("extract.bytes_from_python", trace.PY_RECV)):
                m[key] = m.get(key, 0.0) + s["sql"].get(acc, 0.0)
    out: dict[str, float] = {}
    names = sorted({k for m in per_pass.values() for k in m})
    for n in names:
        out[n] = median([m.get(n, 0.0) for m in per_pass.values()])
    out.update(counters)
    if out.get("txn.commits"):
        out["txn.jobs_per_commit"] = out.get("spark.jobs", 0.0) / out["txn.commits"]
    tw, uw = median(traced), median(walls)
    out.update({
        "session.start_s": session_start, "session.warm_s": setup_time,
        "trace.wall_s": tw, "trace.untraced_wall_s": uw, "trace.overhead_s": tw - uw,
        "bench.failed_frac": failed / max(attempted, 1),
    })
    return out


def _write_trace(state, args, spans, metrics) -> None:
    d = os.path.join(state, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "metrics": metrics, "spans": spans}, fh, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path)}", file=sys.stderr)
