"""Interleaved A/B of one benchmark workload: parent commit against the
working tree.

    python3 scripts/perfbench_ab.py --workload dedup_corpus \
        --seeds 101-110 --held-out 7919 --claim wall_s [--parent REV]

The parent is exported with ``git archive`` into a scratch directory (its
own checkout, so its ``.perfbench/`` state is its own); the change side is
this checkout. Each seed is one pair: both sides run untraced with that
seed, and the side that runs first alternates from pair to pair. The
workloads, the run command and the run length come from
``BENCHMARK.json``. CPU steal is read from ``/proc/stat`` around every run.

Output: one line per pair (each side's end-to-end metrics and steal), then
per metric the change's wins, both medians, the parent's quartiles, the
median shift and a verdict. ``--claim`` names the metric a gain is claimed
on, if any: it is a GAIN when the change wins at least 9 of 10 pairs (ties count
for neither side) and the medians differ by more than the parent's
interquartile range. Every metric is flagged REGRESSION when its median
worsens by more than its ``bound`` in ``BENCHMARK.json``, and UNRESOLVED
when the parent's own spread (IQR / median) is wider than that bound and
not every change run reads better than every parent run. The held-out seed
is run as one more pair and reported on its own; it must confirm a claim,
and a failed run on either side of it does not confirm. ``--json FILE``
also writes every run's record.

Default parent: ``HEAD`` when tracked files have uncommitted changes,
else ``HEAD~1``. Exits 1 when the change fails more runs, or a larger
share of operations, than the parent, a metric regresses, or the claim
does not hold.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"101-105,7,9"`` -> [101, 102, 103, 104, 105, 7, 9]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def default_parent() -> str:
    dirty = subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    return "HEAD" if dirty else "HEAD~1"


def export_parent(rev: str, scratch: str) -> str:
    """``git archive`` of ``rev`` into ``scratch/parent-<sha>``."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", rev],
                         capture_output=True, text=True, check=True).stdout.strip()
    dest = os.path.join(scratch, f"parent-{sha}")
    if not os.path.isdir(dest):
        os.makedirs(dest + ".tmp", exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest + ".tmp"], stdin=archive.stdout,
                       check=True)
        if archive.wait():
            raise RuntimeError(f"git archive {rev} failed")
        os.rename(dest + ".tmp", dest)
    return dest


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples
    (field 8 of the ``cpu`` line)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def run_side(bench: dict, checkout: str, workload: str, seed: int) -> dict:
    """One untraced run of ``bench["command"]`` in ``checkout``, for the
    benchmark's ``run_seconds``."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    before, t = cpu_times(), time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    rec = {"steal_pct": steal_pct(before, cpu_times()), "run_s": time.time() - t,
           "exit": proc.returncode}
    try:
        out = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        out = None
    if out is None:
        rec.update(correct=False, failed_frac=1.0, metrics={},
                   error=proc.stderr.strip().splitlines()[-5:])
        return rec
    rec.update(correct=out["correct"],
               failed_frac=out["failed"] / max(out["attempted"], 1),
               metrics={k: v["value"] for k, v in out["metrics"].items()})
    return rec


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def fmt_side(tag: str, rec: dict, names: list[str]) -> str:
    if not rec["metrics"]:
        return f"{tag} FAILED@{rec['steal_pct']:.2f}%"
    vals = " ".join(f"{n}={rec['metrics'][n]:.4g}" for n in names)
    bad = "" if rec["correct"] else " FAILED"
    return f"{tag} {vals}{bad} @{rec['steal_pct']:.2f}%"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,2,5")
    ap.add_argument("--held-out", type=int, default=None)
    ap.add_argument("--parent", default=None, help="git revision")
    ap.add_argument("--claim", default=None, help="metric a gain is claimed on")
    ap.add_argument("--scratch", default=None,
                    help="directory for the parent checkout (default: a temp dir)")
    ap.add_argument("--json", default=None, help="write every run's record here")
    args = ap.parse_args()

    spec = {m["name"]: m for m in bench["end_to_end"]}
    names = list(spec)
    rev = args.parent or default_parent()
    scratch = args.scratch or tempfile.mkdtemp(prefix="perfbench-ab-")
    parent = export_parent(rev, scratch)
    print(f"parent {rev} at {parent}; change = {ROOT}", flush=True)

    seeds = parse_seeds(args.seeds)
    plan = [(s, False) for s in seeds]
    if args.held_out is not None:
        plan.append((args.held_out, True))
    pairs = []
    for i, (seed, held) in enumerate(plan):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        recs = {side: run_side(bench, parent if side == "parent" else ROOT,
                               args.workload, seed) for side in order}
        pairs.append({"seed": seed, "held_out": held, "first": order[0], **recs})
        print(f"s{seed}{' held-out' if held else ''} {order[0]}-first  "
              f"{fmt_side('P', recs['parent'], names)}  "
              f"{fmt_side('C', recs['change'], names)}", flush=True)

    ok = verdict(pairs, spec, args.claim)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"workload": args.workload, "parent": rev, "pairs": pairs}, fh,
                      indent=1)
    if args.scratch is None:
        shutil.rmtree(scratch, ignore_errors=True)
    return 0 if ok else 1


def verdict(pairs: list[dict], spec: dict, claim: str | None) -> bool:
    """Print wins, medians, quartiles and the verdict per metric; return
    False when the change failed more runs or operations than the parent,
    a metric regressed past its bound, or the claim does not hold."""
    ok = True
    main_pairs = [p for p in pairs if not p["held_out"]]
    fails = {s: sum(not p[s]["correct"] for p in pairs) for s in ("parent", "change")}
    share = {s: statistics.mean(p[s]["failed_frac"] for p in pairs)
             for s in ("parent", "change")}
    print(f"failed runs: parent {fails['parent']}, change {fails['change']}; "
          f"failed share of operations: parent {share['parent']:.4g}, "
          f"change {share['change']:.4g}")
    if fails["change"] > fails["parent"] or share["change"] > share["parent"]:
        ok = False
    for name, m in spec.items():
        lower = m["better"] == "lower"
        got = [(p["parent"]["metrics"][name], p["change"]["metrics"][name])
               for p in main_pairs
               if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not got:
            print(f"{name}: no complete pair")
            ok = False
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in got)
        pmed = statistics.median(p for p, _ in got)
        cmed = statistics.median(c for _, c in got)
        q1, q3 = quartiles([p for p, _ in got])
        shift = (cmed - pmed) / pmed if pmed else 0.0
        worse = shift > m["bound"] if lower else -shift > m["bound"]
        line = (f"{name}: change wins {wins}/{len(got)}, median {pmed:.4g} -> "
                f"{cmed:.4g} ({100 * shift:+.1f}%), parent q1/q3 {q1:.4g}/{q3:.4g} "
                f"(IQR {q3 - q1:.4g})")
        dominated = (max(c for _, c in got) < min(p for p, _ in got) if lower
                     else min(c for _, c in got) > max(p for p, _ in got))
        if worse:
            line += f"  REGRESSION beyond bound {m['bound']}"
            ok = False
        elif pmed and (q3 - q1) / pmed > m["bound"] and not dominated:
            line += f"  UNRESOLVED: parent spread exceeds bound {m['bound']}"
        if name == claim:
            better = cmed < pmed if lower else cmed > pmed
            gain = (better and wins >= math.ceil(0.9 * len(got))
                    and abs(cmed - pmed) > q3 - q1)
            line += "  GAIN" if gain else "  NO GAIN"
            ok = ok and gain
            for p in pairs:
                if not p["held_out"]:
                    continue
                pv = p["parent"]["metrics"].get(name)
                cv = p["change"]["metrics"].get(name)
                if pv is None or cv is None:
                    # a failed run on either side leaves nothing to confirm
                    won = False
                    line += f"; held-out s{p['seed']} incomplete"
                else:
                    won = cv < pv if lower else cv > pv
                    line += f"; held-out s{p['seed']} {pv:.4g} -> {cv:.4g}"
                line += " confirms" if won else " does not confirm"
                ok = ok and won
        print(line)
    return ok


if __name__ == "__main__":
    sys.exit(main())
