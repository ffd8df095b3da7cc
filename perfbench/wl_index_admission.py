"""``index_admission``: an online near-duplicate admission stream.

Set-up builds an ``LshSignatureIndex`` and a ``FingerprintIndex`` over the
base corpus and admits the first two micro-batches. One pass is the next
micro-batch of the closed loop, holding fresh documents and near-duplicates
of admitted ones: it goes through both indexes' ``admit_stream_batch`` (the
caller collects each verdict, as a router of kept and dropped rows would),
then ``maintain(max_files=1)`` on both, so every batch ends by compacting
each index to one file: the compaction path is timed in every pass, and
passes stay uniform. After the timed passes the last epoch is replayed,
untimed, as a failure-recovery replay would be.
"""

from __future__ import annotations

import os
import time

from perfbench import gen, workload
from scraping_jobsdb_spark.operators.fpindex import FingerprintIndex
from scraping_jobsdb_spark.operators.lshindex import LshSignatureIndex
from scraping_jobsdb_spark.sources.txn import current_version

# maintain() compacts a table once its snapshot holds more files than this.
MAX_FILES = 1
# Batches admitted in set-up: the first timed batch after only one ran
# 30-40% slower than the ones after it.
WARM_BATCHES = 2


def generate(seed: int, cache_dir: str) -> dict:
    return gen.stream(seed, cache_dir)


class Workload(workload.Workload):
    def __init__(self, *a):
        super().__init__(*a)
        self.batches = self.inputs["batches"]
        self.results: list[dict] = []
        self.latency: list[float] = []

    def setup(self) -> None:
        root = os.path.join(self.work, "index")
        base = self.spark.read.parquet(os.path.join(self.inputs["dir"], "base.parquet"))
        self.attempted += 2
        self.lsh = LshSignatureIndex.create(self.spark, os.path.join(root, "lsh"), base,
                                            k=32, bands=8, hasher="xxhash64")
        self.fp = FingerprintIndex.create(self.spark, os.path.join(root, "fp"), base)
        self.root = root
        for b in self.batches[:WARM_BATCHES]:
            self._admit(b)
        self.commits0 = workload.txn_commits(root)

    def _admit(self, b: dict) -> dict:
        docs = self.spark.read.parquet(os.path.join(self.inputs["dir"], b["file"]))
        sig_v = current_version(self.lsh.sigs_path)
        fp_v = current_version(self.fp.fps_path)
        with self.t.span("index.lsh_admit"):
            self.attempted += 1
            lsh = self.lsh.admit_stream_batch(docs, b["epoch"]).select(
                "doc_id", "kept").collect()
        with self.t.span("index.fp_admit"):
            self.attempted += 1
            fp = self.fp.admit_stream_batch(docs, b["epoch"]).select(
                "doc_id", "kept").collect()
        appended = (current_version(self.lsh.sigs_path) != sig_v,
                    current_version(self.fp.fps_path) != fp_v)
        with self.t.span("index.maintain"):
            self.attempted += 2
            self.lsh.maintain(max_files=MAX_FILES)
            self.fp.maintain(max_files=MAX_FILES)
        r = {"batch": b, "lsh": dict(lsh), "fp": dict(fp), "appended": appended}
        self.results.append(r)
        return r

    def run_pass(self, k: int) -> int:
        b = self.batches[len(self.results) % len(self.batches)]
        t = time.perf_counter()
        rows = len(self._admit(b)["lsh"])
        self.latency.append(time.perf_counter() - t)
        return rows

    def check(self) -> list[str]:
        errs: list[str] = []
        for r in self.results:
            epoch, near = r["batch"]["epoch"], set(r["batch"]["near"])
            kept = [d for v in (r["lsh"], r["fp"]) for d, k in v.items() if k and d in near]
            errs += self.expect(f"epoch {epoch}: near-duplicates are dropped",
                                not kept, f"{len(kept)} kept, e.g. {kept[:3]}")
            # fresh documents are random 40-80-word texts: always admitted
            lost = [d for v in (r["lsh"], r["fp"]) for d, k in v.items()
                    if not k and d not in near]
            errs += self.expect(f"epoch {epoch}: fresh documents are kept", not lost,
                                f"{len(lost)} dropped, e.g. {lost[:3]}")
            errs += self.expect(f"epoch {epoch}: both indexes append the batch",
                                all(r["appended"]), f"appended {r['appended']}")
        self.timed = self.results[WARM_BATCHES:]
        self.commits1 = workload.txn_commits(self.root)
        last = self.results[-1]
        replay = self._admit(last["batch"])
        errs += self.expect("a replayed epoch appends nothing", not any(replay["appended"]),
                            f"appended {replay['appended']}")
        errs += self.expect("a replayed epoch keeps the same verdicts",
                            replay["lsh"] == last["lsh"] and replay["fp"] == last["fp"],
                            "verdicts changed")
        return errs

    def summary(self) -> dict[str, float]:
        tail, pct, n = workload.tail_latency(self.latency)
        return {"batch_p50_s": workload.median(self.latency), "batch_tail_s": tail,
                "batch_tail_pct": pct, "batch_samples": n}

    def layer_counters(self) -> dict[str, float]:
        kept = [k for r in self.timed for v in (r["lsh"], r["fp"]) for k in v.values()]
        s = self.summary()
        used = {"base.parquet"} | {r["batch"]["file"] for r in self.results}
        user = sum(os.path.getsize(os.path.join(self.inputs["dir"], f)) for f in used)
        return {
            "index.kept_frac": sum(kept) / len(kept),
            "index.batch_p50_s": s["batch_p50_s"], "index.batch_tail_s": s["batch_tail_s"],
            "index.tail_pct": s["batch_tail_pct"], "index.tail_samples": s["batch_samples"],
            "txn.commits": (self.commits1 - self.commits0) / len(self.timed),
            "txn.snapshot_files": float(workload.snapshot_files(self.spark, self.root)),
            "txn.bytes_per_user_byte": workload.dir_bytes(self.root) / user,
        }
