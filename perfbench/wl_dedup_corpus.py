"""``dedup_corpus``: a batch LLM-curation job over a seeded corpus.

One pass: normalize_text / quality_score -> dedup_exact (materialised) ->
minhash_candidate_pairs -> ngram_jaccard verification -> dedup_keep_best
-> the curated corpus written to Parquet. Lazy operators are charged to
the first eager call that runs them: dedup_keep_best collects the pair
graph, so it carries the candidate and verification stages.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from perfbench import gen, workload
from scraping_jobsdb_spark.operators.dedup import dedup_exact
from scraping_jobsdb_spark.operators.graph import dedup_keep_best
from scraping_jobsdb_spark.operators.similarity import (
    minhash_candidate_pairs,
    ngram_jaccard,
)
from scraping_jobsdb_spark.operators.textops import normalize_text, quality_score
from scraping_jobsdb_spark.session import ship_package

JACCARD_MIN = 0.6


def generate(seed: int, cache_dir: str) -> dict:
    return gen.corpus(seed, cache_dir)


class Workload(workload.Workload):
    def __init__(self, *a):
        super().__init__(*a)
        ship_package(self.spark)
        self.out = ""
        self.counts: dict[str, float] = {}

    def _pipeline(self, out: str):
        docs = self.spark.read.parquet(self.inputs["path"])
        norm = self.call("textops.normalize_text", lambda: docs.select(
            "doc_id", normalize_text(F.col("text")).alias("text")))
        scored = self.call("textops.quality_score", lambda: norm.withColumn(
            "score", F.round(quality_score("text"), 9)))
        uniq = self.call("dedup.dedup_exact", lambda: dedup_exact(
            scored, ["text"], "doc_id").localCheckpoint())
        cand = self.call("similarity.minhash_candidate_pairs", minhash_candidate_pairs,
                         uniq, "doc_id", "text", k=32, bands=8, shingle_n=3)
        left = uniq.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
        right = uniq.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
        joined = cand.join(left, "id_a").join(right, "id_b")
        sim = self.call("similarity.ngram_jaccard", ngram_jaccard,
                        joined, joined, None, "ta", "tb", n=3)
        verified = joined.filter(sim >= JACCARD_MIN).select("id_a", "id_b")
        keep = self.call("graph.dedup_keep_best", dedup_keep_best, verified,
                         uniq.select("doc_id", "score"))
        drops = keep.filter(~F.col("keep")).select(F.col("id").alias("doc_id"))
        with self.t.span("dedup.write"):
            self.attempted += 1
            uniq.join(drops, "doc_id", "left_anti").write.mode("overwrite").parquet(out)
        return cand, verified

    def setup(self) -> None:
        self._pipeline(os.path.join(self.work, "setup"))

    def run_pass(self, k: int) -> int:
        self.out = os.path.join(self.work, f"pass{k}")
        self._pipeline(self.out)
        return self.inputs["rows"]

    def check(self) -> list[str]:
        kept = {r[0] for r in self.spark.read.parquet(self.out).select("doc_id").collect()}
        groups = self.inputs["groups"]
        clusters = self.inputs["clusters"]
        bad = [g for g in groups if sum(m in kept for m in g) != 1]
        gone = [c for c in clusters if not any(m in kept for m in c)]
        in_group = {m for g in groups for m in g} | {m for c in clusters for m in c}
        lost = [d for d in range(self.inputs["generated"])
                if d not in in_group and d not in kept]
        errs = self.expect("each injected group keeps exactly one member", not bad,
                           f"{len(bad)} groups, e.g. {bad[:3]}")
        errs += self.expect("each cluster of similar source documents keeps one",
                            not gone, f"{len(gone)} clusters, e.g. {gone[:3]}")
        errs += self.expect("no distinct document is dropped", not lost,
                            f"{len(lost)} dropped, e.g. {lost[:5]}")
        errs += self.expect("output has no other ids", kept <= in_group | set(
            range(self.inputs["generated"])), "unknown ids")
        copies = sum(len(g) - 1 for g in groups)
        self.counts = {"dedup.docs_kept": float(len(kept)),
                       "dedup.injected_recall": (copies - sum(
                           sum(m in kept for m in g) - 1 for g in groups)) / copies}
        return errs

    def count_pass(self) -> None:
        cand, verified = self._pipeline(os.path.join(self.work, "counts"))
        c, v = cand.count(), verified.count()
        self.counts.update({"dedup.candidate_pairs": float(c),
                            "dedup.verified_pairs": float(v),
                            "dedup.useful_frac": v / c if c else 0.0})

    def layer_counters(self) -> dict[str, float]:
        return dict(self.counts)
