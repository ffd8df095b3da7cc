"""Seeded input generators. Each takes a seed and a cache directory, writes
its inputs there once, and returns their description; the same seed always
gives byte-identical inputs. Nothing here is timed."""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Injected (duplicate / near-duplicate) documents get ids at or above this,
# so they can never collide with a generated id.
INJECT_BASE = 10**9

DAY1 = date(2024, 3, 4)

# Input sizes. They are part of the benchmark's definition (DESIGN.json).
SITE = {"keywords": 12, "bands": 6, "jobs": 600, "new_share": 0.1, "days": 40}
CORPUS = {"replicas": 2, "exact_groups": 100, "near_groups": 100}
# Source documents this similar may or may not be paired by MinHash.
CLUSTER_JACCARD = 0.3
SOURCE_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                           "documents.txt.gz")
STREAM = {"base_docs": 800, "batch_docs": 100, "near_docs": 40, "batches": 48}


def _cached(cache_dir: str, name: str, seed: int, build) -> str:
    """Run ``build(tmp_dir)`` once per (name, seed, generator source);
    return the final dir."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    out = os.path.join(cache_dir, f"{name}-s{seed}-{version}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


# ------------------------------------------------------------- job site


def site_spec(seed: int, cache_dir: str) -> dict:
    """Keywords, overlapping salary bands and each job's search memberships.
    ``days[0]`` lists the jobs on the site on day 1; ``days[d]`` the jobs
    that first appear on day d + 1. Every job is listed by 1-4 distinct
    (keyword, band) searches, so the imputed min/max has real groups."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 1])
        kws = [f"kw{i:02d}" for i in range(SITE["keywords"])]
        bands = [(10000 + 5000 * i, 20000 + 7500 * i) for i in range(SITE["bands"])]
        n1, n_new = SITE["jobs"], int(SITE["jobs"] * SITE["new_share"])
        n = n1 + n_new * (SITE["days"] - 1)
        ids = (1_000_000 + rng.choice(9_000_000, n, replace=False)).astype(str).tolist()
        combos = [(kw, lo, hi) for kw in kws for lo, hi in bands]
        # a few searches stay empty so the zero-results branch runs
        combos = [c for c in combos if not (c[0] in kws[::4] and c[1] == bands[0][0])]
        memberships = {
            jid: [list(combos[c]) for c in sorted(
                rng.choice(len(combos), int(rng.integers(1, 5)), replace=False))]
            for jid in ids
        }
        days = [ids[:n1]] + [ids[n1 + d * n_new: n1 + (d + 1) * n_new]
                             for d in range(SITE["days"] - 1)]
        spec = {"seed": seed, "keywords": kws, "bands": bands,
                "days": [sorted(d) for d in days], "memberships": memberships}
        with open(os.path.join(tmp, "site.json"), "w") as fh:
            json.dump(spec, fh)

    return _read_json(os.path.join(_cached(cache_dir, "site", seed, build), "site.json"))


def site_day(day: int) -> date:
    return DAY1 + timedelta(days=day - 1)


def listings(spec: dict, day: int) -> dict[str, list[str]]:
    """``"keyword|lo|hi"`` -> sorted job ids that search lists on ``day``."""
    out: dict[str, list[str]] = {}
    for new in spec["days"][:day]:
        for jid in new:
            for kw, lo, hi in spec["memberships"][jid]:
                out.setdefault(f"{kw}|{lo}|{hi}", []).append(jid)
    return {k: sorted(v) for k, v in out.items()}


# ------------------------------------------------------------- documents


def _vocab(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {
        "".join(rng.choice(letters, int(rng.integers(3, 10))))
        for _ in range(n + n // 10)
    }
    return np.array(sorted(words)[:n])


def source_documents() -> list[str]:
    """The texts of the first 1,000 rows (doc_id 0-999) of the sf0.1
    ``documents`` test table, shipped in ``data/``: a 31-word vocabulary,
    10-100 words each, with the table's own exact and near duplicates."""
    with gzip.open(SOURCE_DOCS, "rt") as fh:
        return fh.read().splitlines()


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram shingles, as ``similarity.shingles`` builds them."""
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n, 0) + 1)}


def similar_pairs(texts: list[str], min_jaccard: float) -> list[tuple[int, int]]:
    """Index pairs whose word-3-shingle Jaccard is at least ``min_jaccard``,
    found through an inverted index of shingles."""
    sets = [shingle_set(t) for t in texts]
    post: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for g in s:
            post.setdefault(g, []).append(i)
    shared: dict[tuple[int, int], int] = {}
    for ids in post.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                key = (ids[a], ids[b])
                shared[key] = shared.get(key, 0) + 1
    out = []
    for (a, b), k in shared.items():
        if k / (len(sets[a]) + len(sets[b]) - k) >= min_jaccard:
            out.append((a, b))
    return sorted(out)


def _components(n: int, pairs) -> list[list[int]]:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps: dict[int, list[int]] = {}
    for a, b in pairs:
        for x in (a, b):
            comps.setdefault(find(x), []).append(x)
    return [sorted(set(c)) for c in comps.values()]


def _mutate(text: str, rep: int, phase: int) -> str:
    """Replica ``rep`` of a source text: every third token, from ``phase``,
    gets a ``~r<rep>`` suffix (``scripts/gen_scale_data.py`` does the same).
    Every 3-shingle then holds a mutated token, so no two replicas share a
    shingle, while duplicates inside a replica stay duplicates."""
    toks = text.split(" ")
    return " ".join(f"{t}~r{rep}" if i % 3 == phase else t for i, t in enumerate(toks))


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int,
           lo: int = 30, hi: int = 70) -> list[str]:
    lens = rng.integers(lo, hi, n)
    toks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(toks[pos:pos + k]))
        pos += k
    return out


def _drop_last_word(text: str) -> str:
    return text.rsplit(" ", 1)[0]


def _respace(text: str) -> str:
    """An exact duplicate once normalized: doubled inner spaces plus
    leading/trailing whitespace, which ``normalize_text`` collapses."""
    return "  " + text.replace(" ", "  ", 3) + " \t"


def corpus(seed: int, cache_dir: str) -> dict:
    """The dedup corpus: ``replicas`` seeded mutations of the source
    documents (replica r holds ids r * 1000 + source id) plus injected
    groups at ids >= INJECT_BASE. Each group is one generated document and
    1-2 copies: exact duplicates after normalisation, or near-duplicates
    that drop the last word. The source's own duplicates are kept and
    recorded as ``clusters``: documents whose shingle Jaccard with another
    reaches CLUSTER_JACCARD, where whether MinHash pairs them is chance."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        src = source_documents()
        n_src = len(src)
        texts, clusters, candidates = [], [], []
        for rep in range(CORPUS["replicas"]):
            phase = int(rng.integers(0, 3))
            rtexts = src if rep == 0 else [_mutate(t, rep, phase) for t in src]
            comps = _components(n_src, similar_pairs(rtexts, CLUSTER_JACCARD))
            clusters += [[rep * n_src + i for i in c] for c in comps]
            in_comp = {i for c in comps for i in c}
            candidates += [rep * n_src + i for i in range(n_src)
                           if i not in in_comp and len(rtexts[i].split()) >= 30]
            texts += rtexts
        n = len(texts)
        ids = list(range(n))
        groups = []
        originals = rng.choice(candidates, CORPUS["exact_groups"] + CORPUS["near_groups"],
                               replace=False)
        next_id = INJECT_BASE
        for g, orig in enumerate(originals.tolist()):
            mutate = _respace if g < CORPUS["exact_groups"] else _drop_last_word
            members = [orig]
            for _ in range(int(rng.integers(1, 3))):
                ids.append(next_id)
                texts.append(mutate(texts[orig]))
                members.append(next_id)
                next_id += 1
            groups.append(members)
        check_no_collision(range(n), [m for g in groups for m in g[1:]])
        order = rng.permutation(len(ids))
        table = pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        })
        pq.write_table(table, os.path.join(tmp, "documents.parquet"),
                       row_group_size=len(ids) // 8 + 1)
        with open(os.path.join(tmp, "groups.json"), "w") as fh:
            json.dump({"generated": n, "groups": groups, "clusters": clusters}, fh)

    out = _cached(cache_dir, "corpus", seed, build)
    meta = _read_json(os.path.join(out, "groups.json"))
    meta["path"] = os.path.join(out, "documents.parquet")
    meta["rows"] = meta["generated"] + sum(len(g) - 1 for g in meta["groups"])
    return meta


def check_no_collision(generated, injected) -> None:
    """Raise if any injected document id equals a generated one."""
    clash = set(generated) & set(injected)
    if clash or min(injected, default=INJECT_BASE) < INJECT_BASE:
        raise ValueError(f"injected ids collide with generated ids: {sorted(clash)[:5]}")


def stream(seed: int, cache_dir: str) -> dict:
    """The admission stream: a base corpus for the indexes, then batches
    that each hold fresh documents and near-duplicates (last word dropped)
    of documents admitted before the batch: base documents or fresh
    documents of earlier batches."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 3])
        vocab = _vocab(rng)
        nb, bd, n_near = STREAM["base_docs"], STREAM["batch_docs"], STREAM["near_docs"]
        admitted = list(zip(range(nb), _texts(rng, vocab, nb, 40, 80)))
        pq.write_table(
            pa.table({"doc_id": pa.array([d for d, _ in admitted], pa.int64()),
                      "text": pa.array([t for _, t in admitted], pa.string())}),
            os.path.join(tmp, "base.parquet"),
        )
        batches, next_fresh, next_near = [], nb, INJECT_BASE
        for b in range(STREAM["batches"]):
            fresh_ids = list(range(next_fresh, next_fresh + bd - n_near))
            fresh = list(zip(fresh_ids, _texts(rng, vocab, len(fresh_ids), 40, 80)))
            pick = rng.choice(len(admitted), n_near, replace=False).tolist()
            near = [(next_near + i, _drop_last_word(admitted[p][1]))
                    for i, p in enumerate(pick)]
            next_fresh += len(fresh)
            next_near += n_near
            rows = fresh + near
            f = f"batch{b:03d}.parquet"
            pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in rows], pa.int64()),
                                     "text": pa.array([t for _, t in rows], pa.string())}),
                           os.path.join(tmp, f))
            batches.append({"epoch": b, "file": f, "near": [d for d, _ in near]})
            admitted.extend(fresh)
        check_no_collision(range(next_fresh), range(INJECT_BASE, next_near))
        with open(os.path.join(tmp, "stream.json"), "w") as fh:
            json.dump({"batches": batches}, fh)

    out = _cached(cache_dir, "stream", seed, build)
    meta = _read_json(os.path.join(out, "stream.json"))
    meta["dir"] = out
    return meta
