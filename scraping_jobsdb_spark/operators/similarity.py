"""Near-duplicate detection and similarity search at scale.

North-star extensions (BASELINE.json): the dedup family (MinHash+LSH,
SimHash, n-gram Jaccard) and embedding similarity search (brute-force cosine
top-k + an LSH-bucketed approximate variant). The reference has no analogue —
its dedup is exact-key DISTINCT ON (``sql/scrape_url_dedupe_jobs.sql``).

The MinHash, SimHash and Jaccard paths are built from built-in JVM
functions (xxhash64, md5, higher-order array ops), so no row leaves the JVM
(Arrow kernels below are the named exceptions). Higher-order functions
(``transform``, ``filter``, ``aggregate``) are ``CodegenFallback``: whole-stage
codegen calls them, but a lambda body is INTERPRETED once per element, and
anything inside it that does not depend on the lambda variable is recomputed
per element — nothing hoists it. A per-row value a lambda needs (the token
array of ``shingles_sql``) is therefore bound once, as the single element of
an outer ``transform(array(v), t -> ...)[0]``.

Scale design:
- MinHash/LSH: per-row signature computation is map-only; candidate
  generation shuffles once on (band_id, band_hash) — the classic
  shingle→minhash→band→bucket-join pipeline. Bucket sizes are data-dependent;
  a ``max_bucket`` guard drops degenerate buckets (boilerplate text) the same
  way production dedup pipelines do, keeping the pair join bounded.
- SimHash: 64-bit fingerprint per doc (map-only), candidates via banding the
  fingerprint into 16-bit chunks (docs within Hamming distance 3 share ≥1 of
  4 chunks by pigeonhole).
- Embedding search: brute-force is a broadcast of the (tiny) query set
  against a scan of the corpus — no shuffle at all; the IVF variant prunes
  the scan to the probed centroid partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_jobsdb_spark.sources.tables import fan_out

__all__ = [
    "shingles",
    "minhash_signature",
    "minhash_candidate_pairs",
    "simhash",
    "simhash_from_hashes",
    "simhash_fp_frame",
    "simhash_candidate_pairs",
    "ngram_jaccard",
    "cosine",
    "brute_force_topk",
    "brute_force_topk_np",
    "embedding_neardup_pairs",
    "embedding_neardup_pairs_blocked",
    "ivf_topk",
    "quantize_embeddings_int8",
    "dequantize_embeddings_int8",
    "kmeans_fit",
    "minhash_band_keys_portable",
    "minhash_candidate_pairs_portable",
    "simhash_candidate_pairs_portable",
    "fuzzy_string_join",
    "quantized_cosine_topk",
    "label_centroids",
    "nearest_centroid_classify",
    "semantic_dedup_keep_list",
    "whitening_topk",
    "binary_hamming_topk",
    "isin_ids",
]


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of a text column, via a sequence of
    token-slices — pure JVM array ops. Column-DSL twin of ``shingles_sql``
    (same expressions, same token-array binding, NULL for NULL text)."""
    c = F.col(col) if isinstance(col, str) else col

    def over(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    return F.when(
        c.isNotNull(), F.transform(F.array(F.split(F.trim(c), r"\s+")), over)[0]
    )


def shingles_sql(col_name: str, n: int = 3) -> str:
    """``shingles`` as a SQL expression STRING — same expressions, one
    ``F.expr`` parse instead of the Column DSL's py4j lambda round-trips
    (the higher-order-function builders dominate driver plan-construction
    time for the signature operators; see minhash_band_keys_portable).

    Cost model: the per-shingle ``slice`` lambda is interpreted once per
    shingle, and a row-level expression inside it is re-evaluated every
    time. With ``split(trim(text))`` written in the lambda body the whole
    text was regex-split once per shingle — O(words²) per document. The
    token array is therefore bound ONCE per row as the single element of
    an outer ``transform(array(split(...)), t -> ...)[0]``, and the slices
    read ``t``. Traced on the 2,100-document ``dedup_corpus`` pass (4
    vCPUs, seed 1): ``spark.cpu_ms`` 3,020 → 1,339, and the keep-best
    call that runs signing and verification lazily 1.97 → 1.31 s. The
    body and its input are unchanged, so the shingle sets are identical.
    ``planlint.lambda_invariants`` finds a split that moves back into the
    lambda.

    A NULL text has NULL shingles; an empty or blank text shingles to
    ``['']``. Without the NULL guard a NULL text shingled like the empty
    one (``size`` of the NULL token array is NULL, which ``greatest``
    skips, and ``concat_ws`` of the NULL slice is ''), so NULL and empty
    documents signed alike, shared every LSH bucket and verified as
    duplicates of each other."""
    return (
        f"IF(`{col_name}` IS NULL, NULL, "
        f"transform(array(split(trim(`{col_name}`), '\\\\s+')), t -> "
        f"array_distinct(transform(sequence(0, greatest(size(t) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(t, i + 1, {n})))))[0])"
    )


def minhash_signature(shingle_col: Column, k: int = 32) -> Column:
    """k-permutation MinHash signature over a shingle array.

    Each variable-length shingle string is hashed ONCE (xxhash64); the k
    permutations then re-hash the fixed 8-byte value (xxhash64(seed_i, h)) —
    k× cheaper than re-hashing strings per permutation. sig[i] = min over
    shingles of permutation i. Map-only, no shuffle."""
    hashed = F.transform(shingle_col, lambda s: F.xxhash64(s))

    # one-parameter lambdas only: ``F.transform`` passes the element INDEX
    # as a second parameter, so binding ``i`` as a default argument
    # (``lambda h, i=i``) would seed every permutation with the position
    def perm(i: int):
        return lambda h: F.xxhash64(F.lit(i), h)

    return F.array(*[F.array_min(F.transform(hashed, perm(i))) for i in range(k)])


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (id_a < id_b).

    shingle → signature → split into ``bands`` bands of k/bands rows →
    hash each band → shuffle once on (band, band_hash) → pair up within
    buckets. Oversized buckets (> max_bucket, typically boilerplate) are
    dropped to bound the quadratic pair expansion.

    Cost model: signing dominates — shingling (see ``shingles_sql``: the
    token array must be bound once per row, or the text is re-split per
    shingle) and k interpreted ``array_min(transform(...))`` passes per
    document, pure CPU in the map stage. That stage is only as wide as
    its input, and AQE sizes post-shuffle partitions by bytes: a
    deduplicated corpus of a few hundred KB arrives as ONE partition (and
    a ``localCheckpoint`` keeps it there), so the whole corpus would sign
    in one task on one core.
    The input therefore goes through ``fan_out`` first: a scan narrower
    than the session's parallelism, or a frame with no file splits, is
    round-robined over every core (one cheap exchange of the two raw
    columns); a wide scan passes through untouched. Measured on the
    2,300-document ``dedup_corpus`` workload, 4 vCPUs: signing went from
    1 task to 4, the keep-best call that runs it lazily from 3.7 to 2.1 s
    (traced, seed 1), and the pass median from 6.1 to 4.4 s (10
    interleaved pairs).
    """
    rows = k // bands
    sig = _xxhash_signatures(
        fan_out(df.select(id_col, text_col)), id_col, text_col, k, shingle_n
    )
    bks = ", ".join(
        f"struct({b} as band, xxhash64("
        + ", ".join(f"__sig[{b * rows + r}]" for r in range(rows))
        + ") as key)"
        for b in range(bands)
    )
    banded = sig.select("doc", F.expr(f"inline(array({bks}))"))
    return minhash_pairs_from_band_keys(banded, id_col="doc", max_bucket=max_bucket)


def _xxhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int, shingle_n: int
) -> DataFrame:
    """``(doc, __sig array<bigint>)``: the k-permutation xxhash64 MinHash
    signature of every document — the signing stage shared by
    ``minhash_candidate_pairs`` and ``lshindex.minhash_band_keys_fast``,
    which differ only in how they band it. Map-only, no shuffle.

    Each shingle string is hashed once into the materialized ``__sh``
    column; the k permutations then re-hash that fixed 8-byte value
    (``xxhash64(i, h)``) instead of the strings. SQL-string construction
    (see minhash_band_keys_portable): identical expressions, one parse
    instead of k lambda round-trips. A NULL text has no shingles and
    gets no signature row, so it is never a candidate."""
    hashed = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.expr(
            f"transform({shingles_sql(text_col, shingle_n)}, "
            "s -> xxhash64(s))"
        ).alias("__sh"),
    )
    sig = (
        "array("
        + ", ".join(
            f"array_min(transform(__sh, h -> xxhash64({i}, h)))"
            for i in range(k)
        )
        + ")"
    )
    return hashed.select("doc", F.expr(sig).alias("__sig"))


def simhash_from_hashes(
    hashes: Column, bits: int = 64, chunk_bits: int = 16
) -> Column:
    """SimHash fingerprint from a precomputed array<bigint> of token hashes.

    Each hash votes ±1 on every bit position; the sign of the per-position
    vote sum forms the fingerprint. Returned as array<int> of
    ``bits/chunk_bits`` chunk values (MSB-first within each chunk) — the
    chunked form is what LSH banding consumes, avoids 64-bit sign overflow
    under ANSI mode, and makes Hamming distance a zip_with of bit_counts.

    Flat plan: bit extraction via binary-string expansion (one transform),
    vote accumulation via a single zip_with fold — two higher-order
    expressions total, JVM-side."""
    bit_arrays = F.transform(
        hashes, lambda h: F.split(F.lpad(F.bin(h), bits, "0"), "(?!$)")
    )
    votes = F.aggregate(
        bit_arrays,
        F.array_repeat(F.lit(0), bits),
        lambda acc, b: F.zip_with(
            acc, b, lambda a, c: a + F.when(c == "1", 1).otherwise(-1)
        ),
    )
    n_chunks = bits // chunk_bits
    return F.array(
        *[
            F.aggregate(
                F.slice(votes, i * chunk_bits + 1, chunk_bits),
                F.lit(0),
                lambda acc, v: acc * 2 + F.when(v > 0, F.lit(1)).otherwise(F.lit(0)),
            )
            for i in range(n_chunks)
        ]
    )


def simhash_fp_frame(
    df: DataFrame,
    id_col: str,
    hashes: Column,
    bits: int = 64,
    chunk_bits: int = 16,
    arrow: bool = True,
) -> DataFrame:
    """``(doc, fp array<int>)`` SimHash fingerprint frame from a per-row
    token-hash array expression — the DataFrame-level stage every SimHash
    consumer (fast pairs, portable pairs, the signature index) builds on.

    ``arrow=True`` computes the bit votes and chunk packing in ONE numpy
    kernel per row over Arrow batches instead of the
    ``simhash_from_hashes`` expression tree (bin → lpad → split → 64-wide
    zip_with fold PER TOKEN — string-materializing and
    interpretation-bound: the fingerprint stage alone measured ~65 s of
    the 100x simhash sweep row, ~10x the rest of the job). The kernel is
    INTEGER-EXACT against the expression form: ``(h >> (bits-1-j)) & 1``
    on int64 reads the same two's-complement bit the binary-string
    expansion reads, votes are ±1 integer sums, ties (vote == 0) pack as
    bit 0 in both, and chunks fold MSB-first in both — parity is pinned
    per hash family in tests/test_similarity.py, so the hash-oracled
    portable consumers keep their gate rows. Token hashes themselves stay
    JVM-side (xxhash64 or md5-window ``conv``), so the kernel never
    re-implements an engine hash. NULL hash arrays yield NULL
    fingerprints, as the expression form does."""
    if not arrow:
        return df.select(
            F.col(id_col).alias("doc"),
            simhash_from_hashes(hashes, bits, chunk_bits).alias("fp"),
        )
    import numpy as np
    import pandas as pd

    from scraping_jobsdb_spark.session import ship_package

    ship_package(df.sparkSession)
    n_chunks = bits // chunk_bits
    idt = dict(df.dtypes)[id_col]

    def gen(batches):
        shifts = bits - 1 - np.arange(bits, dtype=np.int64)
        weights = 1 << (chunk_bits - 1 - np.arange(chunk_bits, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fps = []
            for hv in pdf["__hv"]:
                if hv is None:
                    fps.append(None)
                    continue
                h = np.asarray(hv, dtype=np.int64)
                if h.size:
                    bits_m = (h[:, None] >> shifts) & 1  # (n_tok, bits)
                    votes = (2 * bits_m - 1).sum(axis=0)
                else:
                    votes = np.zeros(bits, dtype=np.int64)
                packed = (
                    (votes > 0).astype(np.int64).reshape(n_chunks, chunk_bits)
                    * weights
                ).sum(axis=1)
                fps.append(packed.astype(np.int32))
            yield pd.DataFrame({"doc": pdf["doc"], "fp": fps})

    return df.select(F.col(id_col).alias("doc"), hashes.alias("__hv")).mapInPandas(
        gen, f"doc {idt}, fp array<int>"
    )


def simhash(col: Column | str, bits: int = 64, chunk_bits: int = 16) -> Column:
    """SimHash of a text column (tokenize → per-token xxhash64 → bit votes),
    as an array of 16-bit chunk values (see simhash_from_hashes)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(F.split(F.trim(c), r"\s+"))
    return simhash_from_hashes(
        F.transform(toks, lambda t: F.xxhash64(t)), bits, chunk_bits
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_bits: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into 16-bit
    chunks; docs within Hamming distance 3 share at least one chunk
    (pigeonhole over 4 chunks). One shuffle on (chunk_idx, chunk_value).

    ``max_bucket`` bounds band-join FAN-IN, not just the emitted pair
    count: (chunk, value) buckets holding more than the cap are dropped
    BEFORE the self-join (one counter aggregate + equi-join on the small
    surviving-band list), so a self-similar corpus — where one band value
    is shared by half the documents — cannot quadratically expand the
    join input. Singleton buckets are dropped too (they cannot pair).
    Same stop-gram economics as the winnowing/fuzzy joins; recall inside
    dropped bands is traded for a bounded job, and a dropped band is
    boilerplate by definition. The guard is OPT-IN (default ``None`` —
    every pair emitted, the original contract): dropping hot bands is a
    recall change, so callers choose the cap knowingly; deployed-scale
    call sites (the registered gate/bench queries) pass ``max_bucket=256``."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    with_fp = simhash_fp_frame(
        df,
        id_col,
        F.transform(toks, lambda t: F.xxhash64(t)),
        chunk_bits=chunk_bits,
    ).localCheckpoint()
    chunked = with_fp.select(
        "doc",
        "fp",
        F.posexplode("fp"),
    ).select(
        "doc", "fp", F.struct(F.col("pos").alias("chunk"), F.col("col").alias("cval")).alias("ck")
    )
    if max_bucket is not None:
        small = (
            chunked.groupBy("ck")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
            .select("ck")
        )
        chunked = chunked.join(small, "ck")
    a = chunked.select(F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "ck")
    b = chunked.select(F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "ck")
    pairs = (
        a.join(b, "ck")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    # exact Hamming distance on the candidates only: per-chunk XOR popcount
    ham = F.aggregate(
        F.zip_with(
            F.col("fp_a"), F.col("fp_b"), lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return pairs.select("id_a", "id_b", ham.alias("hamming"))


def ngram_jaccard(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    text_l: str,
    text_r: str,
    n: int = 1,
) -> Column:
    """Jaccard similarity of word n-gram sets between two joined text columns
    (use inside a select after joining on ``on``).

    One parsed SQL string over ``shingles_sql`` (no py4j lambda build).
    Each set is written twice, for the intersection and the union.
    Binding the pair once in an outer ``transform`` measured no faster
    (20,000 sf0.1 text pairs, one session, 5 reps: 5.50 s bound, 5.38 s
    as written; the per-shingle split this replaced took 37.7 s).
    NULL when either text is NULL (``array_size`` of a NULL set is NULL
    whatever ``spark.sql.legacy.sizeOfNull`` says)."""
    sl, sr = shingles_sql(text_l, n), shingles_sql(text_r, n)
    return F.expr(
        f"array_size(array_intersect({sl}, {sr})) "
        f"/ array_size(array_union({sl}, {sr}))"
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns via sequential
    left-fold (deterministic IEEE order)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector: broadcast the (small) query set
    against a single scan of the corpus, per-query top-k via window.
    No shuffle of the corpus; the window partitions by query id.
    Returns (query_id, vec_id, rank)."""
    from pyspark.sql import Window

    q = query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    scored = corpus.alias("c").crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("qvec")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥
    threshold). The 5th member of the dedup family (exact, MinHash, SimHash,
    Jaccard, embedding).

    This form is the exact all-pairs computation — correct at corpus sizes
    where |corpus|² is tolerable (and as the verification stage on candidate
    pairs). At scale, generate candidates first (IVF cells via ivf_topk's
    assignment, or sign-LSH banding) and apply this exact filter only within
    buckets; the semantics are unchanged."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b")
    )


def _rademacher_planes(n_planes: int, dim: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (LCG-seeded Rademacher projections) for
    sign-LSH. Fixed planes make the banding a pure function of the input —
    re-runs and oracle checks are reproducible."""
    planes: list[list[float]] = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            row.append(1.0 if state >> 63 else -1.0)
        planes.append(row)
    return planes


def embedding_neardup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rows_per_band: int = 8,
    n_bands: int | None = None,
    target_miss: float = 1e-7,
    arrow_signatures: bool = True,
    verify_block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH banding + exact
    cosine filter — the bucketed form of ``embedding_neardup_pairs``: same
    output, but candidates come from an EQUI-join on (band, signature), never
    a cartesian/BNLJ product, so hot paths shuffle-hash instead of
    nested-looping the corpus against itself.

    Per vector: ``n_bands × rows_per_band`` sign bits against fixed
    Rademacher hyperplanes (one zip_with fold per plane, JVM-side), packed
    into per-band bucket keys. Candidates = pairs sharing ≥1 band bucket;
    the exact cosine predicate then decides membership, so banding only
    prunes — it never admits a false pair. ``n_bands`` defaults to the
    smallest count whose per-pair miss probability at the threshold boundary
    is ≤ ``target_miss`` (p = 1 − acos(t)/π, miss = (1−p^r)^b); the planes
    are fixed, so a verified dataset stays verified.

    Scale posture: on clustered corpora (real near-dup work, t ≥ 0.8) band
    buckets are small and the join is sublinear in n². On isotropic data at
    low thresholds buckets approach n/2^r and candidate volume approaches
    b/2^(r-1) × n²/2 — LSH cannot prune what geometry doesn't separate; the
    filter-before-distinct keeps the shuffle bounded to passing pairs even
    then. The exact filter runs BEFORE distinct so the dedup shuffle carries
    only qualifying pairs, not the candidate expansion.

    ``arrow_signatures``: compute the sign bits in ONE Arrow-batched numpy
    matmul (vectors × planesᵀ) instead of per-plane Catalyst folds — at
    aggressive banding (rows_per_band ≥ 8 ⇒ hundreds of planes) the
    expression form is interpretation-bound (each HOF fold evaluates
    per-element; measured 26 s vs ~1 s at sf0.1 with 384 planes). On this
    path the exact-cosine verify also runs INSIDE each (band, sig) bucket
    (blocked GEMM per applyInPandas group), so candidate pairs never
    materialize as rows — only qualifying pairs reach the cross-band
    distinct. Banding only prunes, so the OUTPUT pair set is unchanged
    either way (float-rounding sign flips at a plane boundary merely
    perturb which band catches a pair — the ≤ target_miss bound is over
    the plane ensemble and unaffected; pinned by the arrow≡expression
    parity test).

    Defaults are the DEPLOYED posture (r7, was 2/False): ``rows_per_band=8``
    — 2-bit signatures put ~n/4 of an isotropic corpus in every bucket, i.e.
    prune nothing — and ``arrow_signatures=True``, the measured-fast
    signature kernel. ``rows_per_band=2`` + the expression path remain
    supported (the r=2/expression parity tests pin them)."""
    import math

    if n_bands is None:
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        per_band = p**rows_per_band
        n_bands = max(1, math.ceil(math.log(target_miss) / math.log(1.0 - per_band)))
    planes = _rademacher_planes(n_bands * rows_per_band, dim)

    def _bit(plane: list[float]):
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(x) for x in plane]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0))

    def _band_keys():
        # built ONLY on the expression path: constructing this tree costs
        # one py4j round-trip per literal — n_planes × dim of them (~25k
        # calls ≈ 15 s driver-side at rows_per_band=8), which would dwarf
        # the whole job if paid on the Arrow path too
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("band"),
                    sum(
                        _bit(planes[j * rows_per_band + k]) * F.lit(1 << k)
                        for k in range(rows_per_band)
                    ).alias("sig"),
                )
                for j in range(n_bands)
            ]
        )

    # Stage shape on the Arrow path (r11 rewrite — the r10 form OOM'd the
    # 100x sweep): candidates NEVER materialize as rows. The r10 plan
    # banded ids, self-joined on (band, sig), DISTINCTed the candidate
    # pairs, then joined vectors back for the verify — correct on
    # isotropic data, but on CLUSTERED sub-threshold data (the 100x
    # corpus: 10 label clusters at cos ~0.7, threshold 0.9) nearly every
    # in-cluster pair collides in >=1 of the b bands (1-(1-p^r)^b ~ 0.99
    # at p~0.74, r=8, b=48), so the distinct had to hash O(n^2/labels)
    # pairs — 2e9 at 200k vectors, a guaranteed heap kill that no exact
    # filter downstream can undo. Now each (band, sig) BUCKET verifies
    # internally with one blocked GEMM (applyInPandas) and emits ONLY
    # qualifying pairs; the cross-band dedup then distincts true pairs,
    # not the candidate expansion. The band shuffle carries vectors
    # (b x n x dim doubles — LINEAR in n) instead of ids-then-pair-joins;
    # in-bucket blocking bounds the mask memory, and LSH's guarantee is
    # untouched (banding only prunes; the exact cosine still decides).
    if arrow_signatures:
        import numpy as np
        import pandas as pd

        from scraping_jobsdb_spark.session import ship_package

        ship_package(corpus.sparkSession)
        pl = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
        r, b = rows_per_band, n_bands
        weights = (1 << np.arange(r, dtype=np.int64))  # bit packing per band
        idt = dict(corpus.dtypes)[id_col]
        thr = float(threshold)

        def sigs(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vecs = np.vstack(pdf["__vec"].to_numpy())  # (n, dim)
                bits = (vecs @ pl.T >= 0).astype(np.int64)  # (n, r*b)
                packed = (bits.reshape(len(pdf), b, r) * weights).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "doc": pdf["doc"],
                        "sigs": list(packed),
                        "__vec": pdf["__vec"],
                    }
                )

        # The signature stage feeds the bucket verify DIRECTLY — no
        # checkpoint, no bucket-size pre-filter. Both were tried and
        # measured WORSE at sf0.1 (27 s vs 3.5 s): rows re-read from a
        # localCheckpoint serialize to the Python verify stage ~8x slower
        # than the live Arrow stream, and on clustered corpora the
        # singleton-bucket filter removes almost nothing (240 of 105k
        # rows at sf0.1) while forcing that checkpoint. Singleton groups
        # are cheap in FlatMapGroupsInPandas (~30 µs each); the verify's
        # cost is the in-bucket GEMM, which no pre-filter reduces.
        banded = (
            corpus.select(
                F.col(id_col).alias("doc"),
                F.col(vec_col).cast("array<double>").alias("__vec"),
            )
            .mapInPandas(
                sigs, f"doc {idt}, sigs array<bigint>, __vec array<double>"
            )
            .select(
                "doc",
                F.posexplode("sigs").alias("band", "sig"),
                "__vec",
            )
        )

        def bucket_kernel(
            ids: "np.ndarray", v: "np.ndarray"
        ) -> tuple["np.ndarray", "np.ndarray"] | None:
            # one (band, sig) bucket: blocked GEMM, emit qualifying pairs
            n = len(ids)
            if n < 2:
                return None
            norms = np.sqrt((v * v).sum(axis=1))
            blk = int(verify_block_rows)  # blk^2 doubles = mask per block
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            for i0 in range(0, n, blk):
                ai = v[i0 : i0 + blk]
                na = norms[i0 : i0 + blk]
                for j0 in range(i0, n, blk):
                    bj = v[j0 : j0 + blk]
                    dots = ai @ bj.T
                    keep = dots >= thr * np.outer(na, norms[j0 : j0 + blk])
                    ii, jj = np.nonzero(keep)
                    ga, gb = ids[i0 + ii], ids[j0 + jj]
                    # Order-NORMALIZE instead of order-FILTER: an
                    # off-diagonal block (j0 > i0) sees each cross-block
                    # index pair in exactly one orientation, so `ga < gb`
                    # would drop the pair whenever the group's arbitrary
                    # row order disagrees with id order. min/max emits it
                    # regardless; the diagonal block's double hit and the
                    # self-pair (masked here) are absorbed by the
                    # downstream .distinct().
                    m = ga != gb
                    ga, gb = ga[m], gb[m]
                    out_a.append(np.minimum(ga, gb))
                    out_b.append(np.maximum(ga, gb))
            return np.concatenate(out_a), np.concatenate(out_b)

        # Bucket dispatch is mapInPandas over a (band, sig)-repartitioned,
        # partition-sorted stream — NOT groupBy().applyInPandas. The two
        # are semantically identical here (hash partitioning puts every
        # bucket's rows in one partition; the sort makes them contiguous;
        # the kernel runs per contiguous run, carrying a bucket that spans
        # an Arrow-batch boundary into the next batch), but
        # FlatMapGroupsInPandas pays per-GROUP Python/Arrow dispatch and
        # clustered corpora have ~n_bands x n_docs / cluster_size tiny
        # buckets (~105k at sf0.1 — at ~30 us each, the dispatch alone was
        # the dominant term of this query's wall time). One Python call
        # per PARTITION amortizes that to nothing while the verify math
        # stays byte-identical (pinned by the arrow≡expression,
        # banded≡exact, and super-block parity tests).
        def verify_stream(batches):
            pending: pd.DataFrame | None = None
            for pdf in batches:
                if pending is not None and len(pending):
                    pdf = pd.concat([pending, pdf], ignore_index=True)
                    pending = None
                if len(pdf) == 0:
                    continue
                bs = pdf["band"].to_numpy()
                sg = pdf["sig"].to_numpy()
                change = (bs[1:] != bs[:-1]) | (sg[1:] != sg[:-1])
                starts = np.concatenate(
                    ([0], np.flatnonzero(change) + 1)
                )
                # hold the last run: it may continue in the next batch
                pending = pdf.iloc[starts[-1] :]
                acc_a: list[np.ndarray] = []
                acc_b: list[np.ndarray] = []
                for st, en in zip(starts[:-1], starts[1:]):
                    grp = pdf.iloc[st:en]
                    if en - st < 2:
                        continue
                    got = bucket_kernel(
                        grp["doc"].to_numpy(),
                        np.vstack(grp["__vec"].to_numpy()),
                    )
                    if got is not None:
                        acc_a.append(got[0])
                        acc_b.append(got[1])
                if acc_a:
                    yield pd.DataFrame(
                        {
                            "id_a": np.concatenate(acc_a),
                            "id_b": np.concatenate(acc_b),
                        }
                    )
            if pending is not None and len(pending) >= 2:
                got = bucket_kernel(
                    pending["doc"].to_numpy(),
                    np.vstack(pending["__vec"].to_numpy()),
                )
                if got is not None:
                    yield pd.DataFrame({"id_a": got[0], "id_b": got[1]})

        return (
            banded.repartition("band", "sig")
            .sortWithinPartitions("band", "sig")
            .mapInPandas(verify_stream, f"id_a {idt}, id_b {idt}")
            .distinct()
        )
    banded = corpus.select(
        F.col(id_col).alias("doc"), F.explode(_band_keys()).alias("bk")
    )
    cand = (
        banded.select(F.col("doc").alias("id_a"), "bk")
        .join(banded.select(F.col("doc").alias("id_b"), "bk"), "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    with_norm = corpus.select(F.col(id_col), F.col(vec_col), norm.alias("__n"))
    va = with_norm.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("__n").alias("na")
    )
    vb = with_norm.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("__n").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(dot >= F.lit(threshold) * F.col("na") * F.col("nb"))
        .select("id_a", "id_b")
    )


def embedding_neardup_pairs_blocked(
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 1024,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine pairs (id_a < id_b, cos ≥ threshold) by blocked
    matrix multiply — the physical strategy for thresholds where sign-LSH
    provably cannot prune (t ≤ ~0.75 on weakly-clustered data: the per-pair
    collision probability of a random pair, (1/2)^r per band, is too close to
    the boundary probability (1−acos(t)/π)^r for any banding to separate
    them, so candidates ≈ all pairs and the per-pair expression-fold verify
    IS the cost).

    Shape: hash ids into B = ceil(n / block_rows) blocks; every unordered
    block pair (lo ≤ hi) is one group, reached by exploding each vector to
    its B pairs (an equi-partitioned shuffle of n×B rows — the unavoidable
    O(n²/block) data movement of an exact all-pairs computation, NOT a
    cartesian join: the plan is explode → hash shuffle → grouped-map).
    Each group runs one (≤block × dim) @ (dim × ≤block) normalized GEMM in
    Arrow/numpy and emits only passing pairs. Parallelism = B(B+1)/2 uniform
    groups (hash blocks ⇒ no skew); per-task memory is two blocks of
    vectors + one block² score tile, tuned by ``block_rows``.

    At 100 TB-scale corpora exact all-pairs is infeasible no matter the
    kernel — use ``embedding_neardup_pairs_lsh`` (t high enough to prune) or
    IVF-cell candidates, both of which keep this operator as their in-bucket
    verify. Pass ``n_rows`` when known to skip the count job."""
    import math

    import numpy as np
    import pandas as pd

    from scraping_jobsdb_spark.session import ship_package

    ship_package(corpus.sparkSession)
    n = n_rows if n_rows is not None else corpus.count()
    n_blocks = max(1, math.ceil(n / block_rows))

    src = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    pair_targets = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda p: F.struct(
            F.least(F.col("__blk"), p).alias("lo"),
            F.greatest(F.col("__blk"), p).alias("hi"),
        ),
    )
    exploded = src.select(
        "__id", "__vec", "__blk", F.explode(F.array_distinct(pair_targets)).alias("__bp")
    ).select("__id", "__vec", "__blk", F.col("__bp.lo").alias("__lo"), F.col("__bp.hi").alias("__hi"))

    thr = float(threshold)

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        mat = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = np.inf  # zero vector: cosine 0 with everything
        mat /= norms[:, None]
        lo, hi = int(pdf["__lo"].iloc[0]), int(pdf["__hi"].iloc[0])
        if lo == hi:
            scores = mat @ mat.T
            ia, ib = np.triu_indices(len(ids), k=1)
            mask = scores[ia, ib] >= thr
            left, right = ids[ia[mask]], ids[ib[mask]]
        else:
            a_side = pdf["__blk"].to_numpy() == lo
            scores = mat[a_side] @ mat[~a_side].T
            ia, ib = np.nonzero(scores >= thr)
            left, right = ids[a_side][ia], ids[~a_side][ib]
        return pd.DataFrame(
            {"id_a": np.minimum(left, right), "id_b": np.maximum(left, right)}
        )

    return (
        exploded.groupBy("__lo", "__hi")
        .applyInPandas(_block_pairs, schema="id_a bigint, id_b bigint")
    )


def brute_force_topk_np(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via numpy matmul inside mapInPandas — the
    throughput path for wide embeddings: each Arrow batch of corpus vectors
    becomes one (batch × dim) @ (dim × n_queries) GEMM instead of per-element
    expression evaluation. Queries are closed over (broadcast-by-pickle:
    fine for small query sets; use a join for big ones).

    Same result set as brute_force_topk. Raw GEMM summation order differs
    from expression-tree evaluation in the last ulps, so the cosine is
    QUANTIZED (rounded to 9 decimals) before the ranking window and ties
    broken by id — two near-equal cosines then rank identically across
    engines (numpy, Spark expressions, DuckDB), making the (id, rank)
    output cross-engine deterministic. Oracles comparing against this
    operator must apply the same ROUND(cos, 9) before their ORDER BY."""
    import numpy as np

    from pyspark.sql import Window

    from scraping_jobsdb_spark.session import ship_package

    ship_package(corpus.sparkSession)
    q_rows = query.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (c_mat / norms) @ q_mat.T  # (batch, n_queries)
            out = {
                "query_id": [],
                id_col: [],
                "cos": [],
            }
            for qi, qid in enumerate(q_ids):
                out["query_id"].extend([qid] * len(pdf))
                out[id_col].extend(pdf[id_col].tolist())
                out["cos"].extend(sims[:, qi].tolist())
            yield pd.DataFrame(out)

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, f"query_id bigint, {id_col} bigint, cos double"
    )
    qcos = F.round(F.col("cos"), 9)
    w = Window.partitionBy("query_id").orderBy(qcos.desc(), F.col(id_col))
    return (
        scored.filter(F.col(id_col) != F.col("query_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank")
    )


def _seed_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic centroid seeding without a global sort: a hash-stride
    filter thins the corpus to ~4×n_centroids candidate rows (spread over the
    whole id domain — xxhash64 is uniform), then an ``orderBy(id).limit``
    picks the first ``n_centroids`` of them. The limit compiles to
    TakeOrderedAndProject — per-partition top-k merged on the driver — so no
    single task ever sees more than its own partition's candidates (the
    global-window form this replaces pulled the entire corpus through one
    task). One count() job for the stride (driver scalar, same exception as
    checks).
    """
    n = corpus.count()
    stride = max(1, n // max(1, n_centroids * 4))
    return (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        .orderBy(F.col(id_col))
        .limit(n_centroids)
        .select(id_col, vec_col)
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    n_centroids: int = 10,
    n_probe: int = 3,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    quantize_dp: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: deterministic hash-stride centroid
    seeding, assign corpus rows to their nearest centroid, probe the
    ``n_probe`` nearest centroid cells per query. At scale the corpus is
    written partitioned by ``cell`` so a probe prunes to
    n_probe/n_centroids of the data.

    ``centroids`` (cell, centroid array) — e.g. from ``kmeans_fit`` or a
    renamed ``label_centroids`` — replaces the hash-stride seeding with
    trained cells (better-balanced buckets → better recall at the same
    n_probe).

    Scale shape: the centroid table is codebook-scale, so cell assignment
    is a ZERO-SHUFFLE map over driver-baked centroid literals (struct-min
    argmin, the ``nearest_centroid_classify`` pattern — previously this
    was a crossJoin + per-row window, i.e. an n×k shuffle and sort for a
    pure per-row function). The probe side stays a |queries|×k window
    (tiny). In-cell scoring is one equi-join on cell with the probed
    queries auto-broadcast.

    ``quantize_dp``: when set, every ranked cosine (cell argmin, probe
    ranking, final top-k) is rounded to that many decimals BEFORE
    comparison with ties to the lowest cell/id — the engine's cross-engine
    determinism rule, making the output value-hash oracle-able when the
    centroids themselves are oracle-derivable (see
    plans/queries.py::embedding_ivf_topk)."""
    from pyspark.sql import Window

    if centroids is not None:
        cents = centroids.select(
            F.col("cell").alias("cent_id"), F.col("centroid").alias("cent_vec")
        )
    else:
        cents = _seed_centroids(corpus, n_centroids, id_col, vec_col).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )

    def _q(c: Column) -> Column:
        return F.round(c, quantize_dp) if quantize_dp is not None else c

    # assign: nearest centroid per corpus vector (argmax cosine) as a pure
    # map expression over driver-baked centroid literals — zero shuffle.
    # dot/(vn*cn) reproduces cosine() bit-for-bit: same sequential fold
    # order, same IEEE ops (Python's left-fold sum == the Spark aggregate).
    cent_rows = sorted(
        (r[0], [float(x) for x in r[1]]) for r in cents.collect()
    )
    vn = F.greatest(
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        F.lit(1e-12),
    )
    staged = corpus.select(id_col, vec_col, vn.alias("__vn"))

    # plain left-fold sum inside the parsed expr, NOT fsum: mirrors the
    # sequential fold order of cosine() / DuckDB's list norm (the
    # nearest_centroid_classify recipe, hash-green at the gate since r5)
    best = _centroid_argmin_expr(
        cent_rows, vec_col, "__vn", "cell", quantize_dp
    )
    assigned = staged.select(
        id_col, vec_col, best.getField("cell").alias("cell")
    )
    # probe cells per query (|queries| × n_centroids rows — negligible)
    q = query.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probed = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qvec",
            "cent_id",
            _q(cosine(F.col("qvec"), F.col("cent_vec"))).alias("ccos"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("ccos").desc(), F.col("cent_id")
                )
            ),
        )
        .filter(F.col("r") <= n_probe)
        .select("query_id", "qvec", F.col("cent_id").alias("cell"))
    )
    scored = (
        assigned.join(probed, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            _q(cosine(F.col(vec_col), F.col("qvec"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank")
    )


def quantize_embeddings_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry_cols: list[str] | None = None,
    fixed_scale: float | None = None,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of a float embedding column.

    (scale, codes) per row with ``value ≈ code * scale``,
    ``scale = max(|v|)/127``: 4× smaller vectors, the storage/IO lever for
    billion-vector corpora (dot products on int8 codes + one final scale
    multiply). Pure JVM expressions — a transform for the codes, one
    array_max for the scale; dequantize is the inverse transform. Max
    round-trip error per component is ``scale/2``, asserted in tests.
    ``carry_cols`` ride along unchanged (labels, partitions).

    ``fixed_scale``: use a corpus-wide constant scale instead of the
    per-vector adaptive one, clamping codes to [-127, 127]. A POWER-OF-TWO
    constant (e.g. 2**-7 for unit-ball embeddings) makes the whole
    quantize → dequantize → cosine chain IEEE-EXACT — ``code * scale`` is
    exact even in float32, and every product/sum in a cosine over
    dequantized vectors is an integer scaled by one common power of two,
    so dequantized-domain scores equal code-domain scores bit-for-bit
    (the r10 promotion recipe that makes the dequantize path value-hash
    oracle-able; the adaptive path keeps recall coverage in tests)."""
    v = F.col(vec_col)
    if fixed_scale is not None:
        scale = F.lit(float(fixed_scale))
        codes = F.transform(
            v,
            lambda x: F.least(
                F.greatest(F.round(x / scale), F.lit(-127.0)), F.lit(127.0)
            ).cast("int"),
        )
    else:
        scale = F.greatest(
            F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0),
            F.lit(1e-12),
        )
        codes = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return emb.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        scale.alias("scale"),
        codes.alias("codes"),
    )


def dequantize_embeddings_int8(
    q: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Inverse of quantize_embeddings_int8: codes * scale → float array."""
    return q.select(
        F.col(id_col),
        F.transform(
            F.col("codes"), lambda c: (c * F.col("scale")).cast("float")
        ).alias("embedding"),
    )


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 10,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, DataFrame-iterative.

    The proper trainer for IVF cells (ivf_topk's deterministic hash-stride
    seeding is the zero-training baseline). Each round: broadcast the k
    centroids, assign every vector to its nearest (map-only), recompute
    means with one aggregate over (cell, component) via posexplode —
    2 jobs/round, no Python in the loop. Deterministic: seeding is the
    hash-stride pick of ``_seed_centroids`` (TakeOrderedAndProject, never a
    global window), ties in assignment break on lowest cell id. Centroids
    are collected per round (k × dim scalars — driver-side by design, the
    same tiny-scalar exception as checks).

    Returns exactly ``n_centroids`` rows (cell, centroid array<double>):
    a cell that receives zero assignments in a round carries its previous
    centroid forward instead of silently disappearing. Convergence is
    fixed-iteration (k-means always terminates on assignment stability; at
    10 rounds drift is far below assignment granularity for IVF purposes).
    """
    from pyspark.sql import Window as _W

    seeded = _seed_centroids(corpus, n_centroids, id_col, vec_col).select(
        F.col(vec_col).cast("array<double>").alias("centroid")
    )
    cents = [
        (i, list(r.centroid)) for i, r in enumerate(seeded.collect())
    ]

    for _ in range(max_iter):
        cent_df = F.broadcast(
            corpus.sparkSession.createDataFrame(
                cents,
                "cell int, centroid array<double>",
            )
        )
        scored = corpus.crossJoin(cent_df).select(
            id_col,
            vec_col,
            "cell",
            cosine(F.col(vec_col), F.col("centroid")).alias("__cos"),
        )
        # argmax as a MAP-SIDE-COMBINING min(struct) aggregate (the r7
        # pq_train E-step fix): the partial aggregate collapses each id's
        # k candidates before the shuffle — the old row_number window
        # shuffled and sorted the full k× expansion every round. min of
        # (-cos, cell, vec) == the window's (cos desc, cell asc) order
        # (cosine is NaN-free here: zero norms are guarded), and
        # (cos, cell) is unique per id — centroids BIT-IDENTICAL to the
        # window form (pinned by test).
        best = F.min(
            F.struct(
                (-F.col("__cos")).alias("negcos"),
                F.col("cell").alias("cell"),
                F.col(vec_col).alias("vec"),
            )
        )
        assigned = (
            scored.groupBy(id_col)
            .agg(best.alias("b"))
            .select(F.col("b.cell").alias("cell"), F.col("b.vec").alias(vec_col))
        )
        new_cents = (
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mean"))
                ).alias("pm")
            )
            .select(
                "cell",
                F.transform(F.col("pm"), lambda s: s.mean).alias("centroid"),
            )
        )
        # A cell with zero assignments vanishes from the groupBy output —
        # carry its previous centroid forward so the result always has
        # exactly n_centroids cells.
        updated = {r.cell: [float(x) for x in r.centroid] for r in new_cents.collect()}
        cents = [(c, updated.get(c, prev)) for c, prev in cents]

    return corpus.sparkSession.createDataFrame(
        cents,
        "cell int, centroid array<double>",
    )


def minhash_band_keys_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document LSH band keys ``(id, band, key)`` with ENGINE-PORTABLE
    md5-window permutations — the map-only signature stage shared by
    ``minhash_candidate_pairs_portable`` (self-contained pairing) and
    ``operators/lshindex.py LshSignatureIndex`` (the persisted-index
    admission path). ``key`` is the band's row minima comma-joined (the
    exact string any engine re-derives: DuckDB ``string_agg(... ORDER BY
    p)``). No shuffle — one row per (doc, band) out of a projection."""
    if k % bands:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    rows = k // bands
    n_blocks = (k + 3) // 4
    # Plan construction is a HANDFUL of ``F.expr`` SQL strings rather than
    # the Column-DSL tree it used to be: the k ``transform(...)``
    # permutation lambdas cost ~2,000 py4j round-trips (~0.6 s of DRIVER
    # wall per call, measured r14 — guide §5: the driver should do almost
    # no work), and the index lifecycle queries build this plan 4-5 times
    # per run. The SQL parser receives the same expressions in one call;
    # the plan and every output value are unchanged (family hash oracles).
    sh = shingles_sql(text_col, shingle_n)
    digests = (
        "array("
        + ", ".join(
            "md5(s)" if b == 0 else f"md5(concat_ws(':', s, '{b}'))"
            for b in range(n_blocks)
        )
        + ")"
    )

    # stage the per-shingle digest arrays behind an alias: the k permutation
    # minima below are k consumers — without the projection boundary the
    # md5s would recompute per permutation (see winnowing_fingerprint_set's
    # physical-shape note for the CollapseProject reference-count rule)
    # a NULL text has NULL shingles: no signature row, never a candidate
    staged = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc"),
        F.expr(f"transform({sh}, s -> {digests})").alias("__dg"),
    )

    def _perm_min(p: int) -> str:
        block, win = p // 4, p % 4
        return (
            f"array_min(transform(__dg, d -> cast(conv(substring("
            f"d[{block}], {1 + 7 * win}, 7), 16, 10) as bigint)))"
        )

    sig = staged.select(
        "doc",
        F.expr(
            "array(" + ", ".join(_perm_min(p) for p in range(k)) + ")"
        ).alias("__sig"),
    )
    bks = ", ".join(
        f"struct({b} as band, concat_ws(',', "
        + ", ".join(f"__sig[{b * rows + r}]" for r in range(rows))
        + ") as key)"
        for b in range(bands)
    )
    # inline() fans the struct array straight out to (band, key) columns —
    # one generator select instead of explode + a rename projection
    return sig.select(
        F.col("doc").alias(id_col), F.expr(f"inline(array({bks}))")
    )


def minhash_candidate_pairs_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """MinHash-LSH candidate pairs with ENGINE-PORTABLE permutations — the
    fully-oracle-able sibling of ``minhash_candidate_pairs``.

    The fast form's xxhash64 seeds are Spark-internal, so its output can
    only ever be rows-only checked; here each permutation reads a 28-bit
    window of an md5 digest (hash-once-per-block: shingle s yields digests
    md5(s), md5(s||':1'), ... — one per 4 permutations — identical to the
    CMS/Bloom ``probe_positions`` construction), which any engine
    re-derives bit-for-bit. Same LSH economics: signature is map-only, ONE
    shuffle on (band, band-key), ``max_bucket`` bounds the quadratic pair
    expansion. 28-bit permutation values are plenty for minwise ranking at
    corpus scale (ties only merge candidates, never drop true ones, and
    the verify stage downstream is exact anyway).

    Use the xxhash64 form in the 100 TB hot path (integer rehash beats 4
    md5 digests per shingle); use this one where cross-engine
    reproducibility of the candidate set itself is the requirement
    (regression gates, audits, cross-system migrations).
    """
    banded = minhash_band_keys_portable(
        df, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n
    )
    return minhash_pairs_from_band_keys(banded, id_col=id_col, max_bucket=max_bucket)


def minhash_pairs_from_band_keys(
    banded: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate pairs from an ALREADY-COMPUTED band-key frame
    ``(id_col, band, key)`` — the one bucket-aggregate tail of both
    MinHash forms (``minhash_candidate_pairs`` and
    ``minhash_candidate_pairs_portable``), and reusable by a caller that
    has signed its documents once instead of re-signing (e.g.
    ``online_admission_intra_batch`` shares ONE signing pass between the
    intra-batch pairing and the persisted-index admission — guide §1.2
    "don't compute things you throw away"). ``key`` may be any type:
    buckets are (band, key) groups.

    The within-bucket pair expansion is one parsed SQL string, like
    ``shingles_sql``: the nested Column-DSL lambdas it replaces cost py4j
    round trips on every plan build."""
    buckets = (
        banded.select(F.col(id_col).alias("doc"), "band", "key")
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
        .filter(f"size(docs) > 1 AND size(docs) <= {int(max_bucket)}")
    )
    return buckets.select(
        F.expr(
            "inline(filter(flatten(transform(docs, a -> transform(docs, "
            "b -> struct(a AS id_a, b AS id_b)))), p -> p.id_a < p.id_b))"
        )
    ).distinct()


def simhash_candidate_pairs_portable(
    df: DataFrame, id_col: str, text_col: str, max_bucket: int = 256
) -> DataFrame:
    """SimHash near-dup candidates with ENGINE-PORTABLE token hashes — the
    oracle-able sibling of ``simhash_candidate_pairs`` (same relationship
    as minhash_candidate_pairs_portable to its xxhash64 form).

    Token hash = 60-bit md5 window; fingerprint = 60 bit-votes chunked
    into 4×15-bit bands (``simhash_from_hashes`` is hash-agnostic, so the
    vote/chunk machinery is shared verbatim with the hot path). Docs
    within Hamming distance 3 share a band by pigeonhole; candidates meet
    on ONE (chunk, value) shuffle and verify exact Hamming on the pair
    stream only. Everything integer → the candidate set AND distances are
    value-hash reproducible in any engine.

    ``max_bucket`` drops (chunk, value) buckets larger than the cap before
    pairing — the same quadratic-expansion guard as the MinHash forms
    (a band value shared by half the corpus is boilerplate, and its
    pair product would dominate the job); like there, capping trades
    recall inside capped buckets for a bounded pair stream."""
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    h60 = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    with_fp = simhash_fp_frame(
        df, id_col, F.transform(toks, h60), bits=60, chunk_bits=15
    ).localCheckpoint()
    chunked = with_fp.select(
        "doc", "fp", F.posexplode("fp")
    ).select(
        "doc",
        "fp",
        F.struct(
            F.col("pos").alias("chunk"), F.col("col").alias("cval")
        ).alias("ck"),
    )
    small = (
        chunked.groupBy("ck")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter((F.col("__n") > 1) & (F.col("__n") <= max_bucket))
        .select("ck")
    )
    guarded = chunked.join(small, "ck")
    a = guarded.select(F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "ck")
    b = guarded.select(F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "ck")
    pairs = (
        a.join(b, "ck")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("fp_a"), F.col("fp_b"), lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return pairs.select(
        "id_a", "id_b", ham.cast("bigint").alias("hamming")
    )


def fuzzy_string_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_distance: int = 1,
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Blocked edit-distance join — the entity-resolution primitive (match
    near-identical names/titles/SKUs across two tables without an n×m
    cross product). Candidates are pairs sharing at least one character
    ``n``-gram; the exact ``levenshtein ≤ max_distance`` predicate refines
    them. Blocking is a candidate FILTER, never approximate scoring: every
    emitted pair satisfies the exact predicate; a pair sharing no n-gram is
    by contract not a candidate (at distance 1 that requires strings
    shorter than ~2n — pre-pad or lower ``n`` for very short keys).

    Shape: map-only gram explode on both sides (grams carry their strings,
    so no join-back scan), one equi-join on the gram hash, distinct pair
    set, then one levenshtein per CANDIDATE — integer-exact, fully
    oracle-able. ``max_df`` drops grams appearing in more than that many
    rows per side (stop-grams — shared prefixes like "Customer#0000"),
    the same quadratic-expansion guard as the winnowing containment join;
    candidate volume is then bounded by Σ df² over surviving grams.

    Returns (id_a, id_b, name_a, name_b, distance) with id_a from LEFT and
    id_b from RIGHT; pass the SAME DataFrame object twice for self-join
    dedup (then only id_a < id_b pairs emit). Identity is the test —
    matching column names on two different tables must NOT suppress
    cross-side pairs. In cross-table mode EVERY qualifying pair emits,
    including pairs whose id AND string coincide across the two tables:
    two genuinely different tables sharing an id space would otherwise
    silently lose their strongest (distance-0) matches; only object
    identity dedups."""
    self_join = left is right

    def _grams(df: DataFrame, id_c: str, s_c: str) -> DataFrame:
        c = F.col(s_c)
        seq = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
        g = df.select(
            F.col(id_c).alias("__id"),
            c.alias("__s"),
            F.explode(F.transform(seq, lambda i: c.substr(i, F.lit(n)))).alias(
                "__g"
            ),
        ).distinct()
        if max_df is not None:
            # stop-gram list via a COUNTER aggregate (map-side combined:
            # the shuffle carries one row per distinct gram, not the whole
            # gram stream the window form exchanged), then an anti-join the
            # planner sizes itself — stop-grams are few by construction
            # (bounded by |grams| / max_df), so AQE broadcasts the list
            stop = (
                g.groupBy("__g")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_df)
                .select("__g")
            )
            g = g.join(stop, "__g", "left_anti")
        return g

    lg = _grams(left, left_id, left_col)
    # self-join: reuse the one gram pipeline (scan/explode/distinct/guard
    # run once) instead of building a byte-identical second copy
    rg = (lg if self_join else _grams(right, right_id, right_col)).select(
        F.col("__id").alias("__id_b"), F.col("__s").alias("__s_b"), "__g"
    )
    pairs = lg.join(rg, "__g")
    if self_join:
        pairs = pairs.filter(F.col("__id") < F.col("__id_b"))
    # cross-table mode: no filter — equal-(id, string) pairs across two
    # different tables are real (the strongest possible match), not
    # self-matches; see the docstring contract paragraph.
    cands = pairs.select(
        F.col("__id").alias("id_a"),
        F.col("__id_b").alias("id_b"),
        F.col("__s").alias("name_a"),
        F.col("__s_b").alias("name_b"),
    ).distinct()
    return cands.select(
        "*", F.levenshtein("name_a", "name_b").cast("bigint").alias("distance")
    ).filter(F.col("distance") <= max_distance)


def quantized_cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k IN THE INT8-QUANTIZED DOMAIN — the search the 4×
    storage lever actually runs at scale: scores come from the codes alone
    (the float vectors are never read back). The per-vector scales CANCEL
    in the cosine — cos(a,b) = Σcᵃcᵇ / (√Σcᵃ² · √Σcᵇ²) — so every sum is
    a small-integer sum (exact in any engine) and the score is one
    IEEE-exact √,√,×,÷ chain: unlike every float-summation ranking, this
    one is fully value-hash-oracle-able (rounded to 9 dp only as belt and
    braces). Same broadcast-query / corpus-scan / per-query-window shape
    as brute_force_topk. Returns (query_id, vec_id, rank)."""
    from pyspark.sql import Window

    q8 = quantize_embeddings_int8(corpus, vec_col=vec_col, id_col=id_col)

    def _norm2(codes):
        return F.aggregate(
            codes, F.lit(0).cast("bigint"), lambda acc, c: acc + c * c
        )

    c8 = q8.select(F.col(id_col), F.col("codes"), _norm2(F.col("codes")).alias("n2"))
    # quantization is row-local, so query vectors quantize directly — an
    # external query (id not in the corpus) works, and a query row whose
    # vector differs from the same-id corpus row scores with ITS vector
    qq8 = quantize_embeddings_int8(query, vec_col=vec_col, id_col=id_col)
    qv = qq8.select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("qcodes"),
        _norm2(F.col("codes")).alias("qn2"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("codes"), F.col("qcodes"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = (
        c8.crossJoin(F.broadcast(qv))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(
                dot
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))),
                9,
            ).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank")
    )


def label_centroids(
    corpus: DataFrame,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 12,
) -> DataFrame:
    """Per-label mean embedding — the class-centroid primitive (nearest-
    centroid classification, IVF seeding from supervision, cluster
    profiling). Returns (label, n_vecs, centroid array<double>).

    Exactness contract: each coordinate's sum runs in DECIMAL(30,scale)
    (order-independent — partial-aggregation order can't change the
    result), divided once by the count and cast back to double, so the
    centroid is bit-identical across partitionings and engines.

    Scale shape: posexplode to (label, pos, x) and ONE map-side-combined
    hash aggregate on (label, pos) — the shuffle carries at most
    |partitions| × |labels| × dim partial-sum rows (KBs), never the
    corpus; a second label-sized shuffle reassembles the array in pos
    order. Measured 1.8× faster than the no-explode dim-wide-aggregate
    alternative (64 independent SUM(element_at) expressions): the
    per-call codegen of 64 decimal aggregates costs more than the explode
    it avoids, at every SF tried, with bit-identical results. ``dim`` is
    kept in the signature for schema intent (and future width checks).
    """
    ex = corpus.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    agg = ex.groupBy(label_col, "pos").agg(
        F.sum(F.col("x").cast(f"decimal(30,{scale})")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    # divide in DOUBLE (exact-decimal sum cast first): decimal-division
    # scale rules differ across engines, double(exact)/double(int) does not
    return (
        agg.groupBy(label_col)
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("__ss"),
        )
        .select(
            label_col,
            "n_vecs",
            F.transform(
                "__ss", lambda t: t["s"].cast("double") / F.col("n_vecs")
            ).alias("centroid"),
        )
    )


def _sql_double_lit(x: float) -> str:
    """One double as SQL text. ``repr`` of a non-finite double ('inf',
    'nan') does not parse as a SQL literal, and the F.lit form this
    replaced handled it — so interpolating one raw would turn a data
    problem into an AnalysisException deep in an unrelated-looking plan.
    Refuse it eagerly with a message that names the real cause."""
    import math

    xf = float(x)
    if not math.isfinite(xf):
        raise ValueError(
            f"non-finite value {x!r} cannot be baked into a SQL literal "
            "plan (centroid/codebook components must be finite doubles)"
        )
    return f"{xf!r}D"


def _sql_id_lit(v) -> str:
    """One centroid/cell id as SQL text. Int ids embed as integer
    literals; string ids (reachable via ivf_topk's default
    ``_seed_centroids`` path, where cent_id is the corpus id column and
    may be a string) embed as quoted string literals — interpolated raw
    they would misresolve as column references or fail to parse."""
    if isinstance(v, bool):
        raise ValueError(f"boolean id {v!r} cannot key a centroid cell")
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    raise ValueError(
        f"centroid/cell id {v!r} must be an int or string to be baked "
        "into a SQL literal plan"
    )


def isin_ids(col: str, values: list) -> Column:
    """``col IN (values)`` for a driver-side id list, built as ONE parsed
    SQL string when every value is an int or a string (``_sql_id_lit``),
    else via ``Column.isin``. The Column form pays one py4j literal round
    trip per value: for the ~60 kept ids of one admitted index batch it
    took 80 ms of driver time against 13 ms for the single parse here
    (filter built 20 times, 4-vCPU box under load). An empty list is
    FALSE."""
    if not values:
        return F.lit(False)
    if all(isinstance(v, (int, str)) and not isinstance(v, bool) for v in values):
        return F.expr(f"`{col}` IN ({', '.join(map(_sql_id_lit, values))})")
    return F.col(col).isin(values)


def _centroid_argmin_expr(
    cent_rows: list[tuple[int, list[float]]],
    vec_col: str,
    vn_col: str,
    field_name: str,
    quantize_dp: int | None,
) -> Column:
    """Struct-min argmin over driver-baked centroid literals, built as ONE
    parsed SQL string instead of k × dim ``F.lit``/HOF Column calls — the
    Column-DSL form costs thousands of py4j round-trips (~1.4 s of driver
    wall at k=10, dim=64, measured r14) while the expression tree is the
    same after constant folding: D-suffixed shortest-repr literals
    round-trip to identical doubles, the zip_with/aggregate fold order is
    unchanged, and the struct-min tie-break on the lowest id is preserved
    by the same (-cos, id) struct ordering."""
    import math

    terms = []
    for cid, cvec in cent_rows:
        cn = math.sqrt(sum(float(x) * float(x) for x in cvec)) or 1.0
        lits = ", ".join(_sql_double_lit(x) for x in cvec)
        dot = (
            f"aggregate(zip_with(`{vec_col}`, array({lits}), "
            f"(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, v) -> acc + v)"
        )
        cos = f"{dot} / (`{vn_col}` * {_sql_double_lit(cn)})"
        if quantize_dp is not None:
            cos = f"round({cos}, {quantize_dp})"
        terms.append(
            f"named_struct('d', -({cos}), "
            f"'{field_name}', {_sql_id_lit(cid)})"
        )
    return F.expr(f"array_min(array({', '.join(terms)}))")


def nearest_centroid_classify(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize_dp: int = 9,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: each vector gets the
    label of its highest-cosine centroid. Returns (id, [carry_cols...],
    pred_label).

    The centroid table is codebook-scale, so it is collected driver-side
    and baked into a PURE map expression (struct-min over quantized
    (-cosine, label) literals — the `_cell_expr` pattern from
    operators/pq.py): classification is a zero-shuffle map over the corpus
    scan, embarrassingly parallel at any scale. Cosines are quantized to
    ``quantize_dp`` decimals BEFORE the argmin and ties break on the
    LOWEST label — the cross-engine determinism rule every ranked float
    comparison in this engine follows (GEMM-vs-expression ulp drift must
    not flip a winner).

    ``carry_cols`` pass through to the output (e.g. the true label for a
    confusion rollup) so callers need no join-back on the id. Physical
    shape: the row's norm is STAGED once in its own projection and shared
    by every centroid's cosine — k+1 array folds per row instead of 2k
    (measured 2.6 s → 1.5 s for the confusion query at sf0.1)."""
    cent_rows = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(label_col, "centroid").collect()
    )
    vn = F.greatest(
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        F.lit(1e-12),
    )
    staged = corpus.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        F.col(vec_col),
        vn.alias("__vn"),
    )

    best = _centroid_argmin_expr(cent_rows, vec_col, "__vn", "lbl", quantize_dp)
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in (carry_cols or [])],
        best.getField("lbl").cast("int").alias("pred_label"),
    )


def semantic_dedup_keep_list(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quantize_dp: int = 9,
    assign: str = "literal",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    assign every vector to its nearest-centroid CELL, compute exact cosines
    only WITHIN each cell, and drop any vector that has a more-senior
    (lower-id) near-duplicate (quantized cosine ≥ ``threshold``) in its
    cell. Returns (id, cell, keep boolean), one row per corpus vector.

    Scale shape — the reason SemDeDup beats pairwise dedup at web scale:
    the cell assignment is map-only over broadcast centroids, and the
    quadratic pairwise step is confined to an EQUI-JOIN on cell —
    Σ|cell|² work instead of |corpus|², with the cell count the knob that
    bounds the blow-up (the paper uses ~50k k-means cells for 5B
    embeddings; size cells to thousands of vectors). Within-cell pairs
    carry vectors once per side of one hash join keyed on the cell id; the
    drop rule ("a smaller similar id exists in my cell") is intentionally
    NON-transitive — every verdict depends only on in-cell pairs, making
    the whole operator a pure composition of joins/aggregates
    (hash-oracle-able, unlike the connected-components keep rule of
    ``dedup_keep_list``, and the same admission rule the fingerprint
    index uses).

    ``assign`` picks the argmin implementation, same result either way:

    - ``"literal"`` (default): zero-shuffle struct-min over driver-baked
      centroid literals (``nearest_centroid_classify``). Right for
      codebook-scale k (≲100 cells): no exchange at all, whole-stage
      codegen. Beyond that the generated expression (k × dim literals)
      outgrows codegen limits.
    - ``"broadcast"``: broadcast-join the centroid table and take a
      map-side-combining min(struct) aggregate per id (the kmeans_fit
      E-step shape, r7's argmin pattern). One shuffle of n id-keyed rows;
      k is unbounded — but the join MATERIALIZES n × k rows, each paying
      a fold-expression cosine, so past k ~ 10³ the assignment stage
      dominates everything (measured: the 100× spot-check stalled here).
    - ``"gemm"``: Arrow ``mapInPandas`` whose closure holds the k × d
      centroid matrix (collected once — k-sized, the bounded-driver-frame
      contract) and scores each batch with ONE numpy float64 GEMM —
      zero shuffle, zero row materialization beyond the corpus itself,
      BLAS throughput instead of per-row fold expressions. This is
      faiss's own assignment kernel and the production posture for
      k ∝ corpus/cell_size — SemDeDup's k≫labels regime (r7 verdict
      item 4) — where centroids come from ``kmeans_fit`` on a FIXED-SIZE
      sample (the faiss training recipe: train cost stays O(sample × k),
      corpus-sized stages stay O(n·k GEMM flops) + Σ|cell|²). Parity
      with the expression paths is NEAR-exact, not guaranteed: the
      quantizer uses HALF_UP direction like F.round, but F.round
      HALF_UPs the shortest-decimal representation via BigDecimal while
      the numpy form rounds the binary product ``|cos|·10^dp`` (one
      extra multiply rounding), and the GEMM-order sum differs from the
      fold-order sum — so assignments can diverge on cosines within
      ~1 ulp of a 1e-9 grid boundary (data-dependent; equal on the test
      corpora, pinned there, but not a bit-level guarantee across BLAS
      builds). Queries that need bit-exact oracle replay use the
      expression paths; the gemm path's registered query stays
      rows-only for exactly this reason.

    Both paths quantize the assignment cosine to ``quantize_dp`` decimals
    before the argmin and tie-break on the lowest cell id, so
    literal≡broadcast bit-for-bit (pinned in tests).

    Determinism: cosines quantize to ``quantize_dp`` decimals BEFORE the
    threshold compare and the argmin tie-breaks on the lowest label — the
    engine-wide rule that keeps ulp drift from flipping verdicts across
    engines/partitionings.
    """
    if assign not in ("literal", "broadcast", "gemm"):
        raise ValueError(
            f"assign must be 'literal', 'broadcast' or 'gemm', got {assign!r}"
        )
    carried = corpus.withColumn("__sdd_vec", F.col(vec_col))
    if assign == "gemm":
        import numpy as np
        import pandas as pd

        # k-sized collect (bounded-driver-frame contract); sorted by cell
        # id so np.argmax's first-max tie-break IS the lowest-cell rule.
        cent_rows = sorted(
            centroids.select(label_col, "centroid").collect(),
            key=lambda r: int(r[0]),
        )
        cell_ids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
        cmat = np.array(
            [list(map(float, r[1])) for r in cent_rows], dtype=np.float64
        )
        # 1e-12 floor (the quantize_embeddings_int8 convention): a
        # zero-norm vector otherwise yields a NaN score row and argmax
        # silently assigns cell 0 under a RuntimeWarning
        cnorm = np.maximum(np.sqrt((cmat * cmat).sum(axis=1)), 1e-12)
        dp = quantize_dp

        id_type = dict(corpus.dtypes)[id_col]
        vec_type = dict(corpus.dtypes)[vec_col]
        out_schema = f"{id_col} {id_type}, cell int, __sdd_vec {vec_type}"

        def _assign_gemm(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                vnorm = np.maximum(
                    np.sqrt((v * v).sum(axis=1, keepdims=True)), 1e-12
                )
                scores = (v @ cmat.T) / (vnorm * cnorm[None, :])
                # HALF_UP quantization (away from zero), matching Spark's
                # F.round — np.round is half-to-even and would diverge on
                # exact grid-boundary cosines
                q = np.sign(scores) * np.floor(
                    np.abs(scores) * (10.0**dp) + 0.5
                )
                idx = np.argmax(q, axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "cell": cell_ids[idx].astype("int32"),
                        "__sdd_vec": pdf[vec_col],
                    }
                )

        assigned = carried.select(id_col, vec_col).mapInPandas(
            _assign_gemm, out_schema
        )
    elif assign == "broadcast":
        cent_df = F.broadcast(
            centroids.select(
                F.col(label_col).alias("__cell"),
                F.col("centroid").cast("array<double>").alias("__cent"),
            )
        )
        scored = carried.crossJoin(cent_df).select(
            id_col,
            "__sdd_vec",
            "__cell",
            F.round(
                cosine(F.col(vec_col), F.col("__cent")), quantize_dp
            ).alias("__qcos"),
        )
        best = F.min(
            F.struct(
                (-F.col("__qcos")).alias("negcos"),
                F.col("__cell").alias("cell"),
                F.col("__sdd_vec").alias("vec"),
            )
        ).alias("__best")
        assigned = (
            scored.groupBy(id_col)
            .agg(best)
            .select(
                F.col(id_col),
                F.col("__best.cell").cast("int").alias("cell"),
                F.col("__best.vec").alias("__sdd_vec"),
            )
        )
    else:
        assigned = nearest_centroid_classify(
            carried,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            label_col=label_col,
            quantize_dp=quantize_dp,
            carry_cols=["__sdd_vec"],
        ).select(
            F.col(id_col), F.col("pred_label").alias("cell"), F.col("__sdd_vec")
        )
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cell", F.col("__sdd_vec").alias("__va")
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cell", F.col("__sdd_vec").alias("__vb")
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine(F.col("__va"), F.col("__vb")), quantize_dp)
            >= F.lit(threshold)
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.select(id_col, "cell")
        .join(drops, id_col, "left")
        .select(
            id_col,
            "cell",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


# ------------------------------------------------------------ hybrid RRF


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: tuple[str, ...],
    query_vec_id: int,
    k_each: int = 100,
    k_out: int = 25,
    rrf_k: int = 60,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher, SIGIR'09): fuse a lexical BM25 ranking and a dense
    cosine ranking of the same corpus by summing 1/(rrf_k + rank) over
    the legs a document appears in, and return the fused top-``k_out``.
    The standard RAG-retrieval composition — each leg is an operator the
    engine already ships (``textops.bm25_rank``,
    ``similarity.brute_force_topk_np``); this adds only the fusion.

    Scale shape: each leg is one corpus scan ending in a per-partition
    top-k (TakeOrderedAndProject / windowed row_number over the broadcast
    query) — the corpus is never shuffled on a data-sized key. The fusion
    itself joins two ≤``k_each``-row frames (driver-small, broadcast), so
    its cost is independent of corpus size; at 100 TB the legs dominate
    and both are embarrassingly parallel single passes.

    Determinism (hash-oracle contract): both legs already quantize their
    scores to 9 dp before ranking with id tie-breaks, so the integer
    ranks are cross-engine stable; 1/(rrf_k+rank) on integer ranks is
    exactly reproducible IEEE math, rounded to 9 dp for a stable string
    form. A document absent from a leg contributes 0 and reports rank 0
    (never NULL — keeps the pandas dtype integral on both engines).
    Output: (doc_id, lex_rank, dense_rank, rrf_score).
    """
    from pyspark.sql import Window

    from scraping_jobsdb_spark.operators.textops import bm25_rank

    lex = bm25_rank(docs, query_terms, k=k_each, id_col=doc_id_col)
    # re-derive the explicit rank on the tiny (<= k_each) limited frame
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col(doc_id_col))
    lex_ranked = lex.select(
        F.col(doc_id_col).alias("__lex_id"),
        F.row_number().over(w_lex).cast("bigint").alias("lex_rank"),
    )
    query = emb.filter(F.col(vec_id_col) == query_vec_id)
    dense_ranked = (
        brute_force_topk_np(emb, query, k=k_each, id_col=vec_id_col)
        .select(
            F.col(vec_id_col).alias("__dense_id"),
            F.col("rank").cast("bigint").alias("dense_rank"),
        )
    )
    fused = lex_ranked.join(
        dense_ranked,
        lex_ranked["__lex_id"] == dense_ranked["__dense_id"],
        "full_outer",
    ).select(
        F.coalesce("__lex_id", "__dense_id").alias(doc_id_col),
        F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
        F.coalesce("dense_rank", F.lit(0)).cast("bigint").alias("dense_rank"),
    )
    contrib = lambda r: F.when(  # noqa: E731
        F.col(r) > 0, F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(r))
    ).otherwise(F.lit(0.0))
    return (
        fused.withColumn(
            "rrf_score",
            F.round(contrib("lex_rank") + contrib("dense_rank"), 9),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(doc_id_col))
        .limit(k_out)
    )


def random_projection_int(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a fixed ±1 sign
    matrix (Achlioptas, "Database-friendly random projections": a
    Rademacher matrix preserves pairwise distances in expectation like a
    Gaussian one, with integer-only arithmetic) — the embedding-compression
    lever upstream of ANN indexing: project d→out_dim once, search the
    short vectors, re-rank survivors in the full space.

    ENGINE-PORTABLE and hash-oracle-able by construction: the input is
    first int8-quantized (``quantize_embeddings_int8`` — the established
    exact-integer recipe), the sign s(i, j) = 1 - 2·(md5("i:j") first hex
    digit mod 2) is a pure function any engine reproduces, and each output
    component is an exact BIGINT sum Σ_i codes[i]·s(i,j) — no double ever
    crosses the gate. Map-only: one codegen'd transform/aggregate over the
    scan, a posexplode to (id, dim, proj); no shuffle, no UDF, cost linear
    in rows × d × out_dim. The sign matrix is never materialized — it is
    recomputed from md5 inside the expression, so nothing rides closures
    or broadcasts.
    """
    q = quantize_embeddings_int8(emb, vec_col=vec_col, id_col=id_col)
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(1), F.size("codes")),
            F.lit(0).cast("bigint"),
            lambda acc, i: acc
            + F.col("codes")[i - 1].cast("bigint")
            * (
                F.lit(1)
                - F.lit(2)
                * (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    i.cast("string"),
                                    j.cast("string"),
                                )
                            ),
                            1,
                            1,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % 2
                )
            ),
        ),
    )
    return q.select(
        F.col(id_col), F.posexplode(proj).alias("dim", "proj")
    ).select(id_col, F.col("dim").cast("bigint").alias("dim"), "proj")


def kmeans_fit_local(
    sample: DataFrame,
    n_centroids: int = 10,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample_rows: int = 200_000,
) -> DataFrame:
    """Lloyd's k-means trained DRIVER-SIDE over a BOUNDED sample — the
    faiss recipe (faiss's Clustering trains on a fixed-size subsample of
    the corpus regardless of corpus size; only ASSIGNMENT is distributed).
    The DataFrame-iterative ``kmeans_fit`` pays 2 Spark jobs per round,
    which is the right shape when training data is corpus-sized; when the
    caller already holds a fixed-size sample (SemDeDup cell training, IVF
    coarse quantizers), the whole E/M loop is a few numpy GEMMs over at
    most ``max_sample_rows`` × dim floats — milliseconds, zero jobs after
    the one sample collect. Raises if the sample exceeds the cap: the
    collect must stay tiny-by-construction (the codebook/centroid
    exception to the no-driver-materialization rule).

    Semantics mirror ``kmeans_fit``: hash-stride seeding via
    ``_seed_centroids``, cosine assignment with ties to the lowest cell
    id, per-cell ARITHMETIC-mean update, empty cells carry the previous
    centroid. Deterministic: collected rows are re-sorted by id before
    any summation, so partition order can't reorder float sums. Returns
    (cell int, centroid array<double>).
    """
    import numpy as np

    n = sample.count()
    if n > max_sample_rows:
        raise ValueError(
            f"kmeans_fit_local: sample has {n} rows > cap {max_sample_rows}"
            " — thin the sample or use the distributed kmeans_fit"
        )
    rows = sample.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    xn = np.linalg.norm(X, axis=1, keepdims=True)
    xn[xn == 0] = 1.0
    Xn = X / xn
    seeded = _seed_centroids(sample, n_centroids, id_col, vec_col).select(
        F.col(vec_col).cast("array<double>").alias("centroid")
    )
    C = np.array([list(r.centroid) for r in seeded.collect()], dtype=np.float64)
    k = C.shape[0]
    for _ in range(max_iter):
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        sims = Xn @ (C / cn).T  # (n, k)
        assign = np.argmax(sims, axis=1)  # ties -> lowest cell id
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return sample.sparkSession.createDataFrame(
        [(int(i), [float(v) for v in C[i]]) for i in range(k)],
        "cell int, centroid array<double>",
    )


def hard_negatives(
    emb: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the in-batch-negatives
    upgrade every embedding-model pipeline runs — e.g. DPR/SimCSE style):
    for each anchor, the top-``k`` most-similar corpus vectors with a
    DIFFERENT label — semantically close yet wrong, exactly the examples a
    contrastive loss learns most from.

    One corpus scan against the broadcast anchor set, label-mismatch filter
    BEFORE the ranking window (the filter prunes map-side; no post-ranking
    patch-up), per-anchor windowed top-k. Cosines are quantized to 9 dp
    before the (cos desc, id) ranking — the engine's shared rank-stability
    contract — so the output (query_id, vec_id, neg_label, rank) is
    cross-engine deterministic and hash-oracle-able.
    """
    from pyspark.sql import Window

    q = emb.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col(id_col) != F.col("query_id"))
            & (F.col(label_col) != F.col("qlabel"))
        )
        .select(
            "query_id",
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            F.round(cosine(F.col(vec_col), F.col("qvec")), 9).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "neg_label", "rank")
    )


def matryoshka_topk(
    emb: DataFrame,
    query_ids: tuple[int, ...],
    prefix_dim: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Prefix-truncated cosine top-k (Kusupati et al., "Matryoshka
    Representation Learning": MRL-trained embeddings rank nearly as well
    from their first ``prefix_dim`` coordinates, so retrieval runs a cheap
    truncated first pass and re-ranks survivors full-width). This is the
    first pass: slice every vector to its prefix, renormalized cosine
    (cosine renormalizes by construction), broadcast-query window top-k.

    Same plan as the full-width ``brute_force_topk`` but the scan moves
    ``prefix_dim/d`` of the bytes through the score expression — at 100 TB
    the savings is the point (64→16 dims = 4× less compute per candidate).
    9-dp quantized ranking with id tie-breaks → hash-oracle-able.
    """
    from pyspark.sql import Window

    sliced = emb.select(
        id_col, F.slice(F.col(vec_col), 1, prefix_dim).alias("__pv")
    )
    q = sliced.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("__pv").alias("qvec")
    )
    scored = (
        sliced.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(cosine(F.col("__pv"), F.col("qvec")), 9).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank")
    )


def whitening_topk(
    emb: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    eps: float = 1e-3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ZCA-whitened cosine top-k retrieval (Su et al., "Whitening Sentence
    Representations for Better Semantics and Faster Retrieval": decorrelate
    and rescale the embedding space so cosine stops being dominated by a
    few high-variance directions — the classic post-processing fix for
    anisotropic encoder embeddings).

    Two distributed passes, driver work bounded at O(d²):
    1. MOMENTS: one mapInPandas pass emits per-Arrow-batch partial
       ``(n, Σx, Σxxᵀ)`` rows (numpy GEMM per batch — d + d² doubles per
       partition, never per row); the driver combines the ≤ n_partitions
       partials into mean/covariance and eigendecomposes d×d (d=64 here;
       at 100 TB the moment pass is the only corpus touch and its output
       is KBs per partition).
    2. TRANSFORM + RANK: the (d×d) ZCA map ``W = U·diag(1/√(λ+eps))·Uᵀ``
       rides the closure into a second Arrow pass producing whitened
       vectors; scoring/ranking is the engine's standard broadcast-query
       cosine window top-k under the (score desc, id) total order.

    Not SQL-oracle-able (eigendecomposition) → registered rows-only; the
    algebraic contract (whitened covariance ≈ I, rank determinism) is
    pinned in pytest. eps regularizes near-null eigendirections, which
    otherwise explode under 1/√λ.
    """
    import numpy as np

    from pyspark.sql import Window

    src = emb.select(F.col(id_col), F.col(vec_col))

    def moments(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            yield pd.DataFrame(
                {
                    "n": [x.shape[0]],
                    "s": [x.sum(axis=0)],
                    "ss": [(x.T @ x).ravel()],
                }
            )
    parts = src.mapInPandas(
        moments, "n bigint, s array<double>, ss array<double>"
    ).collect()
    if not parts:
        # empty input: return an empty result with the output schema, like
        # every other *_topk operator, instead of IndexError at plan time
        return emb.sparkSession.createDataFrame(
            [], "query_id bigint, vec_id bigint, rank bigint, qcos double"
        ).withColumnRenamed("vec_id", id_col)
    n = sum(r.n for r in parts)
    d = len(parts[0].s)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    ss = np.sum([np.asarray(r.ss) for r in parts], axis=0).reshape(d, d)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    lam, u = np.linalg.eigh(cov)
    wmat = (u * (1.0 / np.sqrt(lam + eps))) @ u.T

    def whiten(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            wv = (x - mean) @ wmat.T
            yield pd.DataFrame({id_col: pdf[id_col], "wvec": list(wv)})

    white = src.mapInPandas(whiten, f"{id_col} bigint, wvec array<double>")
    q = white.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("wvec").alias("qvec")
    )
    scored = (
        white.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col),
            F.round(cosine(F.col("wvec"), F.col("qvec")), 9).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "qcos")
    )


def binary_hamming_topk(
    emb: DataFrame,
    query_ids: tuple[int, ...],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized (sign-sketch) Hamming retrieval — the 1-bit
    compression point on the engine's quantization ladder (float32 → int8
    → PQ → JL → 1-bit): each 64-d vector becomes 64 sign bits packed into
    two BIGINT halves, candidates rank by Hamming distance
    ``bit_count(h0⊕h0') + bit_count(h1⊕h1')``. 32× smaller scan than
    float32 and XOR+popcount scoring — the hot first pass in modern
    vector stores, usually followed by an exact rerank of survivors
    (compose with ``brute_force_topk`` on the candidate ids for that).

    Bits are ``x_i > 0`` (the standard zero-threshold binarization) — an
    exact float comparison, so the sketch is engine-portable without any
    stats pass. Packing is a map-only aggregate over the (value, index)
    zip (bit i → 2^i, halves stay < 2^32 so BIGINT arithmetic is exact);
    ranking is the standard broadcast-query window top-k under the
    (distance asc, id) total order. Integer distances → fully
    hash-oracle-able. Output: (query_id, id, hamming, rank).
    """
    from pyspark.sql import Window

    def pack(lo: int) -> Column:
        half = F.slice(F.col(vec_col), lo + 1, 32)
        return F.aggregate(
            F.zip_with(
                half,
                F.sequence(F.lit(0), F.lit(31)),
                lambda x, i: F.when(
                    x.cast("double") > 0,
                    F.pow(F.lit(2.0), i).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )

    sk = emb.select(
        F.col(id_col), pack(0).alias("h0"), pack(32).alias("h1")
    )
    q = sk.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("h0").alias("q0"),
        F.col("h1").alias("q1"),
    )
    scored = (
        sk.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            (
                F.bit_count(F.col("h0").bitwiseXOR(F.col("q0")))
                + F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
            ).cast("bigint").alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "hamming", "rank")
    )
