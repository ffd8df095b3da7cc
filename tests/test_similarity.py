"""Quality assertions for the non-SQL-expressible similarity operators
(rows-only in the driver gate): the injected near-duplicates must actually be
found, and the approximate ANN path must agree with the exact one."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, SF_SMOKE

from scraping_jobsdb_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    minhash_candidate_pairs,
    minhash_signature,
    shingles,
    simhash_candidate_pairs,
)
from scraping_jobsdb_spark.sources.tables import load_table


def _docs_with_neardups(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return docs.unionByName(near), near


def test_minhash_finds_injected_neardups(spark):
    corpus, near = _docs_with_neardups(spark)
    pairs = minhash_candidate_pairs(corpus, "doc_id", "text", k=32, bands=8)
    found = {
        (r.id_a, r.id_b)
        for r in pairs.filter(F.col("id_b") >= 10000).collect()
        if r.id_b - 10000 == r.id_a
    }
    n_injected = near.count()
    # LSH is probabilistic per-pair but a one-word-dropped doc shares almost
    # all shingles: expect the vast majority of injected pairs recovered.
    assert len(found) >= int(0.8 * n_injected), (len(found), n_injected)


def _minhash_pairs_column_dsl(df, id_col, text_col, k=32, bands=8, max_bucket=64):
    """Reference for ``minhash_candidate_pairs``, built independently from
    the Column-DSL ``shingles`` / ``minhash_signature`` builders: no
    fan-out, buckets keyed by a (band, band_hash) struct, and the pair
    expansion as nested lambdas."""
    rows = k // bands
    sig = df.select(
        F.col(id_col).alias("doc"),
        minhash_signature(shingles(text_col, 3), k).alias("sig"),
    )
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[sig.sig[b * rows + r] for r in range(rows)]).alias(
                            "bhash"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    )
    buckets = (
        banded.groupBy("bk")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
        .filter((F.size("docs") > 1) & (F.size("docs") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "docs",
                        lambda a: F.transform(
                            "docs",
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                ),
                lambda p: p.id_a < p.id_b,
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def test_minhash_signature_seeds_each_permutation(spark):
    """``minhash_signature`` entry i is the min over shingles of
    xxhash64(i, xxhash64(shingle)) — the permutation the SQL-built
    signature in ``minhash_candidate_pairs`` uses — not a per-position
    seed."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], "id int, text string"
    )
    sql = "array(" + ", ".join(
        f"array_min(transform(transform(sh, s -> xxhash64(s)), h -> xxhash64({i}, h)))"
        for i in range(4)
    ) + ")"
    r = df.select(shingles("text", 3).alias("sh")).select(
        minhash_signature(F.col("sh"), 4).alias("dsl"), F.expr(sql).alias("sql")
    ).first()
    assert r.dsl == r.sql and len(set(r.dsl)) == 4


def _exchanges_below(plan: str, marker: str) -> list[str]:
    """Exchange lines in the subtree of the first plan node containing
    ``marker`` (a node's children are the following lines indented deeper
    than it)."""
    lines = plan.splitlines()
    top = next(i for i, line in enumerate(lines) if marker in line)
    depth = lines[top].index("+-") if "+-" in lines[top] else 0
    below = []
    for line in lines[top + 1:]:
        if "+-" not in line or line.index("+-") <= depth:
            break
        below.append(line)
    return [line for line in below if "Exchange" in line]


def test_minhash_fans_out_one_partition_input_once(spark):
    """A one-partition ``localCheckpoint`` input (what AQE leaves after a
    small exact-dedup shuffle) is round-robined exactly once, below the
    signing projection, so signing runs on every core; the pairs equal the
    un-fanned Column-DSL reference's."""
    corpus, _ = _docs_with_neardups(spark)
    one = corpus.coalesce(1).localCheckpoint()
    assert one.rdd.getNumPartitions() == 1
    pairs = minhash_candidate_pairs(one, "doc_id", "text", k=32, bands=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan
    below = _exchanges_below(plan, "array_min(transform(")
    assert below and "RoundRobinPartitioning" in below[0], plan
    want = _minhash_pairs_column_dsl(one, "doc_id", "text")
    got = sorted(map(tuple, pairs.collect()))
    assert got == sorted(map(tuple, want.collect())) and got


def test_minhash_wide_scan_is_not_fanned_out(spark, tmp_path):
    """A scan with at least one split per core passes through untouched."""
    corpus, _ = _docs_with_neardups(spark)
    path = str(tmp_path / "wide")
    n = spark.sparkContext.defaultParallelism
    corpus.repartition(n).write.parquet(path)
    wide = spark.read.parquet(path)
    assert len(wide.inputFiles()) >= n
    pairs = minhash_candidate_pairs(wide, "doc_id", "text", k=32, bands=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan


def test_fan_out_is_idempotent(spark):
    """A frame already fanned out (under projections and filters) passes
    through ``fan_out`` unchanged, so a caller's fan-out and the
    operator's own plan one round-robin exchange, not two; a hash
    ``cols`` request still repartitions."""
    from scraping_jobsdb_spark.sources.tables import fan_out

    corpus, _ = _docs_with_neardups(spark)
    once = fan_out(corpus.coalesce(1).localCheckpoint())
    narrowed = once.select("doc_id", "text").filter("doc_id >= 0")
    assert fan_out(narrowed) is narrowed
    assert fan_out(once, cols=["doc_id"]) is not once
    pairs = minhash_candidate_pairs(narrowed, "doc_id", "text", k=32, bands=8)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan


def test_minhash_registry_query_shuffles_raw_rows_once(spark):
    """The registry query's plan holds one round-robin exchange: the
    operator's fan-out of its (id, text) input."""
    from scraping_jobsdb_spark.plans.queries import REGISTRY

    df = REGISTRY["minhash_neardup_pairs"].spark_fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan


def test_simhash_neardups_low_hamming(spark):
    corpus, near = _docs_with_neardups(spark)
    pairs = simhash_candidate_pairs(corpus, "doc_id", "text")
    injected = pairs.filter(
        (F.col("id_b") - 10000 == F.col("id_a")) & (F.col("hamming") <= 3)
    ).count()
    assert injected >= int(0.8 * near.count())


def test_simhash_hot_band_guard_bounds_fanin(spark):
    """The band-drop contract: a (chunk, value) bucket larger than
    max_bucket is dropped BEFORE the self-join, so a pathologically
    self-similar corpus (every doc identical → all four bands hot) emits
    zero candidates from the hot bands instead of n²/2 pairs — while
    distinct near-dup pairs in small buckets still emit. max_bucket=None
    disables the guard (the identical corpus then yields all pairs)."""
    same = [(i, "the same boilerplate text repeated verbatim") for i in range(40)]
    distinct_pair = [
        (100, "a genuinely unique document about owls and lighthouses"),
        (101, "a genuinely unique document about owls and lighthouses"),
    ]
    df = spark.createDataFrame(same + distinct_pair, "doc_id bigint, text string")
    guarded = simhash_candidate_pairs(df, "doc_id", "text", max_bucket=10)
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    assert (100, 101) in got        # small-bucket near-dups survive
    assert all(a >= 100 for a, _ in got)  # hot-band pairs never joined
    unguarded = simhash_candidate_pairs(df, "doc_id", "text", max_bucket=None)
    assert unguarded.count() >= 40 * 39 // 2  # the blow-up the guard stops


def test_ivf_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, query, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, query, n_centroids=10, n_probe=3, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # probing 3/10 cells of random embeddings


def test_np_topk_matches_expression_topk(spark):
    """GEMM path returns the same neighbor sets as the expression path."""
    from scraping_jobsdb_spark.operators.similarity import brute_force_topk_np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))
    expr_set = {
        (r.query_id, r.vec_id) for r in brute_force_topk(emb, query, k=10).collect()
    }
    np_set = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk_np(emb, query, k=10).collect()
    }
    assert expr_set == np_set


def test_embedding_neardup_finds_injected_duplicates(spark):
    """Exact-duplicate embeddings (cosine 1.0) are always found."""
    from scraping_jobsdb_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dupes = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup_pairs(emb.unionByName(dupes), threshold=0.99)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(5)} <= found


def test_exact_dedup_removes_all_duplicates(spark):
    from scraping_jobsdb_spark.operators.dedup import dedup_exact

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    dupes = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    deduped = dedup_exact(docs.unionByName(dupes), ["text"], "doc_id")
    assert deduped.count() == docs.count()
    # survivor is always the lowest id
    assert deduped.filter(F.col("doc_id") >= 10000).count() == 0


def test_tfidf_ranking_properties(spark):
    from scraping_jobsdb_spark.operators.textops import tfidf_top_terms
    from scraping_jobsdb_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    top = tfidf_top_terms(docs, k=3)
    rows = top.collect()
    n_docs = docs.count()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == n_docs
    for doc_rows in by_doc.values():
        assert 1 <= len(doc_rows) <= 3
        ranked = sorted(doc_rows, key=lambda r: r.rank)
        scores = [r.score for r in ranked]
        assert scores == sorted(scores, reverse=True)
    # a term present in every document can never outscore a unique term with
    # the same tf (idf monotonicity sanity)
    assert all(r.score > 0 for r in rows)


def test_sketch_aggregates_error_bounds(spark):
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.plans.queries import REGISTRY
    from scraping_jobsdb_spark.sources.tables import load_table

    approx = {
        r.event_type: r for r in REGISTRY["approx_distinct_sketch"]
        .spark_fn(spark, SF_SMOKE)
        .collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            # Spark's native sketches stay covered alongside the portable
            # oracled forms the query now ships
            F.approx_count_distinct("user_id", 0.02).alias("native_users"),
            F.percentile_approx("value", F.lit(0.5), 10000).alias(
                "native_p50"
            ),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        e = exact[et]
        # portable HLL (p=8, ~6.5% 1σ; small-range linear counting is
        # tighter) and KMV (exact below k=64, ~12.5% 1σ above)
        assert abs(a.est_users_hll - e.users) <= max(3, 0.2 * e.users)
        assert abs(a.est_users_kmv - e.users) <= max(3, 0.3 * e.users)
        # deterministic ~10% sample quantiles: value-space error is
        # unbounded on a skewed tail at smoke scale (n_sample ~ 16), so
        # assert in RANK space — the fraction of the full column at or
        # below the sampled p50 must sit within ±3σ of 0.5 for a
        # binomial(n_sample) rank draw
        n_vals = ev.filter(F.col("event_type") == et).count()
        frac = (
            ev.filter(
                (F.col("event_type") == et)
                & (F.col("value") <= a.value_p50)
            ).count()
            / n_vals
        )
        sd = 0.5 / (a.n_sample ** 0.5)
        assert 0.5 - 3 * sd <= frac <= 0.5 + 3 * sd
        # Spark's native estimators agree with exact within their bounds
        assert abs(e.native_users - e.users) <= max(2, 0.05 * e.users)
        assert abs(e.native_p50 - e.p50) <= max(1.0, 0.05 * abs(e.p50))


def test_dedup_pipeline_removes_injected_neardups(spark):
    from scraping_jobsdb_spark.plans.queries import REGISTRY
    from scraping_jobsdb_spark.sources.tables import load_table

    surviving = REGISTRY["dedup_pipeline_end_to_end"].spark_fn(spark, SF_SMOKE)
    ids = {r.doc_id for r in surviving.collect()}
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    n_injected = len([i for i in range(0, n_docs, 10)])
    # every (original, injected) near-dup pair collapses to one survivor;
    # false-positive LSH pairs may remove a handful more, never the majority
    assert len(ids) <= n_docs + n_injected - n_injected * 0.9
    assert len(ids) >= n_docs * 0.9
    # no injected id survives together with its original
    both = [i for i in range(0, n_docs, 10) if i in ids and (i + 10000) in ids]
    assert len(both) <= n_injected * 0.1


def test_int8_quantization_roundtrip_error_bound(spark):
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.operators.similarity import (
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )
    from scraping_jobsdb_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = quantize_embeddings_int8(emb)
    # codes fit int8 range
    code_bounds = q.select(
        F.array_max("codes").alias("hi"), F.array_min("codes").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).collect()[0]
    assert -127 <= code_bounds.lo and code_bounds.hi <= 127
    # per-component round-trip error <= scale/2
    back = dequantize_embeddings_int8(q).withColumnRenamed("embedding", "emb_q")
    joined = emb.join(back, "vec_id").join(q.select("vec_id", "scale"), "vec_id")
    worst = joined.select(
        (
            F.array_max(
                F.zip_with("embedding", "emb_q", lambda a, b: F.abs(a - b))
            )
            / F.col("scale")
        ).alias("rel_err")
    ).agg(F.max("rel_err").alias("m")).collect()[0].m
    assert worst <= 0.5 + 1e-6


def test_quantized_topk_recall(spark):
    """Recall vs the float-exact top-k for BOTH dequantize paths: the
    fixed-pow2-scale gate instance (the registry query, hash-oracled
    since r10) and the adaptive per-vector-scale production form (where
    dequantize rounding is real — the coverage the registry query's
    docstring promises lives here)."""
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.operators.similarity import (
        brute_force_topk,
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )
    from scraping_jobsdb_spark.plans.queries import REGISTRY
    from scraping_jobsdb_spark.sources.tables import load_table

    exact = REGISTRY["embedding_topk"].spark_fn(spark, SF_SMOKE).collect()

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    e = sets(exact)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    adaptive = dequantize_embeddings_int8(quantize_embeddings_int8(emb))
    adaptive_rows = brute_force_topk(
        adaptive, adaptive.filter(F.col("vec_id").isin(0, 100, 200)), k=10
    ).collect()

    for label, rows in (
        ("fixed-pow2", REGISTRY["embedding_quantized_topk"].spark_fn(spark, SF_SMOKE).collect()),
        ("adaptive", adaptive_rows),
    ):
        q = sets(rows)
        assert set(e) == set(q), label
        for qid in e:
            recall = len(e[qid] & q[qid]) / len(e[qid])
            assert recall >= 0.8, f"{label} query {qid}: recall {recall}"


def test_kmeans_fit_improves_over_seeding(spark):
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.operators.similarity import cosine, kmeans_fit
    from scraping_jobsdb_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = kmeans_fit(emb, n_centroids=8, max_iter=5)
    rows = cents.collect()
    assert len(rows) == 8
    dim = len(emb.select("embedding").first().embedding)
    assert all(len(r.centroid) == dim for r in rows)

    def mean_best_cos(cent_df):
        scored = emb.crossJoin(F.broadcast(cent_df)).select(
            "vec_id", cosine(F.col("embedding"), F.col("centroid")).alias("c")
        )
        return (
            scored.groupBy("vec_id").agg(F.max("c").alias("best"))
            .agg(F.avg("best")).collect()[0][0]
        )

    trained = mean_best_cos(cents)
    seeds = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    untrained = mean_best_cos(seeds)
    # training must not make the quantizer worse, and typically improves it
    assert trained >= untrained - 1e-9


def test_ivf_with_trained_centroids(spark):
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_fit,
    )
    from scraping_jobsdb_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 50, 150))
    cents = kmeans_fit(emb, n_centroids=8, max_iter=4)
    approx = ivf_topk(emb, query, n_probe=3, k=10, centroids=cents)
    exact = brute_force_topk(emb, query, k=10)

    def sets(rows):
        out = {}
        for r in rows:
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    a, e = sets(approx.collect()), sets(exact.collect())
    assert set(a) == set(e)
    for qid in e:
        recall = len(a[qid] & e[qid]) / len(e[qid])
        assert recall >= 0.5, f"query {qid}: recall {recall}"


def test_kmeans_empty_cells_carried_forward(spark):
    from scraping_jobsdb_spark.operators.similarity import kmeans_fit

    # 40 near-identical vectors: most cells receive zero assignments after
    # round 1, yet the result must still have exactly n_centroids cells.
    rows = [(i, [1.0, 0.0, 0.0, float(i % 2) * 1e-6]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = kmeans_fit(corpus, n_centroids=8, max_iter=3)
    got = cents.collect()
    assert len(got) == 8
    assert sorted(r.cell for r in got) == list(range(8))
    assert all(len(r.centroid) == 4 for r in got)


def test_lsh_neardup_pairs_equal_all_pairs(spark):
    """The banded form must return EXACTLY the all-pairs result on the gate
    datasets (fixed planes -> deterministic; verified here, stays verified)."""
    from scraping_jobsdb_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )
    from tests.conftest import SF_CORRECT

    for sf in (SF_SMOKE, SF_CORRECT):
        emb = load_table(spark, sf, "embeddings")
        exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(emb, 0.5).collect()}
        banded = {
            (r.id_a, r.id_b) for r in embedding_neardup_pairs_lsh(emb, 0.5).collect()
        }
        assert banded == exact, (sf, banded ^ exact)


def test_lsh_arrow_path_equals_expression_path(spark):
    """arrow_signatures=True (numpy matmul signatures + vectorized verify)
    must return the same pair set as the Catalyst-expression form at the
    same banding — the Arrow path changes the physical kernels only. Run at
    deployed banding (rows_per_band=8) and the default (2), with injected
    near-dups so the pair set is non-trivial."""
    from scraping_jobsdb_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    near = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.5)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(near)
    for r in (2, 8):
        expr = {
            (x.id_a, x.id_b)
            for x in embedding_neardup_pairs_lsh(
                corpus, 0.9, rows_per_band=r
            ).collect()
        }
        arrow = {
            (x.id_a, x.id_b)
            for x in embedding_neardup_pairs_lsh(
                corpus, 0.9, rows_per_band=r, arrow_signatures=True
            ).collect()
        }
        assert arrow == expr, (r, arrow ^ expr)
        assert len(arrow) > 0


def test_blocked_neardup_pairs_equal_all_pairs(spark):
    """The blocked-GEMM form must return EXACTLY the all-pairs result, both
    single-block and multi-block (small block_rows forces cross-block and
    same-block group paths)."""
    from scraping_jobsdb_spark.operators.similarity import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_blocked,
    )
    from tests.conftest import SF_CORRECT

    for sf in (SF_SMOKE, SF_CORRECT):
        emb = load_table(spark, sf, "embeddings")
        exact = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(emb, 0.5).collect()}
        for block_rows in (100, 10**6):
            got = {
                (r.id_a, r.id_b)
                for r in embedding_neardup_pairs_blocked(
                    emb, 0.5, block_rows=block_rows
                ).collect()
            }
            assert got == exact, (sf, block_rows, got ^ exact)


def test_blocked_neardup_finds_injected_duplicates(spark):
    """Injected exact duplicates (cos 1.0) always surface, across blocks."""
    from scraping_jobsdb_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dupes = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup_pairs_blocked(
        emb.unionByName(dupes), threshold=0.99, block_rows=64
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(5)} <= found


def test_lsh_bucket_verify_blocks_keep_cross_block_pairs(spark):
    """A (band, sig) bucket LARGER than the verify block size must emit
    every qualifying pair regardless of how the group's arbitrary row
    order relates to id order. Regression: the off-diagonal blocks of the
    in-bucket GEMM see each cross-block index pair in only one
    orientation, so the old ``ga < gb`` value filter silently dropped the
    pair whenever row order disagreed with id order (sub-block buckets
    compute both orientations and were unaffected)."""
    from scraping_jobsdb_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    n, dim = 120, 8
    base = [((i * 7919) % 1000) / 1000.0 - 0.5 for i in range(dim)]
    rows = []
    for i in range(n):
        vid = (i * 37) % n  # id order decorrelated from build order
        rows.append((vid, [b + vid * 1e-9 for b in base]))
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # Every vector is near-identical -> one giant bucket per band; with
    # verify_block_rows=16 that bucket spans ~8 GEMM blocks.
    got = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs_lsh(
            corpus, 0.99, dim=dim, verify_block_rows=16
        ).collect()
    }
    expected = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert got == expected, f"missing {len(expected - got)}, extra {len(got - expected)}"


def test_lsh_neardup_high_threshold_finds_injected(spark):
    """At real near-dup thresholds the banding is sparse AND complete:
    injected exact duplicates (cos 1.0) are always candidates."""
    from scraping_jobsdb_spark.operators.similarity import embedding_neardup_pairs_lsh

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dupes = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup_pairs_lsh(emb.unionByName(dupes), threshold=0.99)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(5)} <= found


def test_pq_roundtrip_and_recall(spark):
    """Product quantization: codebook shape, code range, and ADC+refine
    recall vs brute force on the real embeddings table."""
    from scraping_jobsdb_spark.operators.pq import pq_encode, pq_topk, pq_train

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=4)
    assert len(codebook) == 8 and all(len(cb) == 16 for cb in codebook)
    assert all(len(c) == 8 for cb in codebook for c in cb)

    codes = pq_encode(emb, codebook)
    stats = codes.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(F.min("m"), F.max("m"), F.min("lo"), F.max("hi")).collect()[0]
    assert stats[0] == 8 == stats[1]
    assert stats[2] >= 0 and stats[3] <= 15

    query = emb.filter(F.col("vec_id").isin(0, 100, 200))
    exact = {
        (r.query_id, r.vec_id) for r in brute_force_topk(emb, query, k=10).collect()
    }
    refined = {
        (r.query_id, r.vec_id)
        for r in pq_topk(
            codes, codebook, query, k=10, refine_with=emb, refine_factor=4
        ).collect()
    }
    recall = len(exact & refined) / len(exact)
    assert recall >= 0.6, recall  # 8-byte codes + 4x refine on random vectors
    # deterministic: a second run returns the identical set
    refined2 = {
        (r.query_id, r.vec_id)
        for r in pq_topk(
            codes, codebook, query, k=10, refine_with=emb, refine_factor=4
        ).collect()
    }
    assert refined == refined2


def test_winnowing_fingerprints_properties(spark):
    """Winnowing invariants: deterministic across runs, identical docs get
    identical sketches, near-identical docs share most fingerprints, and
    the trailing-window rule selects at least one gram per w positions."""
    from scraping_jobsdb_spark.operators.textops import winnowing_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text with other content here"),
        (5, "tiny"),  # shorter than k=8 after normalization -> no grams
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.n_fingerprints, r.fp_sum)
           for r in winnowing_fingerprints(docs, k=8, w=4).collect()}
    # exact duplicates -> identical sketch
    assert out[1] == out[2]
    # doc shorter than k has no fingerprint row
    assert 5 not in out
    # determinism across runs
    again = {r.doc_id: (r.n_fingerprints, r.fp_sum)
             for r in winnowing_fingerprints(docs, k=8, w=4).collect()}
    assert out == again
    # coverage guarantee: >= 1 selection per w grams (selected set size
    # >= n_grams / w before dedup; dedup can only merge equal hashes)
    text1 = rows[0][1]
    n_grams = len(text1) - 8 + 1
    assert out[1][0] >= 1 and out[1][0] <= n_grams
    # distinct content -> distinct sketch (hash-level overlap of near-dups
    # is exercised end-to-end by the oracle-checked gate query)
    assert out[1] != out[4]
    assert out[1] != out[3]


def test_fingerprint_containment_finds_injected_near_dups(spark):
    """A doc truncated by one word must pair with its original at >= 80%
    containment of the (pruned) smaller fingerprint set; unrelated docs
    must not pair."""
    from scraping_jobsdb_spark.operators.textops import (
        fingerprint_containment_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly in the plain and the band played on"
    )
    rows = [
        (1, base),
        (2, base.rsplit(" ", 1)[0]),  # near-dup: last word dropped
        (3, "entirely unrelated content about database query optimizers "
            "and the cost models they use for join ordering decisions"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in fingerprint_containment_pairs(
            docs, threshold_milli=800, max_df=50
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_redact_pii_replaces_and_counts(spark):
    """Each PII class is replaced by its token and counted; clean text
    passes through untouched with zero counts."""
    from scraping_jobsdb_spark.operators.textops import redact_pii

    rows = [
        (1, "mail a.b+c@ex-ample.org or admin@site.io, host 10.0.3.7 up"),
        (2, "call +44 123 4567 89 twice: +1 555 0123 45"),
        (3, "no pii here, just 1.2 ratios and version 10.4"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].n_email == 2 and out[1].n_ip == 1 and out[1].n_phone == 0
    assert out[1].text_redacted == "mail <EMAIL> or <EMAIL>, host <IP> up"
    assert out[2].n_phone == 2
    assert out[2].text_redacted == "call <PHONE> twice: <PHONE>"
    assert (out[3].n_email, out[3].n_ip, out[3].n_phone) == (0, 0, 0)
    assert out[3].text_redacted == rows[2][1]


def test_repetition_stats_counts_duplicate_trigrams(spark):
    """A doc that repeats a phrase shows n_grams > n_distinct_grams; a
    doc with no repeated trigram shows equality; docs shorter than n
    produce no row."""
    from scraping_jobsdb_spark.operators.textops import repetition_stats

    rows = [
        (1, "spam spam spam spam spam spam"),           # 4 grams, 1 distinct
        (2, "one two three four five"),                 # 3 grams, 3 distinct
        (3, "too short"),                               # no complete trigram
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: (r.n_grams, r.n_distinct_grams)
           for r in repetition_stats(docs, n=3).collect()}
    assert out[1] == (4, 1)
    assert out[2] == (3, 3)
    assert 3 not in out


def test_top_ngrams_rank_and_tiebreak(spark):
    """Counts aggregate across docs; ties rank lexicographically; the cut
    keeps exactly k rows."""
    from scraping_jobsdb_spark.operators.textops import top_ngrams

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "zeta eta theta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = [(r.gram, r.n_occurrences, r.rank)
           for r in top_ngrams(docs, n=3, k=3).collect()]
    assert out[0] == ("alpha beta gamma", 2, 1)
    assert len(out) == 3 and [r[2] for r in out] == [1, 2, 3]
    # ties (count=1) order lexicographically
    assert out[1][0] < out[2][0]


def test_chunk_documents_windows_and_edges(spark):
    """Chunk starts advance by chunk_size-overlap; consecutive chunks share
    exactly `overlap` words; short docs yield themselves as chunk 0; the
    last chunk may be short but never empty."""
    import pytest as _pytest

    from scraping_jobsdb_spark.operators.textops import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    rows = [(1, text), (2, "tiny doc"), (3, "one")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {}
    for r in chunk_documents(docs, chunk_size=4, overlap=2).collect():
        out.setdefault(r.doc_id, []).append((r.chunk_id, r.n_words, r.chunk_text))
    # doc 1: starts 0,2,4,6,8 -> 5 chunks, last has 2 words
    chunks = sorted(out[1])
    assert [c[0] for c in chunks] == [0, 1, 2, 3, 4]
    assert chunks[0][2] == "w0 w1 w2 w3" and chunks[1][2] == "w2 w3 w4 w5"
    assert chunks[-1] == (4, 2, "w8 w9")
    # every consecutive pair overlaps by exactly 2 words
    for a, b in zip(chunks, chunks[1:]):
        assert a[2].split()[-2:] == b[2].split()[:2]
    assert out[2] == [(0, 2, "tiny doc")]
    assert out[3] == [(0, 1, "one")]
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_size=4, overlap=4)


def test_hll_mergeable_sketches_merge_invariance(spark):
    """The law that makes sketches re-aggregable: the union of per-day
    partial sketches estimates EXACTLY what one sketch over all the data
    estimates (HLL register lattices — union of parts == whole), and both
    land within 5% of the exact distinct count. Exercises the NATIVE
    DataSketches surface (`hll_sketch_agg` → `hll_union_agg` →
    `hll_sketch_estimate`) directly — the registered
    hll_mergeable_sketches query covers the same partial→merge rollup in
    the oracle-able portable-register domain."""
    from scraping_jobsdb_spark.sources.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    merged = {
        r.event_type: r.est_users
        for r in ev.groupBy("event_type", F.dayofmonth("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
        )
        .collect()
    }
    single = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert merged == single  # merge invariance, bit-exact
    for et, est in merged.items():
        assert abs(est - exact[et]) <= max(2, 0.05 * exact[et]), (et, est, exact[et])


def test_winnowing_fingerprint_formula_vs_python_reference(spark):
    """Pin the hash formula + selection rule against an independent Python
    reference, so the engine-side implementation can be rewritten (e.g. the
    char-window -> map-only array form) without the sketch silently
    drifting: every (doc, h) pair must match exactly."""
    from scraping_jobsdb_spark.operators.textops import (
        WINNOW_BASE,
        WINNOW_MOD,
        winnowing_fingerprint_set,
    )

    import re

    def ref_fps(text, k=8, w=4):
        s = re.sub(r"\s+", " ", text.strip().lower())
        n = len(s)
        if n < k:
            return set()
        hs = []
        for i in range(n - k + 1):
            h = 0
            for j in range(k):
                h = (h + ord(s[i + j]) * pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD)) % WINNOW_MOD
            hs.append(h)
        out = set()
        for i, h in enumerate(hs):
            if h == min(hs[max(0, i - w + 1): i + 1]):
                out.add(h)
        return out

    rows = [
        (1, "The  Quick   brown fox\tjumps over the lazy dog"),
        (2, "abcdefgh"),                 # exactly k chars -> one gram
        (3, "abcdefg"),                  # k-1 chars -> empty set
        (4, "zzzzzzzzzzzzzzzzzzzzzzzz"), # all-equal hashes -> heavy dedup
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got: dict[int, set] = {}
    for r in winnowing_fingerprint_set(docs).collect():
        got.setdefault(r.doc_id, set()).add(r.h)
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == ref_fps(text), f"doc {doc_id}"


def test_minhash_portable_finds_injected_near_dups(spark):
    """The md5-permutation LSH must band truncated copies with their
    originals (same recall property as the xxhash64 form), and repeated
    builds must agree exactly (the portability contract)."""
    from scraping_jobsdb_spark.operators.similarity import (
        minhash_candidate_pairs_portable,
    )
    from scraping_jobsdb_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    corpus = docs.unionByName(near)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs_portable(
            corpus, "doc_id", "text", k=16, bands=4
        ).collect()
    }
    injected = {r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    found = sum(1 for d in injected if (d, d + 10000) in pairs)
    assert found / max(len(injected), 1) >= 0.8
    again = {
        (r.id_a, r.id_b)
        for r in minhash_candidate_pairs_portable(
            corpus, "doc_id", "text", k=16, bands=4
        ).collect()
    }
    assert pairs == again


def test_simhash_portable_finds_injected_near_dups(spark):
    """Portable-simhash banding must surface truncated copies within
    Hamming <= 3 of their originals, and repeated builds agree exactly."""
    from scraping_jobsdb_spark.operators.similarity import (
        simhash_candidate_pairs_portable,
    )
    from scraping_jobsdb_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    corpus = docs.unionByName(near)
    out = simhash_candidate_pairs_portable(corpus, "doc_id", "text")
    close = {(r.id_a, r.id_b) for r in out.filter(F.col("hamming") <= 3).collect()}
    injected = {r.doc_id for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    found = sum(1 for d in injected if (d, d + 10000) in close)
    # 0.7, not the hot path's 0.8: the portable fingerprint is 60-bit (15
    # md5 hex chars), so one truncated word flips a slightly larger
    # fraction of bits than under the 64-bit xxhash64 form (78% on this
    # corpus; deterministic, margin left for testdata regeneration)
    assert found / max(len(injected), 1) >= 0.7
    again = {(r.id_a, r.id_b) for r in out.filter(F.col("hamming") <= 3).collect()}
    assert close == again


def test_ivfpq_recall_and_determinism(spark):
    """IVF-PQ composition: coarse-pruned ADC + exact re-rank reaches
    brute-force recall comparable to its parents on the real embeddings
    table, and repeat runs return the identical neighbor set."""
    from scraping_jobsdb_spark.operators.pq import ivfpq_topk, pq_train

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=4)
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))
    exact = {
        (r.query_id, r.vec_id) for r in brute_force_topk(emb, query, k=10).collect()
    }
    run = lambda: {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk(
            emb, query, codebook, n_centroids=10, n_probe=3, k=10, refine_factor=4
        ).collect()
    }
    got = run()
    recall = len(exact & got) / len(exact)
    # coarse pruning (3/10 cells) * PQ candidates: recall floor matches the
    # weaker of the two parents (ivf >= 0.5 at the same probe settings)
    assert recall >= 0.4, recall
    assert got == run()


def test_ann_index_persisted_equals_inmemory_and_prunes(spark, tmp_path):
    """write_ann_index + ann_index_topk: (1) identical rows to ivfpq_topk
    under the same codebook/centroids, (2) the probe scan's PartitionFilters
    prune to the probed cells — the codes directories for other cells are
    never read (the at-scale point of the cell-partitioned layout)."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_topk,
        ivfpq_topk,
        pq_train,
        write_ann_index,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    # pin the centroids so both paths share the coarse quantizer exactly
    cents = (
        _seed_centroids(emb, 10, "vec_id", "embedding")
        .selectExpr("CAST(vec_id AS INT) AS cell", "CAST(embedding AS ARRAY<DOUBLE>) AS centroid")
    )
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))

    path = str(tmp_path / "ann")
    write_ann_index(emb, path, codebook, centroids=cents)
    from_index = ann_index_topk(
        spark, path, query, n_probe=3, k=10, refine_factor=4, refine_with=emb
    )
    in_memory = ivfpq_topk(
        emb, query, codebook, n_probe=3, k=10, refine_factor=4, centroids=cents
    )
    a = sorted((r.query_id, r.vec_id, r.rank) for r in from_index.collect())
    b = sorted((r.query_id, r.vec_id, r.rank) for r in in_memory.collect())
    assert a == b and len(a) == 30

    # partition pruning: the single-query probe plan reads only probed cells
    one = emb.filter(F.col("vec_id") == 0)
    plan = (
        ann_index_topk(spark, path, one, n_probe=3, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]


def test_cell_expr_zero_vector_matches_driver_probe(spark):
    """Degenerate (all-zero) vectors: the executor-side cell expression and
    the driver-side probe scorer must agree — both score 0 against every
    centroid (no NaN / div-by-zero) and tie-break to the LOWEST cell id."""
    from scraping_jobsdb_spark.operators.pq import _cell_expr, _probe_cells

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    rows = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", _cell_expr(cents, "embedding").alias("cell")
        ).collect()
    }
    assert rows[1] == 0  # zero vector: all cosines 0, lowest cell id wins
    assert rows[2] == 1
    assert _probe_cells([0.0, 0.0], cents, n_probe=1) == [rows[1]]
    assert _probe_cells([0.0, 2.0], cents, n_probe=1) == [rows[2]]


def test_quantized_domain_topk_recall(spark):
    """Int8-domain cosine ranks (scores from codes alone, scales cancelled)
    track the float-exact top-k closely, and repeat runs are identical."""
    from scraping_jobsdb_spark.operators.similarity import quantized_cosine_topk

    emb = load_table(spark, SF_SMOKE, "embeddings")
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))
    exact = {}
    for r in brute_force_topk(emb, query, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in quantized_cosine_topk(emb, query, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    for qid in exact:
        recall = len(exact[qid] & got[qid]) / len(exact[qid])
        assert recall >= 0.8, f"query {qid}: recall {recall}"
    again = {
        (r.query_id, r.vec_id, r.rank)
        for r in quantized_cosine_topk(emb, query, k=10).collect()
    }
    first = {
        (r.query_id, r.vec_id, r.rank)
        for r in quantized_cosine_topk(emb, query, k=10).collect()
    }
    assert again == first


def test_label_centroids_exact_and_classify_deterministic(spark):
    """Centroids equal a numpy double-precision mean exactly (decimal sums
    + one double division); classification is a pure map that (a) repeats
    identically, (b) assigns a centroid's own value to its label, and
    (c) zero vectors get the lowest label (all cosines 0, tie-break)."""
    import numpy as np

    from scraping_jobsdb_spark.operators.similarity import (
        label_centroids,
        nearest_centroid_classify,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = label_centroids(emb, dim=64)
    got = {r.label: np.array(r.centroid) for r in cents.collect()}
    pdf = emb.toPandas()
    for lbl, arr in got.items():
        rows = np.array(
            [list(v) for v in pdf[pdf.label == lbl].embedding], dtype=np.float64
        )
        # decimal-exact sum then one double division == numpy's pairwise
        # sum only up to ulps; compare at 1e-12 (the documented contract
        # is cross-PARTITIONING exactness, pinned below by re-run)
        assert np.allclose(rows.sum(axis=0) / len(rows), arr, atol=1e-12), lbl
    # cross-partitioning exactness: same values from a different layout
    re = {
        r.label: list(r.centroid)
        for r in label_centroids(emb.repartition(13), dim=64).collect()
    }
    assert all(re[k] == list(v) for k, v in got.items())

    # classify the centroids themselves: each must get its own label
    pred = {
        r.vec_id: r.pred_label
        for r in nearest_centroid_classify(
            cents.select(
                F.col("label").cast("bigint").alias("vec_id"),
                F.col("centroid").alias("embedding"),
            ),
            cents,
        ).collect()
    }
    assert all(pred[lbl] == lbl for lbl in got)
    # zero vector: every cosine 0 after the vnorm guard -> lowest label
    z = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    assert nearest_centroid_classify(z, cents).collect()[0].pred_label == min(got)


def test_ann_index_add_equals_rebuild(spark, tmp_path):
    """Incremental index admission: write the index over half the corpus,
    ann_index_add the other half — probes return row-identical results to
    an index built over the full corpus in one shot (the stored quantizer
    is shared, so codes and cell assignments agree exactly)."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_add,
        ann_index_topk,
        pq_train,
        write_ann_index,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(emb, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))

    p_inc = str(tmp_path / "inc")
    write_ann_index(half_a, p_inc, codebook, centroids=cents)
    ann_index_add(spark, p_inc, half_b)
    p_full = str(tmp_path / "full")
    write_ann_index(emb, p_full, codebook, centroids=cents)

    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(
            spark, p_inc, query, n_probe=3, k=10, refine_factor=4, refine_with=emb
        ).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(
            spark, p_full, query, n_probe=3, k=10, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert got == want and len(got) == 30


def test_ann_index_ragged_codebook_and_dup_guard(spark, tmp_path):
    """(1) A RAGGED codebook (sub-codebooks of differing length — legal in
    write_ann_index) must round-trip through ann_index_add and
    ann_index_topk: the side-table loader rebuilds per-subspace cell lists
    from what was stored instead of assuming a dense global max-cell
    rectangle (which raised KeyError). (2) dedupe_ids=True skips newcomers
    whose id is already indexed; the default documents duplicate admission."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_add,
        ann_index_topk,
        pq_train,
        write_ann_index,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=4, k=8, max_iter=2)
    codebook = [sub[: 8 - j] for j, sub in enumerate(codebook)]  # ragged: 8,7,6,5
    cents = _seed_centroids(emb, 6, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    query = emb.filter(F.col("vec_id").isin(0, 100))

    path = str(tmp_path / "ragged")
    write_ann_index(half_a, path, codebook, centroids=cents)
    ann_index_add(spark, path, half_b)  # KeyError before the fix
    p_full = str(tmp_path / "ragged_full")
    write_ann_index(emb, p_full, codebook, centroids=cents)
    got2 = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(spark, path, query, n_probe=3, k=5).collect()
    )
    want2 = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(spark, p_full, query, n_probe=3, k=5).collect()
    )
    assert got2 == want2 and len(got2) == 10

    # duplicate-id guard: re-adding an already-indexed slice with
    # dedupe_ids=True admits nothing (code-row count unchanged)
    import os

    codes_path = os.path.join(path, "codes")
    n_before = spark.read.parquet(codes_path).count()
    ann_index_add(spark, path, half_b.limit(20), dedupe_ids=True)
    assert spark.read.parquet(codes_path).count() == n_before


def test_ann_index_txn_equals_plain_and_skips_files(spark, tmp_path):
    """The transactional index returns row-identical probes to the plain
    directory layout under the same quantizer, and its probe reads a strict
    subset of the codes table's files (manifest-stats file skipping over
    the range-partitioned cell layout — the txn equivalent of partition
    pruning)."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_topk,
        ann_index_txn_topk,
        pq_train,
        write_ann_index,
        write_ann_index_txn,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids
    from scraping_jobsdb_spark.sources.txn import TxnTable

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(emb, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    query = emb.filter(F.col("vec_id").isin(0, 100, 200))

    p_plain = str(tmp_path / "plain")
    p_txn = str(tmp_path / "txn")
    write_ann_index(emb, p_plain, codebook, centroids=cents)
    write_ann_index_txn(emb, p_txn, codebook, centroids=cents, target_files=8)

    a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(
            spark, p_plain, query, n_probe=3, k=10, refine_factor=4, refine_with=emb
        ).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk(
            spark, p_txn, query, n_probe=3, k=10, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert a == b and len(a) == 30

    # file skipping: a one-cell pruned read keeps strictly fewer files
    codes_t = TxnTable(spark, str(tmp_path / "txn" / "codes"))
    all_files = codes_t._manifest()["files"]
    kept = codes_t.pruned_files("cell", 0, 0)
    assert len(all_files) > 1
    assert 0 < len(kept) < len(all_files)


def test_ann_index_txn_add_stream_delete_timetravel(spark, tmp_path):
    """Lifecycle of the transactional index: (1) add-after-train equals a
    one-shot build; (2) streaming admission is epoch-idempotent; (3) MoR
    vector deletion removes ids from probes without rewriting data, while
    a time-travel probe at the pre-delete version still sees them;
    (4) maintenance compaction materializes the DVs and preserves results."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_txn_add,
        ann_index_txn_add_stream_batch,
        ann_index_txn_delete,
        ann_index_txn_maintain,
        ann_index_txn_topk,
        pq_train,
        write_ann_index_txn,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids
    from scraping_jobsdb_spark.sources.txn import TxnTable

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(emb, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    query = emb.filter(F.col("vec_id").isin(0, 100))

    p_inc = str(tmp_path / "inc")
    p_full = str(tmp_path / "full")
    write_ann_index_txn(half_a, p_inc, codebook, centroids=cents)
    ann_index_txn_add(spark, p_inc, half_b)
    write_ann_index_txn(emb, p_full, codebook, centroids=cents)

    def probe(path, version=None):
        return sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in ann_index_txn_topk(
                spark, path, query, n_probe=3, k=10, refine_factor=4,
                refine_with=emb, version=version,
            ).collect()
        )

    assert probe(p_inc) == probe(p_full)

    # (2) epoch-idempotent streaming admission
    codes_t = TxnTable(spark, str(tmp_path / "inc" / "codes"))
    extra = emb.filter(F.col("vec_id") < 0)  # empty batch is fine too
    n1 = ann_index_txn_add_stream_batch(spark, p_inc, half_b.limit(5), epoch_id=7)
    v_after = codes_t.version()
    n2 = ann_index_txn_add_stream_batch(spark, p_inc, half_b.limit(5), epoch_id=7)
    assert n2 == 0 and codes_t.version() == v_after  # replay no-op
    assert n1 > 0
    del extra

    # (3) MoR deletion: top neighbor of query 0 disappears from the probe
    pre_delete_version = codes_t.version()
    victim = next(v for (q, v, r) in probe(p_inc) if q == 0)
    files_before = codes_t._manifest()["files"]
    assert ann_index_txn_delete(spark, p_inc, F.col("vec_id") == victim) > 0
    assert codes_t._manifest()["files"] == files_before  # no data rewrite
    assert victim not in {v for (_, v, _) in probe(p_inc)}
    assert victim in {v for (_, v, _) in probe(p_inc, version=pre_delete_version)}

    # (4) maintenance: force a rewrite, DVs materialize, results unchanged
    want = probe(p_inc)
    n_files = ann_index_txn_maintain(spark, p_inc, max_files=1)
    assert n_files is not None
    assert not codes_t._manifest().get("dvs")  # compaction dropped the DVs
    assert probe(p_inc) == want


def test_ann_batch_probe_equals_per_query_both_layouts(spark, tmp_path):
    """The batch scorers must be ROW-IDENTICAL to the per-query forms on
    both index layouts: same probe cells, bit-identical ADC scores (the
    batch path computes each query's lookup table with the same
    Python-float arithmetic _adc_score bakes into literals, and accumulates
    subspace terms in the same left-assoc order), shared top-k/refine tail.
    The batch plan is O(1) in query count — one pruned scan + one broadcast
    join instead of Q unioned subplans."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_topk,
        ann_index_topk_batch,
        ann_index_txn_topk,
        ann_index_txn_topk_batch,
        pq_train,
        write_ann_index,
        write_ann_index_txn,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(emb, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    query = emb.filter(F.col("vec_id") < 20)  # 20 queries

    p_plain = str(tmp_path / "bp")
    write_ann_index(emb, p_plain, codebook, centroids=cents)
    a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(
            spark, p_plain, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk_batch(
            spark, p_plain, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert a == b and len(a) == 100

    p_txn = str(tmp_path / "bt")
    write_ann_index_txn(emb, p_txn, codebook, centroids=cents, target_files=8)
    c = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk(
            spark, p_txn, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    d = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk_batch(
            spark, p_txn, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert c == d == a  # layouts AND scorers all agree

    # no-refine path too (pure ADC ranks)
    e = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(spark, p_plain, query, n_probe=3, k=5).collect()
    )
    f_ = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk_batch(spark, p_plain, query, n_probe=3, k=5).collect()
    )
    assert e == f_


def test_ann_batch_probe_string_ids(spark, tmp_path):
    """The batch scorer derives id types from the frames (ADVICE r6: it
    hard-coded bigint, breaking string-id corpora despite the per-query
    form being type-agnostic). Parity must hold for a string-id index on
    both the plain and txn layouts, refine and no-refine."""
    from scraping_jobsdb_spark.operators.pq import (
        ann_index_topk,
        ann_index_topk_batch,
        ann_index_txn_topk,
        ann_index_txn_topk_batch,
        pq_train,
        write_ann_index,
        write_ann_index_txn,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids

    base = load_table(spark, SF_SMOKE, "embeddings")
    emb = base.select(
        F.concat(F.lit("doc-"), F.format_string("%05d", "vec_id")).alias("vec_id"),
        "embedding",
    )
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(base, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    query = emb.orderBy("vec_id").limit(10)

    p_plain = str(tmp_path / "sp")
    write_ann_index(emb, p_plain, codebook, centroids=cents)
    a = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(
            spark, p_plain, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk_batch(
            spark, p_plain, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert a == b and len(a) == 50
    assert all(isinstance(q, str) and isinstance(v, str) for q, v, _ in a)
    f_ = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk_batch(spark, p_plain, query, n_probe=3, k=5).collect()
    )
    e = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_topk(spark, p_plain, query, n_probe=3, k=5).collect()
    )
    assert e == f_

    p_txn = str(tmp_path / "st")
    write_ann_index_txn(emb, p_txn, codebook, centroids=cents, target_files=8)
    c = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk(
            spark, p_txn, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    d = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk_batch(
            spark, p_txn, query, n_probe=3, k=5, refine_factor=4, refine_with=emb
        ).collect()
    )
    assert c == d == a


def test_ann_txn_timetravel_rejects_retrained_quantizer(spark, tmp_path):
    """A time-travel probe under RETRAINED side tables would silently
    decode historical codes against the new codebook (ADVICE r6) — the
    loader must raise instead. Current-version probes keep working, and
    the codes table's public file-count accessor matches the manifest."""
    import pytest

    from scraping_jobsdb_spark.operators.pq import (
        ann_index_txn_topk,
        pq_train,
        write_ann_index_txn,
    )
    from scraping_jobsdb_spark.operators.similarity import _seed_centroids
    from scraping_jobsdb_spark.sources.txn import TxnTable

    emb = load_table(spark, SF_SMOKE, "embeddings")
    codebook = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _seed_centroids(emb, 10, "vec_id", "embedding").selectExpr(
        "CAST(vec_id AS INT) AS cell",
        "CAST(embedding AS ARRAY<DOUBLE>) AS centroid",
    )
    p = str(tmp_path / "rt")
    write_ann_index_txn(emb, p, codebook, centroids=cents, target_files=4)
    query = emb.filter(F.col("vec_id") < 3)
    codes_t = TxnTable(spark, str(tmp_path / "rt" / "codes"))
    v1 = codes_t.version()

    # pristine quantizer: time travel works
    pre = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ann_index_txn_topk(spark, p, query, k=5, version=v1).collect()
    )
    assert len(pre) == 15

    # public accessor agrees with the manifest
    n_files, n_dvs = codes_t.snapshot_file_counts()
    assert n_files == len(codes_t._manifest()["files"]) and n_dvs == 0

    # "retrain in place": any commit to a side table after creation
    cent_t = TxnTable(spark, str(tmp_path / "rt" / "centroids"))
    cent_t.overwrite(cent_t.read())
    with pytest.raises(ValueError, match="RETRAINED"):
        ann_index_txn_topk(spark, p, query, k=5, version=v1)
    # current-version probe still allowed (caller owns retrain protocol)
    assert ann_index_txn_topk(spark, p, query, k=5).count() == 15


def test_semantic_dedup_keep_list_semantics(spark):
    """Hand-checkable SemDeDup verdicts: (1) a lower-id in-cell near-dup
    drops the higher id; (2) near-identical vectors in DIFFERENT cells are
    both kept (the rule is in-cell only, by design); (3) the drop rule is
    non-transitive pairwise (every id with ANY smaller similar in-cell id
    drops); (4) one row per input vector, repartition-stable."""
    from scraping_jobsdb_spark.operators.similarity import (
        semantic_dedup_keep_list,
    )

    # two well-separated cells on the x/y axes
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "label int, centroid array<double>",
    )
    rows = [
        (1, [1.0, 0.01, 0.0]),   # cell 0 senior
        (2, [1.0, 0.011, 0.0]),  # ~dup of 1, same cell -> dropped
        (3, [1.0, 0.012, 0.0]),  # ~dup of 1 AND 2 -> dropped
        (4, [0.0, 1.0, 0.01]),   # cell 1 senior
        (5, [0.0, 1.0, 0.011]),  # ~dup of 4, same cell -> dropped
        (6, [0.7, 0.714, 0.0]),  # near the cell boundary, unique -> kept
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_keep_list(corpus, cents, threshold=0.99).collect()
    }
    assert len(got) == 6
    assert got[1] == (0, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (1, True)
    assert got[5] == (1, False)
    assert got[6][1] is True

    # cross-cell near-identical pair: both kept (in-cell rule only)
    rows2 = [
        (10, [0.708, 0.706, 0.0]),  # argmin ties/boundary: cell by cosine
        (11, [0.706, 0.708, 0.0]),
    ]
    corpus2 = spark.createDataFrame(rows2, "vec_id bigint, embedding array<double>")
    got2 = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_keep_list(corpus2, cents, threshold=0.9).collect()
    }
    assert got2[10] == (0, True) and got2[11] == (1, True)

    # repartition-stable (quantized cosines, no RNG)
    got_rp = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_keep_list(
            corpus.repartition(7), cents, threshold=0.99
        ).collect()
    }
    assert got_rp == got


def test_semantic_dedup_with_kmeans_cells_drops_injected(spark):
    """The production composition: kmeans_fit centroids (not the oracle
    query's label-derived ones) feed semantic_dedup_keep_list. Injected
    exact duplicates land in the same cell as their source by construction
    (identical vectors ⇒ identical argmin) and must be dropped; their
    lower-id sources must be kept."""
    from scraping_jobsdb_spark.operators.similarity import (
        kmeans_fit,
        semantic_dedup_keep_list,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    dupes = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)
    cents = kmeans_fit(emb, n_centroids=8, max_iter=3).select(
        F.col("cell").alias("label"), "centroid"
    )
    got = {
        r.vec_id: (r.cell, r.keep)
        for r in semantic_dedup_keep_list(corpus, cents, threshold=0.999).collect()
    }
    assert len(got) == corpus.count()
    for i in range(20):
        assert got[i][1] is True, i              # source kept
        assert got[i + 100000][1] is False       # duplicate dropped
        assert got[i][0] == got[i + 100000][0]   # same cell


def test_semantic_dedup_broadcast_assign_parity_and_cell_knob(spark):
    """The r7-verdict item 4 evidence for SemDeDup's k≫labels regime:

    1. ``assign="broadcast"`` (min(struct) over the broadcast centroid
       table — the unbounded-k path) returns EXACTLY the literal-baked
       result on the same kmeans cells.
    2. Clear-duplicate verdicts are stable under cell refinement: exact
       duplicates are dropped (and their sources kept) at k=8 AND at
       k=40 — refining cells re-partitions the corpus but cannot split an
       identical-vector pair, so the operator's useful output survives
       the knob that controls its cost.
    3. The knob controls the quadratic term superlinearly: Σ|cell|²
       (the in-cell pair budget) at k=40 is < half its k=8 value on this
       corpus — the cost argument for scaling k with the corpus instead
       of holding 10 label cells (measured at sf0.1→sf1.0 in
       BENCH_SCALING.json).
    """
    from scraping_jobsdb_spark.operators.similarity import (
        kmeans_fit,
        semantic_dedup_keep_list,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    dupes = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dupes)

    results = {}
    pair_budget = {}
    for k in (8, 40):
        cents = kmeans_fit(emb, n_centroids=k, max_iter=3).cache()
        lit = {
            r.vec_id: (r.cell, r.keep)
            for r in semantic_dedup_keep_list(
                corpus, cents, threshold=0.999, label_col="cell"
            ).collect()
        }
        bc = {
            r.vec_id: (r.cell, r.keep)
            for r in semantic_dedup_keep_list(
                corpus,
                cents,
                threshold=0.999,
                label_col="cell",
                assign="broadcast",
            ).collect()
        }
        assert lit == bc, f"literal != broadcast at k={k}"
        gm = {
            r.vec_id: (r.cell, r.keep)
            for r in semantic_dedup_keep_list(
                corpus,
                cents,
                threshold=0.999,
                label_col="cell",
                assign="gemm",
            ).collect()
        }
        assert lit == gm, f"literal != gemm at k={k}"
        results[k] = lit
        sizes = {}
        for cell, _keep in lit.values():
            sizes[cell] = sizes.get(cell, 0) + 1
        pair_budget[k] = sum(s * s for s in sizes.values())
        cents.unpersist()

    for k, got in results.items():
        for i in range(25):
            assert got[i][1] is True, (k, i)
            assert got[i + 100000][1] is False, (k, i)
            assert got[i][0] == got[i + 100000][0], (k, i)

    assert pair_budget[40] < pair_budget[8] / 2, pair_budget


def test_pq_train_minstruct_equals_window_form(spark):
    """pq_train's E-step is a map-side-combining min(struct) aggregate
    (r7: the old row_number-window form shuffled and sorted the full
    k-expanded join every iteration). The codebook must be BIT-IDENTICAL
    to the window formulation — same _l2sq, same (d asc, cell asc)
    tie-break — reimplemented here as the reference."""
    from pyspark.sql import Window

    from scraping_jobsdb_spark.operators.pq import _l2sq, _subvectors, pq_train

    m, k, iters, dim = 4, 8, 3, 64
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = pq_train(emb, m=m, k=k, max_iter=iters, dim=dim)

    # reference: identical seeding + the old window-argmin E-step
    width = dim // m
    subs = _subvectors(
        emb.select(F.col("vec_id"), F.col("embedding")), "embedding", m, dim
    ).select(F.col("vec_id").alias("vid"), "subspace", "subvec")
    n = emb.count()
    stride = max(1, n // max(1, k * 4))
    seeded = (
        subs.filter(F.pmod(F.xxhash64(F.col("vid")), F.lit(stride)) == 0)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("subspace").orderBy(F.col("vid"))
            ),
        )
        .filter(F.col("__rn") <= k)
        .select("subspace", (F.col("__rn") - 1).alias("cell"), "subvec")
    )
    cb = {(r.subspace, r.cell): [float(x) for x in r.subvec] for r in seeded.collect()}
    for j in range(m):
        first = cb.get((j, 0), [0.0] * width)
        for c in range(k):
            cb.setdefault((j, c), first)
    for _ in range(iters):
        cb_df = F.broadcast(
            spark.createDataFrame(
                [(j, c, v) for (j, c), v in sorted(cb.items())],
                "subspace int, cell int, centroid array<double>",
            )
        )
        w = Window.partitionBy("vid", "subspace").orderBy(
            F.col("__d").asc(), F.col("cell").asc()
        )
        assigned = (
            subs.join(cb_df, "subspace")
            .withColumn("__d", _l2sq(F.col("subvec"), F.col("centroid")))
            .withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("subspace", "cell", "subvec")
        )
        means = (
            assigned.select(
                "subspace", "cell", F.posexplode("subvec").alias("pos", "val")
            )
            .groupBy("subspace", "cell", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("subspace", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "subspace", "cell", F.transform("pm", lambda s: s.mean).alias("centroid")
            )
        )
        updated = {
            (r.subspace, r.cell): [float(x) for x in r.centroid]
            for r in means.collect()
        }
        cb = {key: updated.get(key, prev) for key, prev in cb.items()}
    ref = [[cb[(j, c)] for c in range(k)] for j in range(m)]
    assert got == ref


def test_kmeans_minstruct_equals_window_form(spark):
    """kmeans_fit's assignment is a map-side-combining min(struct)
    aggregate (r7, same fix as pq_train): centroids must be BIT-IDENTICAL
    to the old row_number-window argmax — reimplemented here as the
    reference."""
    from pyspark.sql import Window as _W

    from scraping_jobsdb_spark.operators.similarity import (
        _seed_centroids,
        cosine,
        kmeans_fit,
    )

    k, iters = 8, 3
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r.cell: list(r.centroid)
        for r in kmeans_fit(emb, n_centroids=k, max_iter=iters).collect()
    }

    seeded = _seed_centroids(emb, k, "vec_id", "embedding").select(
        F.col("embedding").cast("array<double>").alias("centroid")
    )
    cents = [(i, list(r.centroid)) for i, r in enumerate(seeded.collect())]
    for _ in range(iters):
        cent_df = F.broadcast(
            spark.createDataFrame(cents, "cell int, centroid array<double>")
        )
        scored = emb.crossJoin(cent_df).select(
            "vec_id",
            "embedding",
            "cell",
            cosine(F.col("embedding"), F.col("centroid")).alias("__cos"),
        )
        w = _W.partitionBy("vec_id").orderBy(F.col("__cos").desc(), F.col("cell"))
        assigned = (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select("cell", "embedding")
        )
        new_cents = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select("cell", F.transform("pm", lambda s: s.mean).alias("centroid"))
        )
        updated = {r.cell: [float(x) for x in r.centroid] for r in new_cents.collect()}
        cents = [(c, updated.get(c, prev)) for c, prev in cents]
    ref = {c: v for c, v in cents}
    assert got == ref


def test_encode_with_cell_arrow_equals_expression(spark):
    """The Arrow numpy encode+assign kernel (r7, the index write/add hot
    path) must produce the same (codes, cell) as the Catalyst expression
    form on the gate corpus: np.argmin/argmax keep the FIRST extremum =
    lowest cell, mirroring the struct-min tie-break, and the zero-norm
    guards match _cell_expr."""
    from scraping_jobsdb_spark.operators.pq import (
        _centroid_rows,
        _encode_with_cell,
        pq_train,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb = pq_train(emb, m=8, k=16, max_iter=3)
    cents = _centroid_rows(emb, 10, "vec_id", "embedding", None)
    a = {
        r.vec_id: (list(r.codes), r.cell)
        for r in _encode_with_cell(
            emb, cb, cents, "vec_id", "embedding", arrow=True
        ).collect()
    }
    e = {
        r.vec_id: (list(r.codes), r.cell)
        for r in _encode_with_cell(
            emb, cb, cents, "vec_id", "embedding", arrow=False
        ).collect()
    }
    assert a == e and len(a) == emb.count()


def test_kmeans_fit_local_matches_contract(spark):
    """Driver-side bounded-sample trainer (the faiss recipe): returns
    exactly k cells, deterministic across re-runs (collected rows re-sorted
    by id before any float sum), refuses corpus-sized samples, and the
    SemDeDup composition over its cells still drops every injected exact
    duplicate (that invariant holds for ANY centroid set — identical
    vectors share an argmin)."""
    import pytest as _pytest

    from scraping_jobsdb_spark.operators.similarity import (
        kmeans_fit_local,
        semantic_dedup_keep_list,
    )
    from scraping_jobsdb_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit_local(emb, n_centroids=8, max_iter=3)
    rows = {r.cell: list(r.centroid) for r in cents.collect()}
    assert sorted(rows) == list(range(8))
    again = {
        r.cell: list(r.centroid)
        for r in kmeans_fit_local(
            emb.repartition(7), n_centroids=8, max_iter=3
        ).collect()
    }
    assert again == rows, "trainer must not depend on partitioning"
    with _pytest.raises(ValueError):
        kmeans_fit_local(emb, n_centroids=8, max_sample_rows=10)
    dups = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dups)
    verdicts = semantic_dedup_keep_list(
        corpus, cents, threshold=0.9, label_col="cell", assign="broadcast"
    )
    dropped = {
        r.vec_id for r in verdicts.filter(~F.col("keep")).collect()
    }
    injected = {r.vec_id for r in dups.select("vec_id").collect()}
    assert injected <= dropped, "every injected exact dup must drop"


def test_hard_negatives_label_mismatch_and_ranks(spark):
    """Every mined hard negative carries a label DIFFERENT from its
    anchor's, ranks are dense 1..k per anchor, and the rank order follows
    the quantized cosine (re-derived locally)."""
    from scraping_jobsdb_spark.operators.similarity import hard_negatives
    from scraping_jobsdb_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = hard_negatives(emb, (0, 100, 200), k=5).collect()
    per_q = {}
    for r in out:
        assert labels[r.vec_id] == r.neg_label
        assert r.neg_label != labels[r.query_id], "negative shares anchor label"
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == {0, 100, 200}
    for q, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_matryoshka_recall_monotone_in_prefix(spark):
    """MRL first-pass contract: recall@10 against the full-width ranking
    is monotone non-decreasing in prefix_dim, and the full-width prefix
    recovers (essentially) the full ranking."""
    from scraping_jobsdb_spark.operators.similarity import (
        brute_force_topk,
        matryoshka_topk,
    )
    from scraping_jobsdb_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    full = {}
    for r in brute_force_topk(
        emb, emb.filter(F.col("vec_id").isin(0, 100, 200)), k=10
    ).collect():
        full.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(prefix_dim):
        got = {}
        for r in matryoshka_topk(
            emb, (0, 100, 200), prefix_dim=prefix_dim, k=10
        ).collect():
            got.setdefault(r.query_id, set()).add(r.vec_id)
        hit = sum(len(got[q] & full[q]) for q in full)
        return hit / sum(len(full[q]) for q in full)

    r16, r32, r64 = recall(16), recall(32), recall(64)
    assert r16 <= r32 <= r64, f"recall not monotone: {r16} {r32} {r64}"
    assert r64 >= 0.9, f"full-width prefix must recover the ranking: {r64}"


def test_binary_hamming_correlates_with_cosine(spark):
    """The 1-bit sign sketch is a retrieval signal, not noise: over the
    corpus, pairs in a query's Hamming top-10 have higher mean exact
    cosine than the corpus mean against that query; distance to an exact
    duplicate is 0 and ranks first."""
    from scraping_jobsdb_spark.operators.similarity import (
        binary_hamming_topk,
        cosine,
    )

    from tests.conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    # plant an exact duplicate of vec 0 under a new id
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(900000).cast("bigint").alias("vec_id"),
        F.col("embedding"),
        F.col("label"),
    )
    corpus = emb.unionByName(dup)
    top = binary_hamming_topk(corpus, (0,), k=10).collect()
    first = min(top, key=lambda r: r.rank)
    assert first.vec_id == 900000 and first.hamming == 0

    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    scored = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qvec)).select(
        "vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("cos")
    )
    cos_by_id = {r.vec_id: r.cos for r in scored.collect()}
    top_ids = [r.vec_id for r in top if r.vec_id != 900000]
    top_mean = sum(cos_by_id[i] for i in top_ids) / len(top_ids)
    corpus_mean = sum(cos_by_id.values()) / len(cos_by_id)
    assert top_mean > corpus_mean, (top_mean, corpus_mean)


def test_whitening_empty_input_returns_empty(spark):
    """An empty embeddings frame whitens to an empty result with the
    output schema, not an IndexError at plan-build time."""
    from scraping_jobsdb_spark.operators.similarity import whitening_topk

    emb = load_table(spark, SF_SMOKE, "embeddings").filter(F.lit(False))
    out = whitening_topk(emb, (0,), k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "rank", "qcos"}


def test_pq_encode_arrow_equals_expression_on_int8_gate(spark):
    """pq_encode's Arrow kernel must produce BIT-IDENTICAL codes to the
    pure-expression form on the hash-oracled gate configuration (integer-
    valued subspace-mean codebook over int8 codes): every squared distance
    is an exact integer in both paths and both tie-break to the lowest
    code index."""
    from scraping_jobsdb_spark.operators.pq import pq_encode
    from scraping_jobsdb_spark.plans.q_txn_write import _int8_ivfpq_inputs

    corpus, _q, codebook, _c = _int8_ivfpq_inputs(spark, SF_SMOKE)
    fast = {
        r.vec_id: list(r.codes)
        for r in pq_encode(corpus, codebook, arrow=True).collect()
    }
    slow = {
        r.vec_id: list(r.codes)
        for r in pq_encode(corpus, codebook, arrow=False).collect()
    }
    assert fast == slow and len(fast) > 0


def test_pq_encode_arrow_rejects_null_vectors_with_message(spark):
    """The Arrow encode kernel must fail with a DESCRIPTIVE error on
    null/ragged embedding rows (not an opaque np.vstack shape error),
    while the arrow=False expression path stays null-tolerant (null
    codes), matching its documented contract."""
    from scraping_jobsdb_spark.operators.pq import pq_encode
    from scraping_jobsdb_spark.plans.q_txn_write import _int8_ivfpq_inputs

    corpus, _q, codebook, _c = _int8_ivfpq_inputs(spark, SF_SMOKE)
    holed = corpus.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(Exception) as exc:
        pq_encode(holed, codebook, arrow=True).collect()
    assert "non-null" in str(exc.value) and "pq_encode" in str(exc.value)

    # expression path: null vector → null codes, no exception
    row = (
        pq_encode(holed, codebook, arrow=False)
        .filter(F.col("vec_id") == 3)
        .collect()
    )
    assert len(row) == 1 and row[0].codes is None


def test_simhash_arrow_kernel_equals_expression(spark):
    """The Arrow vote kernel (simhash_fp_frame arrow=True) must produce
    BIT-IDENTICAL fingerprints to the simhash_from_hashes expression tree
    for both hash families — signed xxhash64 at 64/16 (two's-complement
    bit reads) and positive md5-window at 60/15 — including tie votes
    (vote == 0 packs as bit 0) and the empty-token edge. This is what
    lets the hash-oracled portable consumers ride the kernel."""
    from scraping_jobsdb_spark.operators.similarity import simhash_fp_frame

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    fams = [
        (F.transform(toks, lambda t: F.xxhash64(t)), 64, 16),
        (
            F.transform(
                toks,
                lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast(
                    "bigint"
                ),
            ),
            60,
            15,
        ),
    ]
    for hashes, bits, cb in fams:
        expr = {
            r.doc: tuple(r.fp)
            for r in simhash_fp_frame(
                docs, "doc_id", hashes, bits=bits, chunk_bits=cb, arrow=False
            ).collect()
        }
        arrow = {
            r.doc: tuple(r.fp)
            for r in simhash_fp_frame(
                docs, "doc_id", hashes, bits=bits, chunk_bits=cb, arrow=True
            ).collect()
        }
        assert arrow == expr and len(arrow) > 0, (bits, cb)


def test_exact_substring_spans_interval_merge(spark):
    """Hand-crafted ExactSubstr case: two docs share an 11-token run
    (→ four overlapping duplicated 8-windows each, merging into ONE
    11-token span), a third doc is clean, a fourth is too short to
    window. Span merge, window counts, and zero-fill all pinned."""
    from scraping_jobsdb_spark.operators.textops import exact_substring_spans

    shared = "a b c d e f g h i j k"  # 11 tokens
    rows = [
        (1, shared + " unique1 tail1 x1 y1 z1"),
        (2, "lead2 w2 " + shared),
        (3, "entirely different words with no repeats at all here ok"),
        (4, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in exact_substring_spans(docs, min_len=8).collect()}
    # doc 1: tokens 0..10 shared -> windows at 0..3 -> one span of 11
    assert (out[1].n_dup_windows, out[1].n_spans, out[1].n_masked_tokens) == (4, 1, 11)
    # doc 2: shared run starts at token 2 -> windows 2..5, same one span
    assert (out[2].n_dup_windows, out[2].n_spans, out[2].n_masked_tokens) == (4, 1, 11)
    assert (out[3].n_dup_windows, out[3].n_masked_tokens, out[3].n_spans) == (0, 0, 0)
    assert (out[4].n_tokens, out[4].n_dup_windows) == (2, 0)


def test_exact_substring_spans_hash_prefilter_identical(spark):
    """The xxhash64-prefiltered shuffle shape (VERDICT r13 item 8) is
    bit-identical to the raw-gram form on the hand-crafted case AND on a
    generated corpus with heavy cross-document repetition: a hash
    collision can only add a candidate window, and the exact-gram verify
    stage removes it, so both modes must agree row for row."""
    from scraping_jobsdb_spark.operators.textops import exact_substring_spans

    shared = "a b c d e f g h i j k"
    rows = [
        (1, shared + " unique1 tail1 x1 y1 z1"),
        (2, "lead2 w2 " + shared),
        (3, "entirely different words with no repeats at all here ok"),
        (4, "short doc"),
    ] + [
        # generated: every third doc repeats a rotating 10-token block,
        # the rest are unique token streams
        (
            100 + i,
            (
                " ".join(f"blk{i % 7}tok{t}" for t in range(10))
                + " "
                + " ".join(f"u{i}w{t}" for t in range(6))
                if i % 3 == 0
                else " ".join(f"only{i}tok{t}" for t in range(14))
            ),
        )
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    plain = sorted(
        tuple(r) for r in exact_substring_spans(docs, min_len=8).collect()
    )
    fast = sorted(
        tuple(r)
        for r in exact_substring_spans(
            docs, min_len=8, hash_prefilter=True
        ).collect()
    )
    assert plain == fast and len(plain) == 64


def test_isin_ids_equals_column_isin(spark):
    """isin_ids (one parsed SQL IN list) keeps exactly the rows
    Column.isin keeps: int ids, string ids with quotes and backslashes,
    ids of another type (the Column fallback), and an empty list."""
    import datetime

    from scraping_jobsdb_spark.operators.similarity import isin_ids

    ints = spark.range(20).withColumnRenamed("id", "k")
    strs = spark.createDataFrame(
        [("a",), ("o'neil",), ("back\\slash",), ("z",)], "k string"
    )
    dates = spark.createDataFrame(
        [(datetime.date(2024, 1, d),) for d in (1, 2, 3)], "k date"
    )
    for df, values in (
        (ints, [3, 7, 19, 99]),
        (strs, ["o'neil", "back\\slash", "missing"]),
        (dates, [datetime.date(2024, 1, 2)]),
        (ints, []),
    ):
        got = sorted(r[0] for r in df.filter(isin_ids("k", values)).collect())
        want = sorted(
            r[0] for r in df.filter(F.col("k").isin(values)).collect()
        ) if values else []
        assert got == want
    assert sorted(
        r[0] for r in strs.filter(isin_ids("k", ["o'neil", "back\\slash"])).collect()
    ) == ["back\\slash", "o'neil"]


# texts covering every shingling edge case: NULL, empty, whitespace-only,
# fewer tokens than n, tabs and newlines (Spark's trim strips only spaces,
# so a leading tab survives as an empty first token), repeats
_SHINGLE_CASES = [
    None,
    "",
    "   ",
    "one",
    "two words",
    "\tlead tab",
    "a\tb\nc  d\r\ne ",
    "the cat the cat the cat sat",
    "the quick brown fox jumps over the lazy dog",
]


def _shingles_ref(text, n):
    """Pure-Python shingle set with Spark's semantics: trim spaces, split
    on ``\\s+`` keeping empty tokens, slices from every start up to
    ``max(len - n, 0)``, first occurrence kept. NULL text has NULL
    shingles; empty text shingles to ``['']``."""
    import re

    if text is None:
        return None
    toks = re.split(r"\s+", text.strip(" "))
    grams = (" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1))
    return list(dict.fromkeys(grams))


def test_shingles_and_ngram_jaccard_equal_python_reference(spark):
    """``shingles``, ``shingles_sql`` and ``ngram_jaccard`` equal the
    Python reference on the edge cases, n = 1 and n = 3."""
    from scraping_jobsdb_spark.operators.similarity import (
        ngram_jaccard,
        shingles_sql,
    )

    df = spark.createDataFrame([(t,) for t in _SHINGLE_CASES], "text string")
    pairs = spark.createDataFrame(
        [(a, b) for a in _SHINGLE_CASES for b in _SHINGLE_CASES],
        "ta string, tb string",
    )
    for n in (1, 3):
        got = df.select(
            "text",
            shingles(F.col("text"), n).alias("dsl"),
            F.expr(shingles_sql("text", n)).alias("sql"),
        ).collect()
        assert len(got) == len(_SHINGLE_CASES)
        for r in got:
            want = _shingles_ref(r.text, n)
            assert r.dsl == want and r.sql == want, (r.text, n, r.dsl, r.sql)
        jac = pairs.select(
            "ta", "tb", ngram_jaccard(None, None, None, "ta", "tb", n).alias("j")
        ).collect()
        assert len(jac) == len(_SHINGLE_CASES) ** 2
        for r in jac:
            a, b = _shingles_ref(r.ta, n), _shingles_ref(r.tb, n)
            want = (
                None
                if a is None or b is None
                else len(set(a) & set(b)) / len(set(a) | set(b))
            )
            assert r.j == want, (r.ta, r.tb, n, r.j, want)


def test_ngram_jaccard_with_null_side_is_null(spark):
    """A NULL text is similar to nothing, not even another NULL or an
    empty text: before NULL shingled like '' and both pairs scored 1.0."""
    from scraping_jobsdb_spark.operators.similarity import ngram_jaccard

    pairs = spark.createDataFrame(
        [(None, None), (None, ""), ("", None), ("a b", None), ("", "")],
        "ta string, tb string",
    )
    got = [
        r.j
        for r in pairs.select(
            ngram_jaccard(None, None, None, "ta", "tb", 3).alias("j")
        ).collect()
    ]
    assert got == [None, None, None, None, 1.0]


def test_minhash_candidate_pairs_skip_null_text(spark):
    """A NULL text gets no signature, so it pairs with nothing; two empty
    texts still share every band and pair as before."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "a b c d e f"),
         (6, "a b c d e f")],
        "id long, text string",
    )
    got = sorted(
        tuple(r) for r in minhash_candidate_pairs(docs, "id", "text").collect()
    )
    assert got == [(3, 4), (5, 6)]


def test_lambda_invariants_detector(spark):
    """The detector lists a row-level split or regexp call inside a lambda
    body, and passes per-element calls on a lambda variable and calls
    outside any lambda."""
    from scraping_jobsdb_spark.planlint import lambda_invariants

    df = spark.createDataFrame([("a=1,b=2",)], "text string")
    assert lambda_invariants(df.select(F.expr(
        "transform(sequence(1, 3), i -> size(split(text, ',')) + i)"
    ))) == ["StringSplit(text)"]
    assert lambda_invariants(df.select(F.expr(
        "filter(split(text, ','), kv -> regexp_replace(text, 'a', '') = kv)"
    ))) == ["RegExpReplace(text)"]
    assert lambda_invariants(df.select(
        F.expr("transform(split(text, ','), kv -> split(kv, '=')[0])"),
        F.expr("size(split(regexp_replace(text, '=', ''), ','))"),
    )) == []


def test_signing_paths_split_each_text_once(spark):
    """No lambda body in the MinHash signing paths or the Jaccard verify
    splits a row's text: the token array is bound once per row. With the
    split inside the per-shingle lambda every text was regex-split once
    per shingle."""
    from scraping_jobsdb_spark.operators.lshindex import minhash_band_keys_fast
    from scraping_jobsdb_spark.operators.similarity import (
        minhash_band_keys_portable,
        ngram_jaccard,
    )
    from scraping_jobsdb_spark.planlint import lambda_invariants

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_SHINGLE_CASES)], "id long, text string"
    )
    pairs = spark.createDataFrame([("a b c d", "a b c e")], "ta string, tb string")
    plans = {
        "minhash_candidate_pairs": minhash_candidate_pairs(docs, "id", "text"),
        "minhash_band_keys_fast": minhash_band_keys_fast(docs, "id", "text"),
        "minhash_band_keys_portable": minhash_band_keys_portable(docs, "id", "text"),
        "ngram_jaccard": pairs.select(
            ngram_jaccard(None, None, None, "ta", "tb", 3).alias("j")
        ),
    }
    for name, df in plans.items():
        assert lambda_invariants(df) == [], name


def test_quality_score_empty_text_is_null(spark):
    """Empty text scores NULL instead of aborting the job with
    DIVIDE_BY_ZERO under ANSI mode (the DuckDB oracle also returns NULL),
    in both the SQL-string and the Column-DSL form; every other text
    scores exactly what the unbound, written-out expression scores."""
    from scraping_jobsdb_spark.operators.textops import alpha_ratio, quality_score

    texts = [None, "", "   ", "x", "the cat and a dog", "12 3 !!"] + [
        r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("text").limit(200).collect()
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    stops = "'the', 'a', 'an', 'of', 'and', 'or', 'is', 'to', 'in'"
    t = "split(trim(text), '\\\\s+')"
    ratio = f"(size(filter({t}, x -> lower(x) in ({stops}))) / size({t}))"
    written_out = (
        f"cast(0.4D * if(size({t}) >= 10 and size({t}) <= 100000, 1.0D, 0.0D)"
        f" + 0.3D * if({ratio} >= 0.01D and {ratio} <= 0.6D, 1.0D, 0.0D)"
        " + 0.3D * (length(regexp_replace(text, '[^A-Za-z ]', ''))"
        " / length(text)) as double)"
    )
    rows = df.select(
        "text",
        quality_score("text").alias("sql"),
        quality_score(F.col("text")).alias("dsl"),
        alpha_ratio("text").alias("alpha"),
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        if not r.text:
            assert r.sql is None and r.dsl is None and r.alpha is None, r
    nonempty = df.filter("length(text) > 0")
    got = nonempty.select(
        "text", quality_score("text").alias("sql"),
        quality_score(F.col("text")).alias("dsl"),
        F.expr(written_out).alias("ref"),
    ).collect()
    assert len(got) == len([x for x in texts if x])
    for r in got:
        assert r.sql == r.dsl == r.ref and r.ref is not None, r
