"""Physical-plan regression suite: the scale posture, machine-checked.

Correctness says WHAT each query computes; these tests pin HOW Catalyst is
allowed to execute it — filters reach the scan, dimensions broadcast, dedup
uses the map-side WindowGroupLimit, top-k never global-sorts, and nothing
cartesian sneaks in. A regression here is a 100 TB incident that sf0.01
correctness would never catch.
"""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import SF_CORRECT

from scraping_jobsdb_spark.plans.queries import REGISTRY


def _plan(spark, name: str) -> str:
    # Build the query in its own try so a broken query reads as "query threw
    # during construction", not as a plan-quality regression — in round 2 the
    # events reader bug made 5 plan tests report bogus plan failures.
    try:
        df = REGISTRY[name].spark_fn(spark, SF_CORRECT)
    except Exception as e:  # noqa: BLE001
        pytest.fail(
            f"{name}: query construction failed BEFORE plan inspection "
            f"(not a plan-quality issue): {type(e).__name__}: {e}"
        )
    return df._jdf.queryExecution().executedPlan().toString()


# (query, fragment that MUST appear) — each pins one physical property.
REQUIRED = [
    # Q6-shape: both predicates pushed into the parquet scan.
    ("forecast_revenue_delta", "PushedFilters: [IsNotNull(l_discount)"),
    # dim joins broadcast, never shuffle the fact for a tiny build side
    ("promo_revenue_ratio", "BroadcastHashJoin"),
    ("join_dims_broadcast", "BroadcastHashJoin"),
    ("supplier_count_by_parttype", "BroadcastHashJoin"),
    # deterministic dedup compiles to map-side top-1 before the shuffle
    ("dedup_distinct_on", "WindowGroupLimit"),
    # top-k is TakeOrderedAndProject, not a global sort + limit
    ("topk_orders", "TakeOrderedAndProject"),
    ("large_order_customers", "TakeOrderedAndProject"),
    # anti-join idiom actually plans as an anti join
    ("anti_join_not_in", "LeftAnti"),
    ("inactive_wealthy_customers", "LeftAnti"),
    # semi-join idiom
    ("suppliers_with_heavy_shipments", "LeftSemi"),
    # multimodal binary stage: ONE Arrow-batched Python crossing, and the
    # scan pruned to exactly the columns the stage consumes
    ("multimodal_binary_features", "MapInPandas"),
    # zero-extra-pass DQ: metrics ride the job as a CollectMetrics node
    ("dq_bounds_observed", "CollectMetrics"),
    # stratified exact-k compiles to map-side per-stratum top-k before the
    # shuffle, not a full sort of every stratum
    ("stratified_sample_per_lang", "WindowGroupLimit"),
    # corpus-wide top-k grams cut with per-partition top-k, no global sort
    ("doc_top_ngrams", "TakeOrderedAndProject"),
    # BM25 top-k: per-partition partial top-k, never a global sort
    ("bm25_doc_ranking", "TakeOrderedAndProject"),
    # decontamination probes the corpus against a BROADCAST benchmark gram
    # set — the corpus is never shuffled on gram
    ("decontamination_ngram_overlap", "BroadcastHashJoin"),
    # weighted sampling: map-only priorities + per-partition partial top-k
    ("weighted_sample_by_length", "TakeOrderedAndProject"),
    # grouped KMV build compiles to the map-side per-group top-k
    ("kmv_distinct_sketches", "WindowGroupLimit"),
    # BPE top-k is an ordered limit, never a global sort
    ("bpe_merge_candidates", "TakeOrderedAndProject"),
    # Q9 star: the part dimension leg broadcasts
    ("product_type_profit", "BroadcastHashJoin"),
    # unigram seed top-k is an ordered limit, never a global sort
    ("unigram_seed_candidates", "TakeOrderedAndProject"),
    # DSIR top-k cut is per-partition partial top-k, never a global sort
    ("dsir_importance_sample", "TakeOrderedAndProject"),
    # PMI top-k cut is an ordered limit, never a global sort
    ("corpus_pmi_pairs", "TakeOrderedAndProject"),
    # whitening: both corpus passes are Arrow-batched (moments + transform)
    ("embedding_whitening_topk", "MapInPandas"),
    # JPEG decode: two chained Arrow stages (encode fan-out + decode),
    # never row-at-a-time Python
    ("multimodal_jpeg_decode_features", "MapInPandas"),
    # steady-state index probes stream the BROADCAST batch side over the
    # index scan — the O(batch) shape the whole family claims
    ("fpindex_steady_admission", "BroadcastHashJoin"),
    ("lshindex_steady_admission", "BroadcastHashJoin"),
]

FORBIDDEN = [
    # nothing here may fall back to a cartesian/BNLJ product
    ("join_dims_broadcast", "CartesianProduct"),
    ("sql_surface_revenue_by_nation", "CartesianProduct"),
    ("large_order_customers", "CartesianProduct"),
    # the pricing scan must not read columns the agg never touches
    ("pricing_summary", "l_orderkey"),
    # as-of join is union+window — no join node at all, certainly no product
    ("asof_join_latest_state", "CartesianProduct"),
    ("asof_join_latest_state", "BroadcastNestedLoopJoin"),
    # banded range join must plan as an equi hash/merge join on (key, bucket)
    ("range_join_followups", "CartesianProduct"),
    ("range_join_followups", "BroadcastNestedLoopJoin"),
    # funnel is window + aggregate, never a self-join
    ("funnel_click_to_purchase", "Join"),
    # embedding near-dup is LSH-banded: an equi-join on (band, signature),
    # never the O(n^2) nested-loop form
    ("embedding_neardup_pairs", "BroadcastNestedLoopJoin"),
    ("embedding_neardup_pairs", "CartesianProduct"),
    # winnowing selection is map-only in-array work: no window at all (the
    # old char-explode form shuffled one row per character), certainly
    # never a global one
    ("doc_winnowing_fingerprints", "Window"),
    ("doc_winnowing_fingerprints", "SinglePartition"),
    ("doc_winnowing_fingerprints", "CartesianProduct"),
    # PII scrub is a map-only regex pass: no join, no window, no agg
    ("doc_pii_redaction", "Join"),
    ("doc_pii_redaction", "Window"),
    ("doc_pii_redaction", "HashAggregate"),
    # the gram build is map-only in-array slicing (no window at all — the
    # old posexplode+lead form shuffled one row per word), never a
    # per-position self-product
    ("doc_repetition_stats", "Window"),
    ("doc_repetition_stats", "SinglePartition"),
    ("doc_repetition_stats", "CartesianProduct"),
    # the oracled dedup pipeline: containment equi-join + CC, no products
    ("dedup_pipeline_winnowing", "CartesianProduct"),
    ("dedup_pipeline_winnowing", "BroadcastNestedLoopJoin"),
    # BM25 never shuffles the corpus: tf/dl are map-only, the only exchange
    # is the 1-row global stats aggregate broadcast back (no hash exchange,
    # no window) — one pass over the scan end to end
    ("bm25_doc_ranking", "Exchange hashpartitioning"),
    ("bm25_doc_ranking", "Window"),
    # gram build is map-only (no window, no word-stream shuffle), never a
    # per-position product
    ("decontamination_ngram_overlap", "Window"),
    ("decontamination_ngram_overlap", "SinglePartition"),
    ("decontamination_ngram_overlap", "CartesianProduct"),
    # the TWAP lead() window partitions by user — never a global window
    ("events_time_weighted_value", "SinglePartition"),
    # sufficient stats = ONE aggregate pass: no join, no window
    ("stats_regression_pack", "Join"),
    ("stats_regression_pack", "Window"),
    # the LM scoring join is term-equi (broadcast model), never a product
    ("doc_unigram_surprisal", "CartesianProduct"),
    ("doc_unigram_surprisal", "BroadcastNestedLoopJoin"),
    # split assignment: containment equi-join + CC + equi join-back only
    ("leakage_safe_split_stats", "CartesianProduct"),
    ("leakage_safe_split_stats", "BroadcastNestedLoopJoin"),
    # segment dedup: first-occurrence window partitions by the segment —
    # never a global window, never a join
    ("doc_segment_dedup_global", "SinglePartition"),
    ("doc_segment_dedup_global", "Join"),
    # quality cut: rank and group count share ONE lang-partitioned window
    ("quality_top_fraction_per_lang", "SinglePartition"),
    ("quality_top_fraction_per_lang", "Join"),
    # salted join is an equi-join on (key, salt): no product, no BNLJ
    ("skew_join_salted", "CartesianProduct"),
    ("skew_join_salted", "BroadcastNestedLoopJoin"),
    # batch-vs-corpus probe: gram-hash equi-joins only, no products
    ("incremental_batch_dedup", "CartesianProduct"),
    ("incremental_batch_dedup", "BroadcastNestedLoopJoin"),
    # LSH banding is always an equi-join on the band key, never a product
    ("minhash_portable_neardup_pairs", "CartesianProduct"),
    ("minhash_portable_neardup_pairs", "BroadcastNestedLoopJoin"),
    ("simhash_portable_neardup_pairs", "CartesianProduct"),
    ("simhash_portable_neardup_pairs", "BroadcastNestedLoopJoin"),
    # register/sketch builds are pure aggregates: no join anywhere
    ("hll_portable_registers", "Join"),
    # Gopher flags are ONE map-only projection: no hash shuffle, no window,
    # no join — the staged token/line arrays live inside the project
    ("gopher_quality_flags", "Exchange hashpartitioning"),
    ("gopher_quality_flags", "Window"),
    ("gopher_quality_flags", "Join"),
    # mixture budgets ride the plan as a literal map: one lang-partitioned
    # window, never a join, never a global window
    ("mixture_weighted_corpus_sample", "SinglePartition"),
    ("mixture_weighted_corpus_sample", "Join"),
    # gap fill: one keyed lead() window + map-only sequence/explode — never
    # a spine cross join, never a global window
    ("events_daily_gap_fill", "SinglePartition"),
    ("events_daily_gap_fill", "Join"),
    # fuzzy join blocks on gram equi-join only, never a product
    ("fuzzy_join_supplier_names", "CartesianProduct"),
    ("fuzzy_join_supplier_names", "BroadcastNestedLoopJoin"),
    # --- round 5 additions ---
    # domain cap is one source-partitioned window: never global, no join
    ("domain_cap_sample", "SinglePartition"),
    ("domain_cap_sample", "Join"),
    # packing is one lang-partitioned running-sum window: never global,
    # no join anywhere in the plan
    ("sequence_packing_stream", "SinglePartition"),
    ("sequence_packing_stream", "Join"),
    # epoch expansion is MAP-ONLY: no shuffle, no window, no join
    ("epoch_repeat_expansion", "Exchange hashpartitioning"),
    ("epoch_repeat_expansion", "Window"),
    ("epoch_repeat_expansion", "Join"),
    # BPE reduces to distinct-words-with-counts first: aggregates and an
    # ordered limit only — no window, no join
    ("bpe_merge_candidates", "Window"),
    ("bpe_merge_candidates", "Join"),
    # centroid classify is a pure map over driver-baked literals: the only
    # joins in the whole confusion plan are none at all
    ("nearest_centroid_confusion", "CartesianProduct"),
    ("nearest_centroid_confusion", "BroadcastNestedLoopJoin"),
    # the exact blocked-GEMM verification variant: explode → hash shuffle →
    # numpy matmul per block pair, still never a planner product node
    ("embedding_neardup_pairs_exact_gemm", "CartesianProduct"),
    ("embedding_neardup_pairs_exact_gemm", "BroadcastNestedLoopJoin"),
    # bloom pre-filter join: map-side literal-bitset filter + one equi-join —
    # no product node, and no row-Python (the membership test is expressions)
    ("bloom_prefilter_supplier_revenue", "CartesianProduct"),
    ("bloom_prefilter_supplier_revenue", "BroadcastNestedLoopJoin"),
    ("bloom_prefilter_supplier_revenue", "BatchEvalPython"),
    # SemDeDup: cell assignment is a pure map over driver-baked literals,
    # the pairwise step an EQUI-join on cell — never a planner product
    ("semantic_dedup_embeddings", "CartesianProduct"),
    ("semantic_dedup_embeddings", "BroadcastNestedLoopJoin"),
    ("semantic_dedup_embeddings", "BatchEvalPython"),
    # normalization is one Arrow stage over a map-only plan: no shuffle,
    # no row-Python
    ("doc_text_normalize", "Exchange hashpartitioning"),
    ("doc_text_normalize", "Join"),
    ("doc_text_normalize", "BatchEvalPython"),
    # BPE encode: the rewrite runs on the DISTINCT-word vocabulary (one
    # Arrow stage), never row-Python over corpus-sized data
    ("bpe_corpus_tokenize", "BatchEvalPython"),
    ("bpe_corpus_tokenize", "CartesianProduct"),
    # redistribute PageRank: per-iteration equi-joins + one 1-row broadcast
    # scalar — a BNLJ appears ONLY for that single-row side, so forbid the
    # true product node and row-Python
    ("order_flow_pagerank_redistribute", "CartesianProduct"),
    ("order_flow_pagerank_redistribute", "BatchEvalPython"),
    # OHLC bars: ONE map-side-combined hash aggregate — no window pass,
    # no join, no row-Python
    ("events_ohlc_hourly", "Window"),
    ("events_ohlc_hourly", "Join"),
    ("events_ohlc_hourly", "BatchEvalPython"),
    # full-sync MERGE: one full-outer equi-join, never a product node
    ("txn_merge_full_sync", "CartesianProduct"),
    ("txn_merge_full_sync", "BroadcastNestedLoopJoin"),
    # bigram LM: map-only gram build (zip-with-tail) + equi-joins — no
    # per-position self-product, no window, no row-Python
    ("doc_bigram_perplexity", "CartesianProduct"),
    ("doc_bigram_perplexity", "Window"),
    ("doc_bigram_perplexity", "BatchEvalPython"),
    # --- round 8 additions ---
    # SemDeDup production regime (kmeans cells, broadcast argmin): the
    # centroid side is codebook-scale (a BNLJ on that literal-bounded side
    # is fine, the true product node is not), dedup pairs are an equi-join
    # on cell, no row-Python anywhere
    ("semantic_dedup_kmeans_cells", "CartesianProduct"),
    ("semantic_dedup_kmeans_cells", "BatchEvalPython"),
    # IVF top-k (oracled form): cell assignment is a pure map over
    # driver-baked centroid literals — the only nested-loop side is the
    # 3-row query × k centroid probe; never a true product, no row-Python
    ("embedding_ivf_topk", "CartesianProduct"),
    ("embedding_ivf_topk", "BatchEvalPython"),
    # unigram seed: distinct-words reduction + substring explode +
    # ordered limit — no window, no join anywhere
    ("unigram_seed_candidates", "Window"),
    ("unigram_seed_candidates", "Join"),
    # unigram encode: ONE Arrow stage over the distinct-word table,
    # never row-Python, never a product
    ("unigram_corpus_tokenize", "BatchEvalPython"),
    ("unigram_corpus_tokenize", "CartesianProduct"),
    # wordpiece encode: same Arrow-per-distinct-word contract as BPE
    ("wordpiece_corpus_tokenize", "BatchEvalPython"),
    ("wordpiece_corpus_tokenize", "CartesianProduct"),
    # RRF fusion: each leg ends in its own top-k; the fusion joins two
    # <=100-row frames — never a true product, no row-Python
    ("hybrid_rrf_retrieval", "CartesianProduct"),
    ("hybrid_rrf_retrieval", "BatchEvalPython"),
    # CCNet bucketing: thresholds are ONE 1-row percentile aggregate
    # broadcast back — never a global-sort NTILE window, no row-Python
    ("doc_perplexity_buckets", "Window"),
    ("doc_perplexity_buckets", "BatchEvalPython"),
    ("doc_perplexity_buckets", "CartesianProduct"),
    # JL projection: map-only codegen over one scan + generate — the md5
    # sign matrix is recomputed inside the expression; nothing shuffles,
    # joins, or crosses into Python
    ("embedding_random_projection", "Exchange hashpartitioning"),
    ("embedding_random_projection", "Join"),
    ("embedding_random_projection", "BatchEvalPython"),
    # hard negatives / matryoshka: broadcast 3-anchor side (a BNLJ on that
    # literal-bounded side is fine), never a true product, no row-Python
    ("embedding_hard_negatives", "CartesianProduct"),
    ("embedding_hard_negatives", "BatchEvalPython"),
    ("embedding_matryoshka_topk", "CartesianProduct"),
    ("embedding_matryoshka_topk", "BatchEvalPython"),
    # NB classifier: the 1-row stats / prior sides ride broadcast joins (a
    # BNLJ on those literal-bounded sides is fine); the vocabulary-sized
    # weight table broadcasts; nothing crosses into row-Python
    ("quality_classifier_nb", "CartesianProduct"),
    ("quality_classifier_nb", "BatchEvalPython"),
    # DSIR: 256-bucket ratio table + 1-row totals broadcast back onto the
    # (doc, bucket) counts — never a true product, no row-Python
    ("dsir_importance_sample", "CartesianProduct"),
    ("dsir_importance_sample", "BatchEvalPython"),
    # boilerplate removal: gram doc-frequency aggregate + broadcast semi
    # join + (doc, pos) anti join + JVM-side array_sort reassembly — no
    # product, no Python, no window anywhere
    ("doc_boilerplate_removal", "CartesianProduct"),
    ("doc_boilerplate_removal", "BatchEvalPython"),
    ("doc_boilerplate_removal", "Window"),
    # temperature mixture: quota windows run over the 5-row language frame,
    # selection is one rank window + broadcast quota join — no product, no
    # row-Python
    ("temperature_mixture_corpus", "CartesianProduct"),
    ("temperature_mixture_corpus", "BatchEvalPython"),
    # token entropy: the per-doc total is a window over the SAME doc-keyed
    # shuffle as the tf aggregate — NO join node at all, no Python
    ("doc_token_entropy", "Join"),
    ("doc_token_entropy", "BatchEvalPython"),
    # PMI: marginals and the 1-row total ride hash/broadcast joins back
    # onto the pair counts — never a true product, no row-Python
    ("corpus_pmi_pairs", "CartesianProduct"),
    ("corpus_pmi_pairs", "BatchEvalPython"),
    # whitening: the only BNLJ side is the 3-query broadcast; scoring
    # stays JVM-side after the two Arrow passes
    ("embedding_whitening_topk", "CartesianProduct"),
    ("embedding_whitening_topk", "BatchEvalPython"),
    # KL divergence: vocab-sized marginal + 1-row total broadcast back onto
    # the (group, token) counts — never a true product, no row-Python
    ("lang_kl_divergence", "CartesianProduct"),
    ("lang_kl_divergence", "BatchEvalPython"),
    # k-anonymity: ONE map-side-combined hash aggregate — no join, no window
    ("k_anonymity_report", "Join"),
    ("k_anonymity_report", "Window"),
    ("k_anonymity_report", "BatchEvalPython"),
    # quality ensemble: signal legs join on the doc key; the only BNLJ
    # sides are the 1-row NB stats/prior — never a true product, no
    # row-Python anywhere
    ("quality_ensemble_verdicts", "CartesianProduct"),
    ("quality_ensemble_verdicts", "BatchEvalPython"),
    # 1-bit Hamming retrieval: map-only packing + 3-query broadcast side —
    # never a true product, no Python anywhere
    ("embedding_binary_hamming_topk", "CartesianProduct"),
    ("embedding_binary_hamming_topk", "BatchEvalPython"),
    # FK audit: anti joins against key projections + 1-row count cross
    # joins (BNLJ on 1-row sides is fine) — never a true product, no Python
    ("referential_integrity_report", "CartesianProduct"),
    ("referential_integrity_report", "BatchEvalPython"),
    # PSI drift: one (day, bin) aggregate; grid/baseline/totals are tiny
    # rollups broadcast back — never a true product, no Python
    ("events_value_psi_daily", "CartesianProduct"),
    ("events_value_psi_daily", "BatchEvalPython"),
    # attribution: the asof leg is the union-sort single-shuffle scan —
    # never a join-node candidate explosion, no product, no Python
    ("attribution_last_touch", "CartesianProduct"),
    ("attribution_last_touch", "BatchEvalPython"),
    # --- round-9 waves ---
    # retrieval eval: per-query windows + k-row metric joins, no product,
    # no Python
    ("retrieval_eval_metrics", "CartesianProduct"),
    ("retrieval_eval_metrics", "BatchEvalPython"),
    # dictionary tagging: explode once + broadcast equi-join — never a
    # per-entry scan product, no global window over the corpus
    ("dictionary_phrase_tagging", "CartesianProduct"),
    ("dictionary_phrase_tagging", "SinglePartition"),
    # blocklist report is map-only + one lang aggregate: no join, no window
    ("badwords_filter_report", "Join"),
    ("badwords_filter_report", "Window"),
    # exact EWMA: ONE user-partitioned window frame — never a self-join,
    # never a global window
    ("events_ewma_smoothing", "Join"),
    ("events_ewma_smoothing", "SinglePartition"),
    # triangle enumeration: keyed equi-joins only (edges from the map-side
    # pair expansion, never a distinct+self-join), no true product beyond
    # the 1-row stat crosses, no Python
    ("graph_triangle_count", "CartesianProduct"),
    ("graph_triangle_count", "BatchEvalPython"),
    # MAD anomalies: both percentiles window over the user partitioning —
    # never a join-back, never a global window
    ("events_anomaly_mad", "Join"),
    ("events_anomaly_mad", "SinglePartition"),
    # Q21 shape: two lineitem scans + keyed aggregates — the correlated
    # EXISTS/NOT-EXISTS never decorrelates into a product, no Python
    ("waiting_supplier_report", "CartesianProduct"),
    ("waiting_supplier_report", "BatchEvalPython"),
    # z-order layout: map-only interleave + one keyed aggregate — no join
    # beyond the 1-row stats broadcast, no window, no Python
    ("zorder_layout_stats", "Window"),
    ("zorder_layout_stats", "BatchEvalPython"),
    # bitmap distinct: pure aggregates (4KB state per bucket) — no join
    ("bitmap_exact_distinct", "Join"),
    ("bitmap_exact_distinct", "BatchEvalPython"),
    # column profiler: ONE fused aggregate pass — no join, no window
    ("column_profile_orders", "Join"),
    ("column_profile_orders", "Window"),
    # range-partition planning: 1-row cuts broadcast + map-side assignment
    # — never a range-join candidate explosion, no Python
    ("range_partition_balance_report", "CartesianProduct"),
    ("range_partition_balance_report", "BatchEvalPython"),
    # …and its percentile_approx production twin: same contract, plus the
    # whole point — bounded sketch state, never the exact percentile's
    # full value buffer
    ("range_partition_balance_approx", "CartesianProduct"),
    ("range_partition_balance_approx", "BatchEvalPython"),
    ("range_partition_balance_approx", "percentile("),
    # native top-k sketch: one aggregate, no token-keyed corpus shuffle
    # beyond the sketch state, no join, no Python
    ("approx_topk_native", "Join"),
    ("approx_topk_native", "BatchEvalPython"),
    # --- round 13 additions ---
    # steady-state index probes: batch fingerprint/signature equi-joins
    # against the stored index (batch side broadcast) — never a product,
    # never row-at-a-time Python
    ("fpindex_steady_admission", "CartesianProduct"),
    ("fpindex_steady_admission", "BatchEvalPython"),
    ("lshindex_steady_admission", "CartesianProduct"),
    ("lshindex_steady_admission", "BatchEvalPython"),
    ("online_admission_intra_batch", "CartesianProduct"),
    ("online_admission_intra_batch", "BatchEvalPython"),
    ("ann_index_steady_probe", "CartesianProduct"),
    ("ann_index_steady_probe", "BatchEvalPython"),
    # percentile_approx curriculum twin: bounded sketch state — the exact
    # percentile's full value buffer must never reappear, and the rank is
    # the range-exchange form, never a single-partition window
    ("curriculum_pack_order_approx", "percentile("),
    ("curriculum_pack_order_approx", "BatchEvalPython"),
]


@pytest.mark.parametrize("name,fragment", REQUIRED, ids=[f"{n}~{f[:20]}" for n, f in REQUIRED])
def test_plan_contains(spark, name, fragment):
    assert fragment in _plan(spark, name), (
        f"{name}: expected {fragment!r} in physical plan"
    )


@pytest.mark.parametrize("name,fragment", FORBIDDEN, ids=[f"{n}!~{f[:20]}" for n, f in FORBIDDEN])
def test_plan_avoids(spark, name, fragment):
    assert fragment not in _plan(spark, name), (
        f"{name}: {fragment!r} must not appear in physical plan"
    )


def test_scan_prunes_columns(spark):
    """pricing_summary reads exactly the 6 columns it uses (ReadSchema)."""
    plan = _plan(spark, "pricing_summary")
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    # (the plan printer truncates the line; the leading columns are enough to
    # prove pruning, plus the absence of the unused keys)
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_returnflag"):
        assert col in read
    assert "l_partkey" not in read and "l_orderkey" not in read


def test_seeding_never_single_partition_window(spark):
    """IVF/k-means centroid seeding must not pull the corpus through one task:
    no `Exchange SinglePartition` feeding a Window — the hash-stride pick
    compiles to TakeOrderedAndProject (per-partition top-k, driver merge)."""
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.operators.similarity import _seed_centroids
    from scraping_jobsdb_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    seeded = _seed_centroids(emb, 10, "vec_id", "embedding")
    plan = seeded._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_coverage_doc_matches_registry():
    """COVERAGE.md is the document the correctness gate is audited against;
    it must be regenerated in the same commit as any registry change.

    The comparison is pinned to the evidence round RECORDED IN THE DOC: the
    driver writes CORRECTNESS_r{N+1}.json after the builder's final commit,
    so comparing against a render over ALL artifacts made a clean checkout
    pytest-red at the start of every round (r5 and r6 verdicts). Registry
    drift (queries added/removed/re-documented) still fails — only
    newer-than-the-doc driver artifacts are tolerated."""
    import importlib.util
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "gen_coverage", repo / "scripts" / "gen_coverage.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    doc = (repo / "COVERAGE.md").read_text()
    m = re.search(r"Evidence through round (\d+)", doc)
    assert m, "COVERAGE.md predates the evidence-round header — regenerate"
    doc_round = int(m.group(1))
    assert doc_round <= mod.max_artifact_round(), (
        "COVERAGE.md claims a round with no artifact"
    )
    assert doc == mod.render(max_round=doc_round), (
        "COVERAGE.md is stale — run scripts/gen_coverage.py"
    )


def test_python_stages_counts_python_operators(spark):
    """``planlint.python_stages`` counts every operator kind that runs a
    Python worker, once per operator, and nothing in a JVM-only plan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scraping_jobsdb_spark.planlint import python_stages

    df = spark.range(10).withColumn("g", F.col("id") % 2)

    @F.pandas_udf("long")
    def plus(s: pd.Series) -> pd.Series:
        return s + 1

    @F.pandas_udf("double")
    def total(s: pd.Series) -> float:
        return float(s.sum())

    row_udf = F.udf(lambda x: x, "long")

    def ident(batches):
        yield from batches

    grouped = df.groupBy("g")
    cases = {
        "jvm": (df.groupBy("g").count(), 0),
        "arrow": (df.select(plus("id")), 1),
        "row": (df.select(row_udf("id")), 1),
        "arrow_then_row": (df.select(row_udf(plus("id"))), 2),
        "map_in_pandas": (df.mapInPandas(ident, df.schema), 1),
        "map_in_arrow": (df.mapInArrow(ident, df.schema), 1),
        "grouped": (grouped.applyInPandas(lambda p: p, df.schema), 1),
        "cogrouped": (
            grouped.cogroup(grouped).applyInPandas(lambda a, b: a, df.schema),
            1,
        ),
        "aggregate": (grouped.agg(total("id")), 1),
        "window": (df.withColumn("t", total("id").over(Window.partitionBy("g"))), 1),
    }
    got = {name: python_stages(d) for name, (d, _) in cases.items()}
    assert got == {name: n for name, (_, n) in cases.items()}
