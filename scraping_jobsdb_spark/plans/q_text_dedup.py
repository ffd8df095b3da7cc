"""LLM-pipeline: document dedup / text analysis (north-star extensions).

Registry chunk split from plans/queries.py (registration order is
preserved by the import sequence in plans/queries.py; the gate window is
re-applied there). Unused imports are part of the shared chunk header.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.dedup import dedup_exact, dedup_first
from scraping_jobsdb_spark.operators.incremental import new_rows
from scraping_jobsdb_spark.operators.merge import coalesce_merge
from scraping_jobsdb_spark.plans._shared import _dsum, _dsum_sql, _register
from scraping_jobsdb_spark.sources.tables import fan_out, load_table

# ---------------------------------------------------------------------------
# LLM-pipeline: document dedup / text analysis (north-star extensions)
# ---------------------------------------------------------------------------


@_register(
    "doc_exact_dedup",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM all_docs
    ) WHERE rn = 1
    """,
)
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by md5 digest, keep lowest id (LLM-pipeline dedup
    baseline). Duplicates are manufactured deterministically (every 5th doc
    re-appended with a shifted id) since the corpus has none. One shuffle on
    the uniform 128-bit digest — skew-free by construction."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return dedup_exact(docs.unionByName(dupes), ["text"], "doc_id").select("doc_id")


@_register(
    "doc_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           length(regexp_replace(trim(text), '\\s', '', 'g'))
               / len(string_split_regex(trim(text), '\\s+')) AS avg_token_len,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> lower(x) IN ('the','a','an','of','and','or','is','to','in')))
               / len(string_split_regex(trim(text), '\\s+')) AS stop_ratio
    FROM documents
    """,
)
def q_doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text statistics (token count, char count, avg token length, stopword
    ratio) — the quality-filter raw features, all JVM-side array ops (north-
    star text analysis). Ratios are single int/int divisions → bit-identical
    across engines."""
    from scraping_jobsdb_spark.operators.textops import token_count, tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    t = tokens("text")
    stop = F.size(
        F.filter(
            t,
            lambda x: F.lower(x).isin(
                "the", "a", "an", "of", "and", "or", "is", "to", "in"
            ),
        )
    )
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_computed"),
        (
            F.length(F.regexp_replace(F.trim(F.col("text")), r"\s", ""))
            / F.size(t)
        ).alias("avg_token_len"),
        (stop / F.size(t)).alias("stop_ratio"),
    )


@_register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercased
    text — the canonical near-layout dedup key (north-star text analysis)."""
    from scraping_jobsdb_spark.operators.textops import fingerprint

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint("text").alias("fp"))


@_register(
    "doc_lang_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t, text
        FROM documents
    )
    SELECT doc_id, lang,
        CASE
          WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'
          WHEN len(list_filter(t, x -> lower(x) IN ('the','a','of','and','is')))
                 >= len(list_filter(t, x -> lower(x) IN ('der','und','die','ist','das')))
           AND len(list_filter(t, x -> lower(x) IN ('the','a','of','and','is')))
                 >= len(list_filter(t, x -> lower(x) IN ('el','la','de','es','los')))
           AND len(list_filter(t, x -> lower(x) IN ('the','a','of','and','is'))) > 0
            THEN 'en'
          WHEN len(list_filter(t, x -> lower(x) IN ('der','und','die','ist','das')))
                 >= len(list_filter(t, x -> lower(x) IN ('el','la','de','es','los')))
           AND len(list_filter(t, x -> lower(x) IN ('der','und','die','ist','das'))) > 0
            THEN 'de'
          WHEN len(list_filter(t, x -> lower(x) IN ('el','la','de','es','los'))) > 0
            THEN 'es'
          ELSE 'unknown'
        END AS lang_pred,
        0.4 * (CASE WHEN len(t) >= 10 AND len(t) <= 100000 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (CASE WHEN len(list_filter(t, x -> lower(x) IN
                        ('the','a','an','of','and','or','is','to','in'))) / len(t)
                        BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) / length(text))
          AS quality
    FROM toks
    """,
)
def q_doc_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word counts, CJK short-circuit) +
    composite quality score (length band, stopword band, alphabetic purity) —
    the north-star quality-filter pair, entirely built-in expressions."""
    from scraping_jobsdb_spark.operators.textops import lang_guess, quality_score

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        lang_guess("text").alias("lang_pred"),
        quality_score("text").alias("quality"),
    )


@_register(
    "doc_ngram_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.toks, b.toks))
             / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    """,
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity (n=1 token sets) between consecutive doc
    pairs — the verification predicate of the near-dup family. Single
    int/int division → exact. At scale the pair source is LSH candidates
    (see minhash_neardup_pairs), not a quadratic self-join."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")).alias("toks")
    )
    a = t.alias("a")
    b = t.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("doc_id").alias("id_b"),
        F.col("toks").alias("toks_b"),
    ).alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.join_id"))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("toks_b")))
    union = F.size(F.array_distinct(F.concat(F.col("a.toks"), F.col("toks_b"))))
    return joined.select(
        F.col("a.doc_id").alias("id_a"),
        "id_b",
        (inter / union).alias("jaccard"),
    )


@_register("minhash_neardup_pairs", oracle=None)
def q_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs over documents with
    deterministically-injected near-dups (every 10th doc re-appended with its
    last word dropped). Non-SQL-expressible (seeded xxhash64 permutations) →
    rows-only check; pair quality is asserted in tests/test_similarity.py.
    The operator fans its input out itself."""
    from scraping_jobsdb_spark.operators.similarity import minhash_candidate_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return minhash_candidate_pairs(
        docs.unionByName(near), "doc_id", "text", k=32, bands=8
    )


@_register("simhash_neardup_pairs", oracle=None)
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming ≤ 3 over 64-bit fingerprints,
    16-bit-chunk banding) over the same injected near-dups. Rows-only check;
    quality asserted in tests/test_similarity.py."""
    from scraping_jobsdb_spark.operators.similarity import simhash_candidate_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return (
        # max_bucket opt-in (library default None preserves full recall):
        # the deployed posture caps hot-band fan-in, same as the portable form
        simhash_candidate_pairs(
            docs.unionByName(near), "doc_id", "text", max_bucket=256
        ).filter(F.col("hamming") <= 3)
    )




@_register(
    "exact_substring_dedup_spans",
    oracle=r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id,
               regexp_replace(text, '\s+\S+$', '') AS text
        FROM documents WHERE doc_id % 10 = 0
    ), toks AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\s+') AS t
        FROM corpus WHERE text IS NOT NULL
    ), win AS (
        SELECT doc_id, t,
               unnest(range(0, CASE WHEN len(t) >= 8
                                    THEN len(t) - 8 + 1 ELSE 0 END)) AS pos
        FROM toks
    ), grams AS (
        SELECT doc_id, pos, array_to_string(t[pos + 1 : pos + 8], ' ') AS gram
        FROM win
    ), dupg AS (
        SELECT gram FROM grams GROUP BY 1 HAVING COUNT(*) >= 2
    ), dwin AS (
        SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gram)
    ), marked AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(
                   MAX(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   -1)
               THEN 1 ELSE 0 END AS new_span
        FROM dwin
    ), spans AS (
        SELECT doc_id, pos,
               SUM(new_span) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS span_id
        FROM marked
    ), agg_span AS (
        SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 7 AS e,
               COUNT(*) AS nw
        FROM spans GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               SUM(e - s + 1) AS n_masked_tokens,
               SUM(nw) AS n_dup_windows
        FROM agg_span GROUP BY 1
    )
    SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(p.n_masked_tokens, 0) AS BIGINT) AS n_masked_tokens,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans
    FROM toks b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q_exact_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (operators/textops.py exact_substring_spans —
    the Lee et al. 2022 suffix-array method, re-expressed as its
    distributable equivalent): per document, the token spans covered by
    exact ≥ 8-token substrings appearing more than once in the corpus —
    a position is inside a suffix-array maximal repeat ≥ L iff a
    duplicated L-window covers it, so the masked-position set is
    IDENTICAL to the paper's formulation while the plan is one gram
    aggregate + one equi-join + a per-doc interval merge (no suffix
    array, nothing corpus-sized in one task). Corpus = documents plus
    truncated near-copies of every 10th doc, so the sources and copies
    both surface with near-total masked spans while clean docs report
    zeros. All-integer output, hash-oracled end to end (the window
    rule replays as the same gaps-and-islands SQL in DuckDB)."""
    from scraping_jobsdb_spark.operators.textops import exact_substring_spans

    docs = fan_out(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return exact_substring_spans(
        docs.unionByName(near), min_len=8
    )
