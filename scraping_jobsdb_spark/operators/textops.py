"""Text-analysis operators for large-scale document pipelines.

North-star extensions over the ``documents`` table (BASELINE.json): language
identification, quality scoring, token counting, and document fingerprinting.
The reference's only text processing is the BeautifulSoup extraction UDF
(``spark/lib/utils.py:10-125``); these operators generalize that single
document column into the text-pipeline toolkit an LLM-data engine needs.

Everything here is built-in-function only (no Python UDFs): tokenization is
``split``, counting is higher-order array functions, hashing is xxhash64/md5 —
all whole-stage-codegen'd JVM expressions that scale linearly with no shuffle
(per-row map work) until an aggregation is requested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "tokens",
    "token_count",
    "avg_token_length",
    "stopword_ratio",
    "alpha_ratio",
    "quality_score",
    "lang_guess",
    "fingerprint",
    "with_text_stats",
    "gopher_quality_flags",
    "compression_ratio",
    "bpe_ish_token_count",
    "tfidf_top_terms",
    "winnowing_fingerprints",
    "winnowing_fingerprint_set",
    "fingerprint_containment_pairs",
    "redact_pii",
    "repetition_stats",
    "top_ngrams",
    "chunk_documents",
    "bm25_rank",
    "decontaminate_ngram_overlap",
    "unigram_surprisal",
    "bigram_surprisal",
    "dedup_segments_global",
    "exact_substring_spans",
    "incremental_containment_filter",
    "containment_verdict",
    "bpe_pair_counts",
    "bpe_train",
    "bpe_encode",
    "normalize_text",
    "nb_quality_scores",
    "nb_train",
    "dsir_importance_topk",
    "boilerplate_span_removal",
    "token_entropy",
    "pmi_top_pairs",
    "lang_kl_divergence",
    "quality_ensemble",
    "langid_trigram_confusion",
]

# Tiny embedded stopword lists for the n-gram/marker-word language heuristic.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "und", "die", "ist", "das"),
    "es": ("el", "la", "de", "es", "los"),
}

_EN_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token count via an Arrow-vectorized pandas_udf.

    Counts pre-tokenizer units (letter runs | digit runs | single
    non-alphanumeric) — the segmentation BPE vocabularies assume, so the
    count tracks real tokenizer token counts far better than whitespace
    splitting on code/punctuated text. Python is deliberate here (§2.8
    surface): one regex pass per value over Arrow batches, no per-row pickle.
    """
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pat = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]")

    def _count(s):
        return s.map(lambda t: len(pat.findall(t)) if t is not None else None)

    # Real (non-string) annotations: ``from __future__ import annotations``
    # would stringify inline hints, which pandas_udf can't resolve.
    _count.__annotations__ = {"s": pd.Series, "return": pd.Series}
    counter = pandas_udf(_count, "bigint")
    c = F.col(col) if isinstance(col, str) else col
    return counter(c)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def avg_token_length(col: Column | str) -> Column:
    """Mean token length; single double division → deterministic."""
    t = tokens(col)
    total = F.aggregate(t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
    return total / F.size(t)


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = _EN_STOPWORDS) -> Column:
    t = tokens(col)
    n_stop = F.size(F.filter(t, lambda x: F.lower(x).isin(*stopwords)))
    return n_stop / F.size(t)


def alpha_ratio(col: Column | str) -> Column:
    """Fraction of characters that are a-z/A-Z or space (junk detector)."""
    c = F.col(col) if isinstance(col, str) else col
    clean = F.length(F.regexp_replace(c, r"[^A-Za-z ]", ""))
    return clean / F.length(c)


def quality_score(col: Column | str) -> Column:
    """Composite quality heuristic in [0,1]: length band + stopword presence
    + alphabetic purity. Mirrors the length/punct/stopword-ratio family of
    pretraining quality filters; fixed weights keep it deterministic.

    Built as ONE parsed SQL expression when given a column NAME (every
    engine call site does): the Column-DSL form cost ~0.5 s of py4j
    driver wall per build (measured r14, guide §5) and this scalar is
    constructed by six query families. `if(cond, x, y)` replays
    `when/otherwise` exactly (a NULL condition takes the else branch),
    the `D` suffixes pin the same double literals, and int/int `/` maps
    to the same Divide — values are bit-identical (hash-oracled)."""
    if not isinstance(col, str):
        n_tok = token_count(col)
        length_ok = F.when(
            (n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)
        ).otherwise(F.lit(0.0))
        stop = stopword_ratio(col)
        stop_ok = F.when((stop >= 0.01) & (stop <= 0.6), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        return (
            0.4 * length_ok + 0.3 * stop_ok + 0.3 * alpha_ratio(col)
        ).cast("double")
    c = f"`{col}`"
    t = f"split(trim({c}), '\\\\s+')"
    stops = ", ".join(f"'{w}'" for w in _EN_STOPWORDS)
    stop_ratio = (
        f"(size(filter({t}, x -> lower(x) in ({stops}))) / size({t}))"
    )
    return F.expr(
        f"cast(0.4D * if(size({t}) >= 10 and size({t}) <= 100000, 1.0D, 0.0D)"
        f" + 0.3D * if({stop_ratio} >= 0.01D and {stop_ratio} <= 0.6D,"
        " 1.0D, 0.0D)"
        f" + 0.3D * (length(regexp_replace({c}, '[^A-Za-z ]', ''))"
        f" / length({c})) as double)"
    )


def lang_guess(col: Column | str) -> Column:
    """Marker-word language heuristic: count per-language stopword hits over
    the token set; highest count wins (CJK-codepoint presence short-circuits
    to 'zh'). Ties resolve in fixed order en > de > es > unknown."""
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(c)
    def _marker_count(markers: tuple[str, ...]) -> Column:
        # NB: the predicate must be a 1-arg lambda — F.filter treats a second
        # parameter as the element-index argument.
        return F.size(F.filter(t, lambda x: F.lower(x).isin(*markers)))

    counts = {lang: _marker_count(markers) for lang, markers in _LANG_MARKERS.items()}
    has_cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", "")) > 0
    en, de, es = counts["en"], counts["de"], counts["es"]
    return (
        F.when(has_cjk, F.lit("zh"))
        .when((en >= de) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= es) & (de > 0), F.lit("de"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of whitespace-normalized lowercased text.
    The canonical key for exact near-layout dedup (same words, different
    spacing/case collapse to one digest).

    Collapse runs FIRST, trim second: Spark ``trim`` strips only spaces, so
    trimming first would leave a trailing tab to survive as a collapsed
    space and split the digest (found by hypothesis,
    tests/test_properties.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full stats family in one projection (single map stage)."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        F.length(text_col).alias("n_chars_computed"),
        avg_token_length(text_col).alias("avg_token_len"),
        stopword_ratio(text_col).alias("stop_ratio"),
        alpha_ratio(text_col).alias("alpha_ratio"),
        quality_score(text_col).alias("quality"),
        lang_guess(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fp"),
    )


def compression_ratio(col: Column | str) -> Column:
    """zlib compression ratio of the UTF-8 text (compressed/raw bytes) — the
    classic redundancy signal (C4/Gopher family): templated or repetitive
    boilerplate compresses far below prose, random junk barely compresses
    at all. Python is required (no JVM zlib expression), so this is the
    Arrow path: one vectorized pandas_udf, level-6 zlib, deterministic for
    a given zlib version. Rounded to 6 dp. NULL/empty text → NULL."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _ratio(s):
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        return s.map(one)

    _ratio.__annotations__ = {"s": pd.Series, "return": pd.Series}
    f = pandas_udf(_ratio, "double")
    c = F.col(col) if isinstance(col, str) else col
    return f(c)


# Gopher rule-filter stopword set (Rae et al. 2021, §A1.1: "contains at
# least two of the following English words").
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Gopher-style rule filters (Rae et al. 2021 §A1.1) as one map-only
    projection — the pretraining quality gate that sits upstream of every
    dedup/mixing stage. Extends `quality_score`'s scalar heuristic into the
    per-rule flag set a curation pipeline audits and tunes.

    Every statistic is an INTEGER (counts) and every flag a boolean derived
    from cross-multiplied integer comparisons (e.g. mean word length in
    [3, 10] ⇔ 3·n_words ≤ sum_word_chars ≤ 10·n_words), so the output is
    engine-exact — no double ratio ever crosses the oracle gate. The token
    array is staged once behind an alias and consumed by all rules (the
    map-only staged-array shape; inlining it would re-split per rule).

    Rules: word count in [50, 100 000]; mean word length in [3, 10];
    symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1; < 90 % of lines
    bullet-led; ≤ 30 % of lines ellipsis-terminated; ≥ 2 distinct Gopher
    stopwords present. `keep` is the conjunction. Scale: pure map over the
    corpus — no shuffle, no UDF, whole-stage codegen end to end."""
    # SQL-string construction (one F.expr parse per stage) instead of the
    # Column-DSL lambda trees: ~0.4 s of py4j driver wall per build before
    # (measured r14, guide §5); expressions and values unchanged.
    staged = df.select(
        *[F.col(i) for i in id_cols],
        F.col(text_col).alias("__t"),
        F.expr(f"split(trim(`{text_col}`), '\\\\s+')").alias("__ws"),
        F.expr(f"split(`{text_col}`, '\\\\n')").alias("__lines"),
    )
    sum_chars = (
        "aggregate(__ws, cast(0 as bigint), (a, x) -> a + length(x))"
    )
    n_hash = "length(__t) - length(regexp_replace(__t, '#', ''))"
    n_ellipsis = (
        "(length(__t) - length(regexp_replace(__t, '\\\\.\\\\.\\\\.', '')))"
        " / 3"
    )
    n_bullet = (
        "size(filter(__lines, ln -> ln rlike '^\\\\s*[-*•]'))"
    )
    n_ell_lines = (
        "size(filter(__lines, ln -> ln rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$'))"
    )
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS) + ")"
    n_stop = (
        f"size(filter({stop_arr}, "
        "w -> array_contains(transform(__ws, x -> lower(x)), w)))"
    )
    stats = staged.select(
        *[F.col(i) for i in id_cols],
        F.expr("cast(size(__ws) as bigint)").alias("n_words"),
        F.expr(sum_chars).alias("sum_word_chars"),
        F.expr(f"cast({n_hash} + {n_ellipsis} as bigint)").alias("n_symbols"),
        F.expr("cast(size(__lines) as bigint)").alias("n_lines"),
        F.expr(f"cast({n_bullet} as bigint)").alias("n_bullet_lines"),
        F.expr(f"cast({n_ell_lines} as bigint)").alias("n_ellipsis_lines"),
        F.expr(f"cast({n_stop} as bigint)").alias("n_stopwords_present"),
    )
    w, sc, sym = F.col("n_words"), F.col("sum_word_chars"), F.col("n_symbols")
    flags = stats.select(
        "*",
        ((w >= 50) & (w <= 100_000)).alias("flag_word_count"),
        ((sc >= 3 * w) & (sc <= 10 * w)).alias("flag_mean_word_len"),
        (10 * sym <= w).alias("flag_symbol_ratio"),
        (10 * F.col("n_bullet_lines") < 9 * F.col("n_lines")).alias(
            "flag_bullet_lines"
        ),
        (10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines")).alias(
            "flag_ellipsis_lines"
        ),
        (F.col("n_stopwords_present") >= 2).alias("flag_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("flag_word_count")
            & F.col("flag_mean_word_len")
            & F.col("flag_symbol_ratio")
            & F.col("flag_bullet_lines")
            & F.col("flag_ellipsis_lines")
            & F.col("flag_stopwords")
        ).alias("keep"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document, entirely in built-in expressions.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed).
    The DF table is one aggregate over (doc, term) distinct pairs and joins
    back broadcast when small; ranking is a per-doc window with (score desc,
    term) total order so ties break deterministically.

    Scale: two shuffles (the (doc_id, term) count and the df aggregate); the
    join-back broadcasts the df side while vocabularies fit (~10^6 terms),
    else it's a plain shuffled join on term — both fine because every
    expression is JVM-side.
    """
    n_docs = docs.count()  # tiny driver scalar, same role as a COUNT check
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("term"),
    )
    # materialized once: both the DF table and the scored join consume the
    # (doc, term) counts, and Catalyst does not reuse the exchange across
    # the two references — without the pin the tokenize+explode+agg stage
    # runs twice (verified in the executed plan)
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "term").withColumn(
        "score",
        F.col("tf")
        * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + F.lit(1.0)),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "score", F.col("rank").cast("bigint").alias("rank"))
    )


# ------------------------------------------------------------ PII scrubbing

# Patterns restricted to the regex subset Java (Spark) and RE2 (DuckDB and
# most data tooling) evaluate identically: no lookaround, no backreferences.
# Redaction order matters and is part of the contract: emails first (their
# local part can contain digit runs a later pass would misread), then IPs
# (dotted digit runs), then phone-shaped digit runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]\d{3}[ -]\d{3,4}[ -]\d{2,4}", "<PHONE>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII scrub — the compliance pass every training-data
    pipeline runs before anything else sees the text. Output: the id, the
    redacted text, and one match-count column per PII class
    (``n_email``/``n_ip``/``n_phone``).

    Pure JVM expressions (``regexp_count`` + chained ``regexp_replace``),
    so the pass is map-only: no shuffle, linear scan, whole-stage codegen.
    The patterns avoid lookaround/backreferences on purpose — they mean
    the same thing to Java regex and RE2, so an external auditor (or the
    DuckDB oracle) reproduces the redaction byte-for-byte.
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = F.col(text_col)
    for _name, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return df.select(
        id_col, redacted.alias("text_redacted"), *counts
    )


# ----------------------------------------------------------------- chunking


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the context-
    window prep step every training/RAG pipeline runs on long documents.
    Output: (id, chunk_id, n_words, chunk_text); chunk k starts at word
    ``k * (chunk_size - overlap)``, the last chunk may be short, and a doc
    shorter than one chunk yields itself as chunk 0.

    Map-only: split → sequence of starts → posexplode → slice+concat, all
    JVM expressions with no shuffle and no UDF — chunking 100 TB costs
    exactly one pass over the scan. Deterministic given (chunk_size,
    overlap), so the whole operator is value-hash oracle-able."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__w") - 1, F.lit(0)), F.lit(step)
    )
    return (
        docs.select(id_col, words.alias("__w"))
        .select(id_col, F.posexplode(starts).alias("chunk_id", "__start"), "__w")
        .select(
            id_col,
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.least(
                F.size("__w") - F.col("__start"), F.lit(chunk_size)
            ).cast("bigint").alias("n_words"),
            F.concat_ws(
                " ", F.slice("__w", F.col("__start") + 1, F.lit(chunk_size))
            ).alias("chunk_text"),
        )
    )


# ----------------------------------------------------------- repetition / ngrams


def _word_ngrams(
    docs: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, gram) rows: whitespace word-level n-grams, MAP-ONLY — the word
    array is staged behind an alias in its own projection, gram strings are
    built in-array (slice + concat_ws per position), and only the finished
    grams are exploded. No shuffle: the previous posexplode + lead()-window
    form exchanged one row per WORD of the corpus through a doc_id window
    before any consumer aggregated (same migration as
    ``winnowing_fingerprint_set``; the staged alias is what keeps
    CollapseProject from re-inlining the split per position — see the
    physical-shape note there)."""
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    st1 = docs.select(id_col, ws.alias("__ws"))
    nw = F.size("__ws")
    idx = F.when(nw >= n, F.sequence(F.lit(0), nw - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("__ws", i + 1, n)))
    return st1.select(id_col, F.explode(grams).alias("gram"))


def repetition_stats(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition profile: per doc, total word n-grams vs
    distinct word n-grams — the Gopher-style quality signal (a high
    duplicate-gram fraction flags boilerplate/spam/generated loops).
    Output keeps both counts as integers (engine-exact, fully oracle-able);
    the ratio is one division away for the consumer who wants it."""
    return (
        _word_ngrams(docs, n, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("n_distinct_grams"),
        )
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide most-frequent word n-grams — the boilerplate detector
    (headers, footers, license blurbs) whose output feeds stop-gram lists
    for the fingerprinting joins. One partial-aggregated shuffle on the
    gram, then a global top-k with a (count desc, gram) total order so the
    cut is deterministic. At 100 TB the gram counts combine map-side, and
    the final top-k reduces a already-aggregated stream."""
    counts = (
        _word_ngrams(docs, n, text_col, id_col)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    # top-k FIRST (TakeOrderedAndProject — parallel partial top-k per
    # partition, no global sort), then rank within the ≤k survivors; a
    # global row_number over every distinct gram would funnel the whole
    # vocabulary through one partition
    topk = counts.orderBy(F.col("n_occurrences").desc(), F.col("gram")).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("gram"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("gram", "n_occurrences", F.col("rank").cast("bigint").alias("rank"))
    )


def decontaminate_ngram_overlap(
    train: DataFrame,
    test: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap — the GPT-3-style
    sweep that flags training documents sharing verbatim passages with an
    evaluation set (exact-fingerprint dedup misses a benchmark question
    quoted INSIDE a larger page; shared n-grams catch it). Output: one row
    per contaminated train doc — (id, n_hit_grams = distinct n-grams it
    shares with ANY test doc, ≥ ``min_overlap``); anti-join the ids to
    scrub.

    Scale shape: both sides reduce to distinct gram sets (posexplode +
    lead() per-doc windows — the linear winnowing gram build, nothing
    quadratic); the benchmark side collapses to a bare gram set that is
    orders of magnitude smaller than the corpus and BROADCASTS into the
    probe join, so the corpus is never shuffled on gram — one pass + one
    per-doc aggregate. At a benchmark too large to broadcast this becomes
    a plain shuffled equi-join on gram with the same semantics.
    """
    train_grams = _word_ngrams(train, n, text_col, id_col).distinct()
    test_grams = (
        _word_ngrams(test, n, text_col, id_col).select("gram").distinct()
    )
    return (
        train_grams.join(F.broadcast(test_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
        .filter(F.col("n_hit_grams") >= min_overlap)
    )


def unigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram surprisal under the corpus's own unigram
    model — the cheap language-model quality score: documents of common
    words score low (boilerplate), documents of rare words score high
    (noise/garble); both tails are what quality filters cut. For doc D,
    mean over tokens t of -ln P(t), with P(t) = count(t) / total tokens
    (the corpus MLE). Output: (id, n_tokens, surprisal_nats).

    Shape: tokenize-explode → one (term) count aggregate → broadcast join
    of the term table back onto the token stream → per-doc aggregate. Two
    shuffles total (term counts, doc grouping), the same physical plan
    family as TF-IDF. Determinism: each token's surprisal is rounded to
    9 dp (ln is the one non-IEEE-portable op) and summed through
    DECIMAL(30,9) — order-independent, and the scaled sum stays far below
    2^53 so no engine's decimal→double cast double-rounds (NOTES_r4)."""
    toks = docs.select(
        id_col,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    )
    toks = toks.localCheckpoint()  # consumed by the model AND the scoring join
    model = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    total = model.agg(F.sum("tc")).first()[0]
    scored = toks.join(F.broadcast(model), "term").select(
        id_col,
        F.round(-F.log(F.col("tc") / F.lit(float(total))), 9)
        .cast("decimal(30,9)")
        .alias("__s"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("__s").cast("double") / F.count(F.lit(1))).alias("surprisal_nats"),
    )


# -------------------------------------------------------------------- BM25


def bm25_rank(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 25,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranking of documents against a small bag of query terms —
    the retrieval scorer RAG/eval pipelines run over a corpus (TF-IDF's
    ranking-grade sibling; ``tfidf_top_terms`` profiles documents, this
    answers queries).

    Shape, chosen for the 100 TB case: per-term tf and the doc length are
    map-only array expressions over the scan (no tokenize-explode shuffle —
    the query vocabulary is tiny and known, so each tf is one
    ``size(filter(tokens))``); the corpus statistics (N, Σdl, per-term df)
    are ONE global aggregate whose single row is broadcast back via a
    cross join; scoring is again map-only and the top-k is a
    TakeOrderedAndProject (per-partition partial top-k, no global sort).
    Net cost: one pass over the corpus plus a 1-row exchange.

    idf uses the non-negative smoothed form ln(1 + (N - df + .5)/(df + .5)).
    The score is rounded to 9 decimals BEFORE ranking so double summation-
    order / libm last-ulp differences can't flip a rank vs an external
    re-implementation (same contract as ``brute_force_topk_np``); ties at
    the rounded value break on the id. Output: (id, dl, bm25).
    """
    toks = tokens(text_col)

    # 1-arg closure per term: a `lambda x, t=t:` default would make F.filter
    # pass the element INDEX as the second argument (see lang_guess note)
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    base = docs.select(
        id_col,
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, _eq(t))).alias(f"__tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("dl").alias("__sum_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("bigint")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n_docs = F.col("__n_docs").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n_docs
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        df_t = F.col(f"__df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n_docs - df_t + 0.5) / (df_t + 0.5))
        score = score + idf * tf * F.lit(k1 + 1.0) / (tf + norm)
    return (
        scored.select(
            id_col, F.col("dl").cast("bigint").alias("dl"), F.round(score, 9).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(k)
    )


# --------------------------------------------------------------- winnowing

WINNOW_BASE = 257
WINNOW_MOD = 1_000_000_007


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document winnowing-style fingerprint summary from k-gram rolling
    hashes — the scalable document-fingerprinting primitive (near-dup
    screening, plagiarism-style containment, shard-local sketches).

    Rolling hash: h(i) = (sum_j code(s[i+j]) * B^(k-1-j)) mod M over the
    whitespace-normalized lowercased text, B=257, M=1e9+7 — pure 64-bit
    integer arithmetic (every intermediate < 255 * M << 2^63), bit-identical
    in any engine that follows the formula (the DuckDB oracle recomputes it
    independently), built entirely from JVM expressions: no UDF anywhere.

    Selection rule (deterministic, engine-portable): position i is selected
    iff h(i) equals the minimum hash of the trailing window
    [i-w+1 .. i] — every w-window's entering minimum, the right-anchored
    variant of Schleimer/Wilkerson/Aiken winnowing (guarantees at least one
    selection per w consecutive grams; integer-only, so no float
    tie-breaking ambiguity). Output per doc: fingerprint count and the sum
    of the distinct selected hashes (a compact integer sketch that any
    engine reproduces bit-exactly).

    Physical shape — learned the hard way (all measured at sf0.1):
    per-position ``substr(s, i, 1)`` is O(i) on byte-addressed UTF8 strings
    (the whole doc goes quadratic: 251 s), and computing the char-code and
    gram-hash arrays INLINE in one projection duplicates the producing
    expression into every consumer lambda (the array recomputed per
    position — quadratic again). The stable form stages each array behind
    an alias in its OWN projection (codes → gram hashes → window minima):
    CollapseProject keeps the boundaries because each alias is referenced
    more than once by non-cheap higher-order expressions, so every array
    materializes once per row. The whole selection is then MAP-ONLY — no
    explode, no window, NO SHUFFLE — where the previous char-explode +
    lead()-window form shuffled one row per character of the corpus
    (an Exchange the size of the text itself; at 100 TB that shuffle, not
    the arithmetic, is the bottleneck). Local throughput is identical;
    the fingerprint sets are bit-identical (verified old-vs-new).

    Scale: for 100 TB the partition count follows the scan; nothing is
    materialized beyond the per-row arrays, and the first exchange in any
    consumer moves only (id, fingerprint) pairs — ~w-fold smaller than
    the text, vs a full char-stream shuffle before.
    """
    return (
        winnowing_fingerprint_set(docs, k, w, text_col, id_col)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum("h").alias("fp_sum"),
        )
    )


def winnowing_fingerprint_set(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The distinct selected fingerprint hashes per document — (id, h) rows,
    the winnowing selection itself (see ``winnowing_fingerprints`` for the
    hash formula, selection rule, and the physical-shape rationale).

    Map-only: each projection stage materializes one per-row array
    (char codes → gram hashes → trailing-window minima), the selection
    filters/dedups in-array, and only the final small fingerprint set is
    exploded to rows. No shuffle anywhere — the stage boundaries between
    the aliased arrays are load-bearing (see the physical-shape note
    above); collapsing them re-inlines the producing expression per
    element and goes quadratic.
    """
    # Expressions are built as SQL strings (one F.expr parse per stage)
    # rather than Column-DSL lambda trees: the higher-order-function
    # builders here cost hundreds of py4j round-trips per call and this
    # operator is constructed 3-4x per index-lifecycle query (~0.25 s of
    # driver wall each, measured r14 — guide §5). Expressions, stage
    # boundaries, and every output value are unchanged (hash oracles +
    # golden tests).
    powers = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]
    s = f"regexp_replace(lower(trim(`{text_col}`)), '\\\\s+', ' ')"
    codes = f"transform(split({s}, ''), c -> cast(ascii(c) as bigint))"
    st1 = docs.select(id_col, F.expr(codes).alias("__codes"))

    # gram positions 0..n-k; guard: sequence(0, negative) would DESCEND
    idx = (
        f"if(size(__codes) >= {k}, sequence(0, size(__codes) - {k}), "
        "cast(array() as array<int>))"
    )
    # every intermediate < 255 * MOD << 2^63 — no overflow
    gram = (
        "(cast(0 as bigint)"
        + "".join(
            f" + element_at(__codes, i + {j + 1}) * {p}"
            for j, p in enumerate(powers)
        )
        + f") % {WINNOW_MOD}"
    )
    st2 = st1.select(
        id_col, F.expr(f"transform({idx}, i -> {gram})").alias("__hs")
    )

    # trailing-window minimum at each position: min(hs[max(0,i-w+1) .. i])
    wmins = (
        "transform(sequence(0, size(__hs) - 1), i -> "
        f"array_min(slice(__hs, greatest(i - {w} + 2, 1), "
        f"least(i + 1, {w}))))"
    )
    st3 = st2.select(
        id_col,
        "__hs",
        F.expr(
            f"if(size(__hs) > 0, {wmins}, cast(array() as array<bigint>))"
        ).alias("__wm"),
    )
    selected = (
        "array_distinct(filter("
        "zip_with(__hs, __wm, (h, mn) -> if(h = mn, h, null)), "
        "x -> x is not null))"
    )
    return st3.select(id_col, F.expr(f"explode({selected})").alias("h"))


def fingerprint_containment_pairs(
    docs: DataFrame,
    threshold_milli: int = 800,
    k: int = 8,
    w: int = 4,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs whose winnowing-fingerprint overlap covers at least
    ``threshold_milli``/1000 of the SMALLER document's fingerprint set —
    the containment (near-dup / plagiarism-style) join over the sketch.

    All-integer: shared counts and set sizes are ints and the threshold is
    applied by cross-multiplication (shared * 1000 >= t * min(|A|, |B|)),
    so the result is engine-exact — a fully oracle-able near-dup operator,
    unlike seeded-hash LSH candidates.

    Scale shape: one equi-join on the fingerprint hash — the LSH-banding
    economics (only docs sharing a selected gram ever meet). Stop-gram
    guard: hashes selected by more than ``max_df`` documents are dropped
    before the join (boilerplate grams shared by half the corpus would
    otherwise quadratically expand the pair stream; identical to the
    max_bucket guard on MinHash bands; a PPJoin prefix filter on top was
    measured slower — see the inline note). Containment is measured over
    the PRUNED sets — sizes and shared counts from the same universe —
    otherwise growing the corpus (which turns ever more grams into
    stop-grams) silently deflates every ratio toward zero. Deterministic
    given (k, w, max_df)."""
    # Stop-gram pruning as ONE pass: document frequency is a count() window
    # over h — the same shuffle the old groupBy(h)+join-back pair paid
    # twice (agg exchange + join exchange of the full (id, h) stream), and
    # it removes the intermediate `rare` frame entirely. The pruned set is
    # then materialized ONCE for its three consumers (sizes + both
    # self-join sides) — Catalyst does not reuse the exchange across them
    # (verified: without this the char-explode subtree appears 8x in the
    # executed plan). r14: was two localCheckpoints (fps + pruned), i.e.
    # two eager materialization jobs and two pinned copies, for the same
    # result.
    #
    # Measured non-optimization (r15, interleaved same-box 10x sweeps): a
    # PPJoin-style PREFIX-FILTERED candidate join (rarest-first (df, h)
    # per-doc vectors; only the smaller side's first n−α+1 fingerprints
    # generate candidates; exact array_intersect verify) was value-
    # identical and cut the pair-join fan-in as designed, but measured
    # NEUTRAL at the base point and 9-14% SLOWER at 10x on both consumer
    # families (winnowing_containment_pairs big point 7.7→8.4 s,
    # dedup_keep_best_quality 14.8→16.2 s): with max_df=50 already
    # capping every cell, the quadratic it bounds is not the binding
    # cost, while the per-doc collect_list/array_sort aggregate, the
    # candidate distinct, and the two verify joins are new corpus-sized
    # work. Kept the exhaustive-cell form; revisit only if max_df is
    # ever raised.
    from pyspark.sql import Window as _W

    fps = winnowing_fingerprint_set(docs, k, w, text_col, id_col)
    pruned = (
        fps.withColumn("__df", F.count(F.lit(1)).over(_W.partitionBy("h")))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
        .localCheckpoint()
    )
    sizes = pruned.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a = pruned.select(F.col(id_col).alias("id_a"), "h")
    b = pruned.select(F.col(id_col).alias("id_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("fp_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("fp_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("shared_fp") * 1000
            >= F.lit(threshold_milli) * F.least("fp_a", "fp_b")
        )
        .select("id_a", "id_b", "shared_fp", "fp_a", "fp_b")
    )


# ------------------------------------------------- cross-corpus line dedup


def dedup_segments_global(
    docs: DataFrame,
    segment_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4/RefinedWeb-style exact line deduplication ACROSS the corpus: split
    every document into fixed-width word segments (the "lines" of a corpus
    without newline structure), keep only the globally-FIRST occurrence of
    each distinct segment under the total order (doc id, position), and
    reassemble each document from its surviving segments.

    Output: (id, text_dedup, n_segments_kept) — documents whose every
    segment was seen earlier disappear entirely, exactly like C4's
    three-sentence-span dedup drops fully-boilerplate pages.

    Scale shape: map-only segmentation (split → sequence → posexplode →
    slice, no UDF), ONE shuffle on the segment text for the
    first-occurrence window, one shuffle on the doc id to reassemble.
    Segment strings can be md5'd before the window at 100 TB to cut
    shuffle bytes (the semantics are identical modulo collisions); kept
    plain here so the operator is value-hash oracle-able.

    Deterministic: first occurrence is row_number over (id, position) — a
    total order — never an arbitrary DISTINCT.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__w") - 1, F.lit(0)), F.lit(segment_words)
    )
    segs = (
        docs.select(id_col, words.alias("__w"))
        .select(id_col, F.posexplode(starts).alias("seg_id", "__start"), "__w")
        .select(
            id_col,
            F.col("seg_id").cast("bigint").alias("seg_id"),
            F.concat_ws(
                " ", F.slice("__w", F.col("__start") + 1, F.lit(segment_words))
            ).alias("seg"),
        )
    )
    first = Window.partitionBy("seg").orderBy(id_col, "seg_id")
    kept = (
        segs.withColumn("__rn", F.row_number().over(first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("seg_id", "seg"))).alias("__ss"))
        .select(
            id_col,
            F.concat_ws(
                " ", F.transform("__ss", lambda s: s["seg"])
            ).alias("text_dedup"),
            F.size("__ss").cast("bigint").alias("n_segments_kept"),
        )
    )


# --------------------------------------------- incremental batch-vs-corpus


def incremental_containment_filter(
    batch: DataFrame,
    corpus: DataFrame,
    threshold_milli: int = 800,
    k: int = 8,
    w: int = 4,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-crawl dedup: score every NEW document (``batch``) against
    the EXISTING corpus by winnowing-fingerprint containment, the decision an
    ongoing ingest pipeline makes on each arriving batch (the scale mapping
    of the reference's per-run "skip already-scraped job ids" anti-join,
    ``airflow/dags/scrape_url.py`` — there by exact key, here by content).

    Output, one row per batch document: (id, n_fp, n_dup_of, kept) where
    ``n_dup_of`` counts corpus documents containing ≥ ``threshold_milli``/1000
    of the batch doc's (pruned) fingerprint set and ``kept`` is the survival
    verdict. All-integer containment (cross-multiplied threshold) — fully
    value-hash oracle-able, like ``fingerprint_containment_pairs``.

    Scale shape: the corpus side is the big, stable one — its fingerprint
    set and stop-gram list are computed once per batch here so the
    operator is self-contained; the deployed posture (corpus fingerprints
    persisted in a txn table, stop-gram DF maintained incrementally, zero
    corpus re-fingerprinting per batch) ships as
    ``operators/fpindex.py FingerprintIndex``, which probes through the
    same ``containment_verdict`` tail — bit-identical results. The probe is ONE equi-join on the gram
    hash between the (small) batch fingerprints and the pruned corpus
    index — LSH-banding economics, never all-pairs. Stop-grams (df >
    ``max_df`` in the CORPUS) are dropped from the batch side, which
    keeps them out of the join, and batch set sizes are measured over the
    same pruned universe the join runs on.
    """
    # Checkpoint both fingerprint sets: each feeds multiple consumers below
    # and Catalyst would otherwise replay the per-character explode+window
    # stage once per consumer (same rationale as
    # fingerprint_containment_pairs' pins).
    fps_c = winnowing_fingerprint_set(
        corpus, k, w, text_col, id_col
    ).localCheckpoint()
    fps_b = winnowing_fingerprint_set(batch, k, w, text_col, id_col)
    # stop-grams: boilerplate hashes shared by > max_df CORPUS documents;
    # the batch side drops them (anti-join), so batch sizes and the probe
    # join run over the same pruned universe — the corpus side needs no
    # anti-join, since the probe cannot match a gram the batch dropped. A
    # gram absent from the corpus is kept on the batch side — it cannot
    # match anything anyway.
    stop = (
        fps_c.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    pruned_b = fps_b.join(stop, "h", "left_anti").localCheckpoint()
    return containment_verdict(
        batch.select(id_col), pruned_b, fps_c, threshold_milli, id_col
    )


def containment_verdict(
    batch_ids: DataFrame,
    pruned_b: DataFrame,
    corpus: DataFrame,
    threshold_milli: int,
    id_col: str,
    broadcast_batch: bool = False,
) -> DataFrame:
    """The shared verdict tail of batch-vs-corpus containment dedup: given
    the stop-gram-PRUNED batch fingerprint set and the corpus fingerprint
    set (``(id, h)`` rows), emit one row per batch document — (id, n_fp,
    n_dup_of, kept). The corpus side needs no pruning of its own: the
    equi-join on ``h`` can never match a gram the batch side dropped. Used
    by both the self-contained ``incremental_containment_filter`` and the
    persisted-index probe (``operators/fpindex.py``), so the two paths
    cannot drift.

    Shape: one equi-join on the gram hash (the probe), then ONE shuffle on
    the batch doc id. The batch's own pruned rows ride the same shuffle as
    the matched (batch doc, corpus doc) rows, so each doc's set size
    ``n_fp`` and its per-candidate shared counts come out of two
    aggregates over one partitioning (hash on the batch id satisfies both
    groupings); an integer cross-multiplied threshold — never all-pairs.
    The price is that matched rows shuffle before any map-side combine;
    they are batch-sized × candidates, never corpus-sized.
    ``broadcast_batch``: the batch side is broadcast-small, so hint it
    into the probe join (zero corpus-sized shuffles) and broadcast the
    per-doc counts into the final join (the batch ids never shuffle)."""
    if broadcast_batch:
        pruned_b = F.broadcast(pruned_b)
    own = pruned_b.select(
        F.col(id_col).alias("__bid"),
        F.lit(None).cast(corpus.schema[id_col].dataType).alias("__cid"),
        F.lit(False).alias("__pair"),
    )
    pairs = (
        pruned_b.select(F.col(id_col).alias("__bid"), "h")
        .join(corpus.select(F.col(id_col).alias("__cid"), "h"), "h")
        .select("__bid", "__cid", F.lit(True).alias("__pair"))
    )
    per_doc = (
        own.unionByName(pairs)
        .repartition("__bid")
        .groupBy("__bid", "__pair", "__cid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy("__bid")
        .agg(
            F.sum(F.when(~F.col("__pair"), F.col("__n"))).alias("n_fp"),
            F.collect_list(F.when(F.col("__pair"), F.col("__n"))).alias("__shared"),
        )
        .select(
            F.col("__bid").alias(id_col),
            "n_fp",
            F.size(
                F.filter(
                    "__shared",
                    lambda s: s * 1000 >= F.lit(threshold_milli) * F.col("n_fp"),
                )
            ).alias("n_dup_of"),
        )
    )
    if broadcast_batch:
        per_doc = F.broadcast(per_doc)
    return batch_ids.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_fp", F.lit(0)).cast("bigint").alias("n_fp"),
        F.coalesce("n_dup_of", F.lit(0)).cast("bigint").alias("n_dup_of"),
        (F.coalesce("n_dup_of", F.lit(0)) == 0).alias("kept"),
    )


# ----------------------------------------------------- BPE vocabulary step


def bpe_pair_counts(
    docs: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """The first merge step of BPE vocabulary training: corpus-weighted
    counts of ADJACENT SYMBOL PAIRS over character-split words, top-``k``
    by count (the pair a BPE trainer would merge next, and the next k-1
    runners-up). Symbols are single characters plus the word-end marker
    "</w>" (Sennrich et al.'s formulation), so "merge-ability across a
    word boundary" can never arise.

    Scale shape — the classic BPE-at-scale reduction: aggregate the corpus
    to DISTINCT WORDS WITH COUNTS first (one shuffle, output is
    vocabulary-sized, millions not billions), then pair-explode only the
    distinct words and SUM the word counts per pair (second shuffle,
    pair-vocabulary-sized). The corpus text itself is touched exactly once,
    map-only; every subsequent stage is bounded by vocabulary size, which
    is why real BPE trainers survive 100 TB corpora. Top-k via one final
    ordered limit (TakeOrderedAndProject — no global sort).

    All-integer counts, deterministic tie-break (count desc, pair asc) →
    fully value-hash oracle-able."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    words = (
        docs.select(
            F.explode(tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # symbols: chars + end-of-word marker; adjacent pairs via zip of the
    # array against its own tail — pure JVM array ops, no UDF
    syms = F.concat(F.split(F.col("w"), "(?!$)"), F.array(F.lit("</w>")))
    pairs = words.select(
        "wc",
        F.explode(
            F.zip_with(
                F.slice(syms, 1, F.size(syms) - 1),
                F.slice(syms, 2, F.size(syms) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(k)
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Full BPE vocabulary training (Sennrich et al., "Neural Machine
    Translation of Rare Words with Subword Units") — the iterative
    completion of ``bpe_pair_counts``: repeatedly merge the most frequent
    adjacent symbol pair into one symbol, ``n_merges`` times. Returns the
    learned merge table as a DataFrame —
    (merge_rank, left, right, pair_count) — the exact artifact a tokenizer
    ships.

    Architecture (how real trainers survive 100 TB): Spark's job is the ONE
    corpus-sized reduction — lowercase, tokenize, aggregate to DISTINCT
    WORDS WITH COUNTS (the same first shuffle as bpe_pair_counts; output is
    vocabulary-sized). The merge loop then runs DRIVER-SIDE over that
    collected histogram with the standard INCREMENTAL recount (Sennrich's
    update_pair_statistics): pair counts are built once, and each merge
    touches only the words that CONTAIN the merged pair (an inverted
    pair→word index finds them), subtracting their old adjacent-pair
    contributions and adding the rewritten ones. Full-recount cost O(vocab)
    per merge becomes O(affected words) — the 10–50× that makes 10k-merge
    vocabularies feasible (VERDICT r6 item 5); a 1000-merge train is
    pinned bounded-time, and equality with the naive full-recount loop is
    pinned at small n. Shipping the histogram back through a Spark job per
    merge would pay per-iteration scheduling for kilobyte-scale arithmetic
    — same driver-side-tiny-state exception as k-means centroids and PQ
    codebooks. Deterministic: integer counts, ties broken by lexicographic
    pair order — so the merge table is a pure function of the corpus
    (pinned by a golden-corpus test; not SQL-oracle-able because the
    recurrence is iterative).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    word_rows = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .collect()
    )
    # vocabulary as (symbol list, count) entries; wid = stable word handle
    # for the inverted index (symbol tuples mutate as merges apply)
    words: list[list] = [[list(r.w) + ["</w>"], r.wc] for r in word_rows]

    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}

    def _account(wid: int, syms: list[str], wc: int, sign: int) -> None:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            c = counts.get(p, 0) + sign * wc
            if c:
                counts[p] = c
            else:
                counts.pop(p, None)
            if sign > 0:
                where.setdefault(p, set()).add(wid)

    for wid, (syms, wc) in enumerate(words):
        _account(wid, syms, wc, +1)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        if not counts:
            break
        # argmax: count desc, then lexicographic pair — deterministic
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), c = best
        merges.append((rank, left, right, c))
        merged = left + right
        # rewrite ONLY the words containing the merged pair; the index may
        # hold stale wids (a word rewritten since it last contained p), so
        # re-verify adjacency during the rewrite scan
        for wid in sorted(where.pop((left, right), ())):
            syms, wc = words[wid]
            out = []
            i = 0
            hit = False
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                    hit = True
                else:
                    out.append(syms[i])
                    i += 1
            if not hit:
                continue  # stale index entry
            _account(wid, syms, wc, -1)
            words[wid][0] = out
            _account(wid, out, wc, +1)
        # the merged pair's own count is now fully retired by the rewrites
        counts.pop((left, right), None)

    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table to a corpus — the OTHER half of the
    tokenizer (``bpe_train`` learns the merges; this is the part that runs
    at corpus scale on every training batch). Returns
    (id_col, tokens array<string>, n_tokens).

    Scale shape (what makes this the 100 TB form): the expensive symbol
    rewriting happens ONCE PER DISTINCT WORD, not once per occurrence — a
    distinct-word aggregate (vocabulary-sized, the same first shuffle as
    bpe_train), one Arrow-batched encode over that vocabulary, then an
    equi-join back to (doc, position) and a JVM-side ordered reassembly
    (collect_list of (pos, toks) structs → array_sort → flatten; no Python
    touches corpus-sized data a second time). The merge table rides the
    UDF closure once per task — it is vocabulary-sized (KBs), the same
    driver-side-tiny-state exception as PQ codebooks.

    Encoding replays training exactly, via the GREEDY MIN-RANK apply (the
    GPT-2 tokenizer's algorithm): repeatedly merge the lowest-rank pair
    present in the word (same left-to-right scan ``bpe_train`` uses) until
    none applies. This equals ascending-rank replay of the full merge
    table — a pair of rank r is built only from symbols produced by merges
    < r, so the lowest applicable rank is always the next training rewrite
    that would touch the word — but costs O(|word|²) pair-set scans per
    word instead of O(n_merges × |word|): a 30k-merge vocabulary applies
    at the same per-word cost as a 30-merge one. Training-state equality
    is pinned by test."""
    spark = docs.sparkSession
    ranks = {
        (str(left), str(right)): i for i, (left, right) in enumerate(merges)
    }

    pos_words = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab = pos_words.select("w").distinct()

    def encode(batches):
        import pandas as pd

        def one(w):
            syms = list(w) + ["</w>"]
            while len(syms) > 1:
                best = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best is None or r < best[0]):
                        best = (r, syms[i], syms[i + 1])
                if best is None:
                    break
                _, left, right = best
                out = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return syms

        for pdf in batches:
            yield pd.DataFrame(
                {"w": pdf["w"], "toks": [one(w) for w in pdf["w"]]}
            )

    encoded = vocab.mapInPandas(encode, "w string, toks array<string>")
    return (
        pos_words.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
    )


def unigram_seed_candidates(
    docs: DataFrame,
    max_piece_len: int = 4,
    k: int = 300,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM tokenizer training, step 1 (Kudo, "Subword Regularization:
    Improving Neural Network Translation Models with Multiple Subword
    Candidates" — the SentencePiece unigram model): the seed vocabulary is
    the corpus's most frequent substrings of length ≤ ``max_piece_len``,
    weighted by word frequency. Returns the top-``k`` as
    (piece, piece_count).

    Scale shape (the same reduction discipline as ``bpe_pair_counts``):
    the corpus collapses to DISTINCT WORDS WITH COUNTS first (one shuffle,
    vocabulary-sized); substrings explode only off that word table
    (second shuffle, piece-vocab-sized); top-k is an ordered limit
    (TakeOrderedAndProject, no global sort). All-integer counts with
    lexicographic tie-break → value-hash oracle-able."""
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pieces = words.select(
        "wc",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece_len), F.length("w") - i + 1
                            ),
                        ),
                        lambda l: F.col("w").substr(i, l),
                    ),
                )
            )
        ).alias("piece"),
    )
    return (
        pieces.groupBy("piece")
        .agg(F.sum("wc").alias("piece_count"))
        .orderBy(F.col("piece_count").desc(), "piece")
        .limit(k)
    )


def _viterbi_segment(
    word: str,
    logp: dict,
    max_piece_len: int,
    unk_logprob: float,
) -> list:
    """Best unigram segmentation of ``word`` under piece log-probs.

    Shared by trainer E-step and encoder so encode ≡ training segmentation
    by construction. Deterministic: maximize total logprob; ties prefer
    the LONGER last piece, then the lexicographically smaller piece. A
    character absent from the vocabulary scores ``unk_logprob`` and is
    emitted as itself (full coverage, no <unk> collapse — fingerprinting
    downstream wants the bytes)."""
    n = len(word)
    # dp[i] = (best_score, seg_as_tuple) for word[:i]
    NEG = float("-inf")
    best_score = [NEG] * (n + 1)
    best_prev = [None] * (n + 1)  # (start, piece)
    best_score[0] = 0.0
    for end in range(1, n + 1):
        for start in range(max(0, end - max_piece_len), end):
            if best_score[start] == NEG:
                continue
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start == 1:
                    lp = unk_logprob
                else:
                    continue
            cand = best_score[start] + lp
            cur = best_score[end]
            if cand > cur:
                better = True
            elif cand == cur and best_prev[end] is not None:
                plen = end - best_prev[end][0]
                better = (end - start) > plen or (
                    (end - start) == plen and piece < best_prev[end][1]
                )
            else:
                better = False
            if better:
                best_score[end] = cand
                best_prev[end] = (start, piece)
    out = []
    i = n
    while i > 0:
        start, piece = best_prev[i]
        out.append(piece)
        i = start
    out.reverse()
    return out


def unigram_lm_train(
    docs: DataFrame,
    vocab_size: int = 120,
    num_iters: int = 3,
    max_piece_len: int = 4,
    seed_multiplier: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece's model, Kudo 2018),
    the probabilistic sibling of ``bpe_train``: seed a large candidate
    vocabulary from frequent substrings, then EM — E-step: Viterbi-best
    segmentation of every word under current piece probabilities; M-step:
    re-estimate probabilities from segmentation counts — and finally prune
    to ``vocab_size`` keeping every seen single character (full coverage).
    Returns (piece, logprob, piece_count).

    Architecture (same 100 TB discipline as ``bpe_train``,
    textops.py:1069): Spark performs the ONE corpus-sized reduction —
    lowercase, tokenize, aggregate to distinct words with counts — and the
    EM loop runs driver-side over that vocabulary-sized histogram (the
    driver-side-tiny-state exception: shipping KB-scale arithmetic through
    a Spark job per iteration would pay scheduling, not compute; the seed
    step itself is also available distributed as
    ``unigram_seed_candidates`` — the oracled form). Simplifications vs
    full SentencePiece, documented deliberately: Viterbi hard-EM instead
    of lattice forward-backward (the standard "hard-EM" variant), and
    final top-count pruning instead of loss-ranked iterative pruning.
    Deterministic end to end: integer seed counts with lexicographic
    ties, fixed iteration count, and the shared ``_viterbi_segment``
    tie-break; not SQL-oracle-able (iterative), property-pinned in
    tests/test_scale_ops.py."""
    import math

    if vocab_size < 1 or num_iters < 1:
        raise ValueError("vocab_size and num_iters must be >= 1")
    word_rows = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .collect()
    )
    # sorted: collect() order is partition-dependent, and float SUM order
    # must be pinned for bit-stable logprobs across runs/partitionings
    words = sorted((r.w, int(r.wc)) for r in word_rows)

    # seed: top (vocab_size * seed_multiplier) substrings + all single chars
    seed_counts: dict = {}
    for w, wc in words:
        for i in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                p = w[i : i + l]
                seed_counts[p] = seed_counts.get(p, 0) + wc
    singles = {p for p in seed_counts if len(p) == 1}
    ranked = sorted(seed_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    vocab = {p for p, _ in ranked[: vocab_size * seed_multiplier]} | singles

    logp = {}
    total = sum(seed_counts[p] for p in sorted(vocab))
    for p in sorted(vocab):
        logp[p] = math.log(seed_counts[p] / total)

    counts: dict = {}
    for _ in range(num_iters):
        counts = {}
        unk = min(logp.values()) - 10.0
        for w, wc in words:
            for piece in _viterbi_segment(w, logp, max_piece_len, unk):
                counts[piece] = counts.get(piece, 0) + wc
        # coverage floor: every single char survives with count >= 1
        for p in singles:
            counts[p] = counts.get(p, 0) + 1
        total = sum(c for _, c in sorted(counts.items()))
        logp = {p: math.log(c / total) for p, c in sorted(counts.items())}

    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )[: max(0, vocab_size - len(singles))]
    kept = {p: counts[p] for p in sorted(singles)} | dict(multi)
    total = sum(c for _, c in sorted(kept.items()))
    spark = docs.sparkSession
    return spark.createDataFrame(
        sorted(
            (p, math.log(c / total), c) for p, c in kept.items()
        ),
        "piece string, logprob double, piece_count bigint",
    )


def unigram_lm_encode(
    docs: DataFrame,
    pieces: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
) -> DataFrame:
    """Apply a trained unigram-LM vocabulary to a corpus — Viterbi-best
    segmentation per word (the deterministic n_best=1 SentencePiece
    decode). Returns (id_col, tokens array<string>, n_tokens).

    Scale shape is ``bpe_encode``'s exactly: segmentation runs ONCE PER
    DISTINCT WORD (one Arrow stage over the vocabulary-sized distinct-word
    table), equi-join back to (doc, position), JVM-side ordered reassembly
    (collect_list(struct(pos,toks)) → array_sort → flatten). The piece
    table rides the closure (vocabulary-sized, KBs). Uses the SAME
    ``_viterbi_segment`` as the trainer's E-step, so encoding the training
    corpus reproduces training segmentations exactly (pinned in tests).

    ``pieces``: list of (piece, logprob) rows, e.g.
    ``[(r.piece, r.logprob) for r in unigram_lm_train(...).collect()]``."""
    spark = docs.sparkSession
    logp = {str(p): float(lp) for p, lp in pieces}
    unk = min(logp.values()) - 10.0

    pos_words = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab = pos_words.select("w").distinct()

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "toks": [
                        _viterbi_segment(w, logp, max_piece_len, unk)
                        for w in pdf["w"]
                    ],
                }
            )

    encoded = vocab.mapInPandas(encode, "w string, toks array<string>")
    return (
        pos_words.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
    )


def normalize_text(col: Column | str) -> Column:
    """Text canonicalization for fingerprint/dedup pipelines: Unicode NFC
    normalization → C0-control strip (keeping tab/newline for the collapse
    step) → ASCII-whitespace-run collapse → space trim, in that fixed
    order. Decomposed sequences ("e" + U+0301) and their precomposed forms
    ("é") canonicalize to the SAME bytes, so content fingerprints stop
    splitting on the encoder that produced the text — the classic silent
    recall leak in exact/near dedup over web corpora.

    Arrow path (one vectorized pandas_udf): the JVM has no NFC expression.
    The whitespace class is pinned to ASCII [ \\t\\n\\f\\r\\v] — NOT
    Python's unicode-aware \\s — so the result is engine-portable
    (DuckDB/RE2 \\s is ASCII-only; the oracle uses nfc_normalize + the
    same two regexp_replace passes and hash-matches end to end)."""
    import re as _re
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ctrl = _re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    ws = _re.compile(r"[ \t\n\f\r]+")

    def _norm(s):
        def one(t):
            if t is None:
                return None
            t = unicodedata.normalize("NFC", t)
            t = ctrl.sub("", t)
            return ws.sub(" ", t).strip(" ")

        return s.map(one)

    _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    f = pandas_udf(_norm, "string")
    c = F.col(col) if isinstance(col, str) else col
    return f(c)


def bigram_surprisal(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean BIGRAM surprisal under the corpus's own add-one-
    smoothed bigram model — the CCNet/KenLM-style perplexity filter one
    level up from ``unigram_surprisal``: it scores word ORDER, so shuffled
    or templated text that unigram stats can't see scores high. For doc D,
    mean over adjacent pairs (p, w) of
    ``-ln((c(p, w) + 1) / (ctx(p) + V))`` with ``c`` the corpus bigram
    count, ``ctx(p) = Σ_w c(p, w)`` the context total (derived from the
    SAME aggregate, no second corpus pass), and ``V`` the corpus
    vocabulary size (the add-one denominator). Docs with < 2 tokens have
    no bigrams and drop out. Output: (id, n_bigrams, surprisal_nats).

    Shape: one MAP-ONLY bigram build per doc (the zip-with-tail trick from
    bpe_pair_counts — no per-position self-join), one (prev, cur) count
    aggregate, a context rollup of that SAME table, then the scoring join
    back onto the doc bigram stream keyed on the bigram (hash join; the
    model may exceed broadcast comfort at corpus scale) and a per-doc
    aggregate. Determinism: same 9-dp-round + DECIMAL(30,9) sum rule as
    unigram_surprisal (ln is the one non-IEEE-portable op; everything
    before it is exact integer-derived division)."""
    t = tokens(F.lower(F.col(text_col)))
    grams = docs.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.prev").alias("prev"), F.col("g.cur").alias("cur"))
    # grams is consumed by the model aggregate AND the scoring join, but it
    # is a MAP-ONLY expansion of the corpus — recomputing it per consumer
    # is one extra pipelined scan inside the same job, while checkpointing
    # it (the r13 form) pinned the full |corpus tokens| bigram stream in
    # executor storage memory and paid an extra eager materialization job
    # at build time (guide §5: cache only when recompute beats the memory
    # pressure; a zip-with-tail explode does not).

    bc = grams.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("bc"))
    bc = bc.localCheckpoint()  # context rollup AND scoring join consume it
    ctx = bc.groupBy("prev").agg(F.sum("bc").alias("ctx"))
    # V rides the plan as a broadcast 1-row frame instead of an eager
    # .first() (which forced a separate corpus-tokenize job at build time
    # — r14; the pass still runs, but pipelined inside the one job). Same
    # integer, same arithmetic.
    vdf = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .agg(F.count_distinct("w").alias("__v"))
    )
    scored = (
        grams.join(bc, ["prev", "cur"])
        .join(ctx, "prev")
        .crossJoin(F.broadcast(vdf))
        .select(
            id_col,
            F.round(
                -F.log(
                    (F.col("bc") + F.lit(1)).cast("double")
                    / (F.col("ctx") + F.col("__v")).cast("double")
                ),
                9,
            )
            .cast("decimal(30,9)")
            .alias("__s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("__s").cast("double") / F.count(F.lit(1))).alias("surprisal_nats"),
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data": score each
    document under a language model, split the corpus into head / middle /
    tail at the perplexity tertiles, keep the head). The LM here is the
    engine's own add-one-smoothed corpus bigram model
    (``bigram_surprisal``), so the operator is self-contained.

    Scale shape: the tertile thresholds are ONE 1-row exact-percentile
    aggregate over the per-doc score table (at 100 TB swap in
    ``percentile_approx`` — same plan, bounded memory), broadcast back via
    a cross join; bucket assignment is then map-only. No global sort, no
    NTILE single-reducer window.

    Determinism: per-doc surprisal follows the ln-portability rule (9 dp
    per-token rounding, DECIMAL sums); linear-interpolated percentiles of
    identical doubles agree across engines to the ulp, and every doc's
    score sits strictly between adjacent interpolation anchors, so the
    ``<=`` bucket comparisons are cross-engine stable. Output one row per
    bucket: (bucket, n_docs, n_bigrams, min_nats, max_nats) with the nats
    rounded to 9 dp.
    """
    # Materialize the per-doc score table ONCE (id, n_bigrams, nats — 3
    # narrow columns): the percentile aggregate AND the bucketing pass
    # both read it, and without the checkpoint each consumer re-ran the
    # WHOLE surprisal pipeline — corpus tokenize, bigram explode, model
    # scoring join, per-doc aggregate (the curriculum_pack_order pattern;
    # contrast bigram_surprisal's own internals, where only a map-only
    # explode is recomputed per consumer).
    scored = bigram_surprisal(
        docs, text_col=text_col, id_col=id_col
    ).localCheckpoint()
    cuts = scored.agg(
        F.expr(
            "percentile(surprisal_nats, array(CAST(1 AS DOUBLE)/3,"
            " CAST(2 AS DOUBLE)/3))"
        ).alias("__cuts")
    ).select(
        F.col("__cuts")[0].alias("__c1"), F.col("__cuts")[1].alias("__c2")
    )
    bucketed = scored.crossJoin(F.broadcast(cuts)).withColumn(
        "bucket",
        F.when(F.col("surprisal_nats") <= F.col("__c1"), F.lit("head"))
        .when(F.col("surprisal_nats") <= F.col("__c2"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("n_bigrams"),
        F.round(F.min("surprisal_nats"), 9).alias("min_nats"),
        F.round(F.max("surprisal_nats"), 9).alias("max_nats"),
    )


def wordpiece_vocab(
    docs: DataFrame,
    max_piece_len: int = 4,
    k: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """WordPiece vocabulary derivation (Wu et al., "Google's Neural Machine
    Translation System" §4.1 — the BERT tokenizer's vocab): position-aware
    subword pieces, word-initial vs continuation (the ``##`` forms),
    scored by corpus-weighted substring frequency, top-``k`` plus ALL
    single-character pieces so every corpus word is segmentable (no [UNK]
    by construction — the coverage guarantee the greedy encoder relies
    on).

    Pieces are keyed (raw, initial) — NOT by the ``##`` display string —
    so a corpus word that itself starts with '#' cannot alias a
    continuation piece. Scale shape mirrors ``unigram_seed_candidates``:
    ONE corpus-sized reduction to distinct words with counts, substrings
    explode off the vocabulary-sized word table, top-k is an ordered
    limit. Output: (raw, initial, piece, piece_count) with ``piece`` the
    display form.
    """
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pieces = words.select(
        "wc",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece_len), F.length("w") - i + 1
                            ),
                        ),
                        lambda l: F.struct(
                            F.col("w").substr(i, l).alias("raw"),
                            (i == F.lit(1)).alias("initial"),
                        ),
                    ),
                )
            )
        ).alias("p"),
    ).select(F.col("p.raw").alias("raw"), F.col("p.initial").alias("initial"), "wc")
    counted = pieces.groupBy("raw", "initial").agg(
        F.sum("wc").alias("piece_count")
    )
    topk = counted.orderBy(
        F.col("piece_count").desc(), F.col("initial").desc(), "raw"
    ).limit(k)
    chars = counted.filter(F.length("raw") == 1)
    return (
        topk.unionByName(chars)
        .distinct()
        .select(
            "raw",
            "initial",
            F.when(F.col("initial"), F.col("raw"))
            .otherwise(F.concat(F.lit("##"), F.col("raw")))
            .alias("piece"),
            "piece_count",
        )
    )


def wordpiece_encode(
    docs: DataFrame,
    vocab: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy longest-match-first WordPiece encoding (the BERT tokenizer's
    apply step) under a learned vocabulary of ``(raw, initial)`` pairs.
    At each position take the LONGEST vocab piece matching (word-initial
    table at position 0, continuation table after); a position with no
    match collapses the word to [UNK] (unreachable under
    ``wordpiece_vocab``'s single-char coverage guarantee).

    Scale shape is ``bpe_encode``'s: segmentation runs ONCE PER DISTINCT
    WORD (one Arrow pass over the vocabulary-sized distinct-word table,
    the vocab riding the closure — KBs), then an equi-join back to
    (doc, position) and the JVM-side ordered reassembly; no Python touches
    corpus-sized data a second time. Greedy longest-match is a pure
    function of (word, vocab) → deterministic, and expressible as a
    precomputed best-match-per-suffix table + linear walk, which is
    exactly how the DuckDB oracle replays it (recursive CTE over the
    suffix table). Output: (id_col, tokens array<string>, n_tokens).
    """
    spark = docs.sparkSession
    initial_set = {raw for raw, ini in vocab if ini}
    cont_set = {raw for raw, ini in vocab if not ini}
    max_i = max((len(r) for r in initial_set), default=1)
    max_c = max((len(r) for r in cont_set), default=1)

    pos_words = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab_words = pos_words.select("w").distinct()

    def encode(batches):
        import pandas as pd

        def one(w):
            out, pos, n = [], 0, len(w)
            while pos < n:
                table, cap = (
                    (initial_set, max_i) if pos == 0 else (cont_set, max_c)
                )
                for l in range(min(cap, n - pos), 0, -1):
                    cand = w[pos : pos + l]
                    if cand in table:
                        out.append(cand if pos == 0 else "##" + cand)
                        pos += l
                        break
                else:
                    return ["[UNK]"]
            return out

        for pdf in batches:
            yield pd.DataFrame(
                {"w": pdf["w"], "toks": [one(w) for w in pdf["w"]]}
            )

    encoded = vocab_words.mapInPandas(encode, "w string, toks array<string>")
    return (
        pos_words.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("tokens")
        )
        .select(id_col, "tokens", F.size("tokens").alias("n_tokens"))
    )


def nb_quality_scores(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-and-score a naive-Bayes bag-of-words quality classifier in one
    distributed pass — the CCNet/LLaMA-style "does this look like the
    high-quality reference corpus?" filter (fastText's job in those
    pipelines), expressed as pure relational algebra so both the training
    counts and the scores are value-hash oracle-able.

    Model: multinomial NB with add-one smoothing. Per token t,
    ``w(t) = ln((c_pos(t)+1)/(N_pos+V)) - ln((c_neg(t)+1)/(N_neg+V))``
    with N_class the class token total and V the corpus vocabulary;
    ``prior = ln(d_pos) - ln(d_neg)`` over document counts. A document's
    log-odds score is ``prior + Σ_t tf(d,t)·w(t)``; predicted ⇔ score > 0.

    Scale shape: ONE corpus tokenize feeding (a) the per-(doc, token) tf
    aggregate (token explode, doc-token-keyed shuffle) and (b) the
    class-conditional token counts derived from that SAME tf table (token-
    keyed shuffle producing a VOCABULARY-sized weight table — MBs even at
    a 10M-token vocab, broadcast back, never reshuffling the corpus); the
    1-row (N_pos, N_neg, V, priors) statistics ride a broadcast cross
    join. Scoring is a map-side broadcast join + one doc-keyed aggregate.
    Nothing corpus-sized crosses the driver.

    Determinism: w(t) and the prior are rounded to 9 dp and carried as
    DECIMAL(30,9) (the engine's ln-portability rule); tf·w products and
    the per-doc sum are then exact decimal arithmetic, so partial-
    aggregation order cannot perturb the score and the `> 0` prediction
    boundary is cross-engine exact. Output: (id, label, score, predicted).
    """
    tf, weights, prior, _ = nb_train(docs, label, text_col=text_col, id_col=id_col)
    return _nb_score(tf, weights, prior, id_col)


def _nb_score(
    tf: DataFrame, weights: DataFrame, prior: DataFrame, id_col: str
) -> DataFrame:
    """Scoring tail of ``nb_quality_scores`` over an already-built
    ``nb_train`` model — shared with ``quality_ensemble`` so the ensemble
    can reuse the tf table across its NB and entropy legs."""
    return (
        tf.join(F.broadcast(weights), "tok")
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("tf").cast("decimal(10,0)") * F.col("w")).alias("__s"))
        .crossJoin(F.broadcast(prior))
        .select(
            id_col,
            "label",
            # cast the sum back down before adding the prior: (38,9)+(18,9)
            # would overflow precision 38 and silently drop the 9th decimal
            (F.col("prior") + F.col("__s").cast("decimal(30,9)"))
            .cast("double")
            .alias("score"),
            (
                (F.col("prior") + F.col("__s").cast("decimal(30,9)")) > 0
            ).alias("predicted"),
        )
    )


def nb_train(
    docs: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The training half of ``nb_quality_scores``, exposed so other
    consumers (the streaming scorer, exports) can reuse the fitted model:
    returns ``(tf, weights, prior, oov)`` — the per-(doc, token) tf table
    the counts derive from (localCheckpointed; batch scoring reuses it),
    the vocabulary-sized ``(tok, w DECIMAL(18,9))`` log-odds table, the
    1-row ``prior`` frame, and the 1-row ``oov`` frame: the weight of a
    token UNSEEN at fit time, ``ln(1/(N_pos+V)) - ln(1/(N_neg+V)) =
    ln(N_neg+V) - ln(N_pos+V)`` (both class counts 0, smoothing only) —
    what an online scorer must add per OOV occurrence instead of silently
    dropping it. Same math and determinism contract as the combined
    operator's docstring."""
    toks = docs.select(
        F.col(id_col), label.alias("label"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy(id_col, "label", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    tf = tf.localCheckpoint()  # training counts AND scoring both consume it

    cls = tf.groupBy("tok").agg(
        F.sum(F.when(F.col("label"), F.col("tf")).otherwise(0)).alias("cp"),
        F.sum(F.when(~F.col("label"), F.col("tf")).otherwise(0)).alias("cn"),
    )
    stats = tf.agg(
        F.sum(F.when(F.col("label"), F.col("tf")).otherwise(0)).alias("np"),
        F.sum(F.when(~F.col("label"), F.col("tf")).otherwise(0)).alias("nn"),
        F.count_distinct("tok").alias("v"),
        F.count_distinct(F.when(F.col("label"), F.col(id_col))).alias("dp"),
        F.count_distinct(F.when(~F.col("label"), F.col(id_col))).alias("dn"),
    )
    weights = cls.crossJoin(F.broadcast(stats)).select(
        "tok",
        F.round(
            F.log((F.col("cp") + 1).cast("double") / (F.col("np") + F.col("v")))
            - F.log((F.col("cn") + 1).cast("double") / (F.col("nn") + F.col("v"))),
            9,
        ).cast("decimal(18,9)").alias("w"),  # 18,9: tf(10,0)*w stays scale-9
    )
    prior = stats.select(
        F.round(F.log(F.col("dp").cast("double")) - F.log(F.col("dn").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("prior")
    )
    oov = stats.select(
        F.round(
            F.log((F.col("nn") + F.col("v")).cast("double"))
            - F.log((F.col("np") + F.col("v")).cast("double")),
            9,
        )
        .cast("decimal(18,9)")
        .alias("oov_w")
    )
    return tf, weights, prior, oov


def dsir_importance_topk(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 256,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw document by the
    log importance ratio of a hashed-unigram bag-of-words model fitted to
    a TARGET (high-quality) subset vs the RAW corpus, then keep the top-k.
    ``log w(d) = Σ_b c(d,b)·(ln p̂_target(b) - ln p̂_raw(b))`` over hashed
    feature buckets b, with add-one smoothing over the n_buckets space.

    Hashing is the engine's portable md5 recipe (same construction as
    minhash_portable / simhash_portable): bucket = 60-bit md5 prefix mod
    n_buckets, bit-identical in any engine with md5.

    Scale shape: one tokenize+hash map pass → a (doc, bucket) count
    aggregate (the only corpus-sized shuffle); the two distribution
    vectors are n_buckets-row aggregates OF THAT SAME TABLE (no second
    corpus pass), joined back as a broadcast; per-doc scores are one
    doc-keyed aggregate and the cut is TakeOrderedAndProject (per-
    partition top-k, no global sort). Nothing corpus-sized hits the
    driver.

    Determinism: per-bucket log-ratios rounded to 9 dp and carried as
    DECIMAL(30,9), count·ratio products and the per-doc sum exact decimal
    (ln-portability rule); the top-k cut ranks under the (score desc, id)
    total order. Output: (id, score, rank), rank 1..k.
    """
    h60 = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    toks = docs.select(
        F.col(id_col), target.alias("__t"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    ).filter(F.col("tok") != "")
    db = toks.select(
        id_col, "__t", (h60 % n_buckets).alias("b")
    ).groupBy(id_col, "__t", "b").agg(F.count(F.lit(1)).alias("c"))
    db = db.localCheckpoint()  # model AND scoring both consume it

    dist = db.groupBy("b").agg(
        F.sum(F.when(F.col("__t"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum("c").alias("cr"),
    )
    tot = db.agg(
        F.sum(F.when(F.col("__t"), F.col("c")).otherwise(0)).alias("nt"),
        F.sum("c").alias("nr"),
    )
    ratios = dist.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("nt") + F.lit(n_buckets))
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("nr") + F.lit(n_buckets))
            ),
            9,
        ).cast("decimal(18,9)").alias("r"),  # 18,9: c(10,0)*r stays scale-9
    )
    scored = (
        db.join(F.broadcast(ratios), "b")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("c").cast("decimal(10,0)") * F.col("r"))
            .cast("double")
            .alias("score")
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col))
    return scored.select(
        id_col, "score", F.row_number().over(w).cast("bigint").alias("rank")
    )


def boilerplate_span_removal(
    docs: DataFrame,
    min_df: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate SPAN removal (the C4/RefinedWeb step after
    boilerplate *detection*): any word-trigram occurring in ≥ min_df
    distinct documents is boilerplate, every token position covered by an
    occurrence of a boilerplate trigram is struck from its document, and
    the document is reassembled from the survivors in original order.
    Differs from dedup_segments_global (which KEEPS each segment's first
    occurrence) — boilerplate is removed from every document including
    the first, matching C4's "citation needed"/navigation-chrome rule.

    Scale shape: map-only posexplode + zip-shifted trigram build (no
    per-position self-join), ONE gram-keyed doc-frequency aggregate whose
    survivors (the boilerplate list — tiny by construction: grams
    repeated across ≥ min_df docs) broadcast back as a semi join onto the
    occurrence stream; covered positions fan out ×3 map-side; survivors
    are a (doc, pos)-keyed anti join and reassembly is one doc-keyed
    aggregate with JVM-side array_sort (never a Python round-trip).
    Fully-stripped documents survive as empty strings via the final
    left join onto the per-doc token counts.

    Exact — no floating point anywhere; (doc, pos) is a total order, so
    reassembly is deterministic. Documents with no non-empty tokens have
    nothing to strike or reassemble and drop from the output (the same
    "too short to process" rule as bigram_surprisal's <2-token drop).
    Output: (id, n_tokens, n_removed, clean_text).
    """
    t = tokens(F.lower(F.col(text_col)))
    # ONE tokenize pass, checkpointed as the per-doc token ARRAYS (≈ the
    # text's own bytes): every downstream frame (position stream ×2,
    # trigram stream ×2) is a map-only explode over it. Checkpointing the
    # exploded streams instead (the r13 form) tokenized the corpus twice
    # and pinned |corpus tokens| ROWS of executor storage — guide §5.
    base = docs.select(F.col(id_col), t.alias("__t")).localCheckpoint()
    pos = base.select(
        id_col, F.posexplode("__t").alias("pos", "tok")
    ).filter(F.col("tok") != "")

    # guard: sequence(0, -1) would COUNT DOWN in Spark, not return empty
    starts = F.when(
        F.size("__t") >= 3, F.sequence(F.lit(0), F.size("__t") - 3)
    ).otherwise(F.array().cast("array<int>"))
    tri = base.select(
        id_col,
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("start"),
                    F.concat_ws(
                        " ",
                        F.col("__t")[i],
                        F.col("__t")[i + 1],
                        F.col("__t")[i + 2],
                    ).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))

    freq = tri.groupBy("gram").agg(
        F.count_distinct(id_col).alias("df")
    ).filter(F.col("df") >= min_df).select("gram")
    covered = (
        tri.join(F.broadcast(freq), "gram", "left_semi")
        .select(
            id_col,
            F.explode(
                F.array(F.col("start"), F.col("start") + 1, F.col("start") + 2)
            ).alias("pos"),
        )
        .distinct()
    )
    surv = pos.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = surv.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    counts = pos.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    return counts.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def token_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the unigram distribution,
    ``H(d) = -Σ_t (tf/n)·ln(tf/n)`` in nats — the information-density
    quality signal: near-zero for degenerate repeated-token docs, ln(n)
    for all-distinct docs. Complements repetition_stats (which counts
    duplicate GRAMS) with a distribution-shape scalar, and differs from
    unigram_surprisal (which scores docs under the CORPUS model — entropy
    is intrinsic to the doc).

    Scale shape: one (doc, token) count aggregate, the per-doc total via a
    window over the SAME doc-keyed shuffle (no second corpus pass, no
    join), one doc-keyed aggregate. Determinism: each term is rounded to
    9 dp and DECIMAL(18,9)-summed (the ln-portability rule; tf/n is an
    exact-int double division, IEEE-identical everywhere). Output:
    (id, n_tokens, n_types, entropy_nats).
    """
    tf = (
        docs.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy(id_col)
    p = F.col("c").cast("double") / F.col("__n")
    return (
        tf.withColumn("__n", F.sum("c").over(w))
        .select(
            id_col,
            "__n",
            F.round(-p * F.log(p), 9).cast("decimal(18,9)").alias("__term"),
        )
        .groupBy(id_col)
        .agg(
            F.max("__n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum("__term").cast("double").alias("entropy_nats"),
        )
    )


def pmi_top_pairs(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-k adjacent-word pairs by pointwise mutual
    information, ``pmi(a,b) = ln(N·c(a,b) / (c_left(a)·c_right(b)))`` —
    the collocation detector (Church & Hanks) that feeds phrase
    vocabularies and stop-pair lists; the corpus-ranking complement to
    bigram_surprisal's per-doc scoring. A ``min_count`` floor drops the
    low-frequency pairs whose PMI estimates are noise.

    Scale shape: map-only zip-with-tail bigram build, ONE (prev, cur)
    count aggregate; both marginals and the 1-row total are rollups of
    that SAME table (no second corpus pass); the cut is an ordered limit
    (TakeOrderedAndProject — per-partition top-k, no global sort).

    Determinism: pmi is computed as the overflow-proof sum of logs
    ``ln c + ln N - ln c_l - ln c_r`` (the product form c·N exceeds int64
    once N ~ 1e10 bigrams) over exact integer inputs, rounded to 6 dp
    (tfidf's ln-ulp contract); ranked under (pmi desc, prev, cur).
    Output: (prev, cur, n_pair, pmi, rank).
    """
    t = tokens(F.lower(F.col(text_col)))
    grams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("g")
    ).select(F.col("g.prev").alias("prev"), F.col("g.cur").alias("cur"))
    bc = grams.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    bc = bc.localCheckpoint()  # marginals AND the scored set consume it

    lm = bc.groupBy("prev").agg(F.sum("c").alias("lm"))
    rm = bc.groupBy("cur").agg(F.sum("c").alias("rm"))
    tot = bc.agg(F.sum("c").alias("n"))
    scored = (
        bc.filter(F.col("c") >= min_count)
        .join(lm, "prev")
        .join(rm, "cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "cur",
            F.col("c").alias("n_pair"),
            F.round(
                F.log(F.col("c").cast("double"))
                + F.log(F.col("n").cast("double"))
                - F.log(F.col("lm").cast("double"))
                - F.log(F.col("rm").cast("double")),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "prev", "cur")
        .limit(k)
    )
    w = Window.orderBy(F.col("pmi").desc(), "prev", "cur")
    return scored.select(
        "prev", "cur", "n_pair", "pmi",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def lang_kl_divergence(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group KL divergence from the corpus unigram distribution,
    ``KL(P_g ‖ P_corpus) = Σ_t p_g(t)·ln(p_g(t)/p_c(t))`` in nats — the
    domain-shift diagnostic a mixture designer reads before setting
    sampling weights (a group whose distribution sits far from the corpus
    mean dominates or starves under naive proportional sampling). MLE
    distributions need no smoothing: every group token is in the corpus
    vocabulary, so p_c(t) > 0 wherever p_g(t) > 0.

    Scale shape: ONE (group, token) count aggregate; the corpus marginal
    and both totals are rollups of that SAME table (no second corpus
    pass); the marginal joins back vocabulary-sized (broadcast), group
    totals ride a window over the same group-keyed shuffle. The log-ratio
    is the overflow-proof sum-of-logs form (c_gt·n exceeds int64 at corpus
    scale). Determinism: 9-dp DECIMAL(18,9) terms, exact decimal sums (the
    ln-portability rule). Output: (group, n_tokens, n_types, kl_nats).
    """
    gt = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gt = gt.localCheckpoint()  # marginal AND scoring both consume it

    marg = gt.groupBy("tok").agg(F.sum("c").alias("ct"))
    tot = gt.agg(F.sum("c").alias("n"))
    wg = Window.partitionBy("g")
    p_g = F.col("c").cast("double") / F.col("__ng")
    logratio = (
        F.log(F.col("c").cast("double"))
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("__ng").cast("double"))
        - F.log(F.col("ct").cast("double"))
    )
    return (
        gt.withColumn("__ng", F.sum("c").over(wg))
        .join(F.broadcast(marg), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "g",
            "__ng",
            F.round(p_g * logratio, 9).cast("decimal(18,9)").alias("__term"),
        )
        .groupBy("g")
        .agg(
            F.max("__ng").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum("__term").cast("double").alias("kl_nats"),
        )
        .withColumnRenamed("g", group_col)
    )


def quality_ensemble(
    docs: DataFrame,
    label: Column,
    entropy_min: float = 2.9,
    surprisal_max: float = 3.42,
    min_words: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-signal quality verdict (the FineWeb/Dolma curation shape: no
    single filter decides — a RULE gate, a LEARNED classifier, an
    INTRINSIC distribution statistic and a CORPUS-MODEL score vote, and
    the keep verdict is their conjunction). Signals: word-count floor
    (``min_words``), naive-Bayes prediction (``nb_quality_scores``),
    unigram Shannon entropy ≥ ``entropy_min`` (kills degenerate repeated-
    token docs), bigram surprisal ≤ ``surprisal_max`` (kills shuffled/
    templated word salad the unigram signals can't see).

    Composition shape: signals join on the doc key — the auditable form,
    where a signal can be re-cut without re-running the others — and the
    NB + entropy legs SHARE the (doc, token) tf aggregate (the fused
    production variant this docstring used to defer: one corpus
    tokenize + one doc-token-keyed exchange feeds both, r14; the bigram
    leg still scans once itself — its unit is pairs, not tokens). Each
    leg's arithmetic is the library operator's unchanged, so the fusion
    moves no values (hash-oracled). Docs with < 2 tokens have no bigram
    signal and drop (inner join), matching the "too short to score" rule
    every real pipeline applies first.

    Determinism: every signal is already cross-engine exact (decimal-sum
    contracts of the component operators), so the literal-cut comparisons
    and the conjunction are exact too. Output: (id, n_tokens, nb_pred,
    entropy_nats, surprisal_nats, keep).
    """
    # The NB and entropy legs share ONE corpus tokenize + (doc, token)
    # aggregate: nb_train's localCheckpointed tf table IS token_entropy's
    # tf (same tokens(lower(text)) + non-empty filter + per-(doc, token)
    # count; the extra constant-per-doc label key changes no count), so
    # the entropy leg reads the checkpoint instead of re-scanning and
    # re-shuffling the corpus (guide §2.4 — the r13 form paid a second
    # identical exchange). Values are bit-identical to token_entropy
    # (same 9-dp rounding, same DECIMAL(18,9) sum; hash-oracled).
    tf, weights, prior, _ = nb_train(
        docs, label, text_col=text_col, id_col=id_col
    )
    nb = _nb_score(tf, weights, prior, id_col).select(
        id_col, F.col("predicted").alias("nb_pred")
    )
    w = Window.partitionBy(id_col)
    p = F.col("tf").cast("double") / F.col("__n")
    ent = (
        tf.withColumn("__n", F.sum("tf").over(w))
        .select(
            id_col,
            "__n",
            F.round(-p * F.log(p), 9).cast("decimal(18,9)").alias("__term"),
        )
        .groupBy(id_col)
        .agg(
            F.max("__n").alias("n_tokens"),
            F.sum("__term").cast("double").alias("entropy_nats"),
        )
    )
    sur = bigram_surprisal(docs, text_col=text_col, id_col=id_col).select(
        id_col, "surprisal_nats"
    )
    return (
        nb.join(ent, id_col)
        .join(sur, id_col)
        .select(
            id_col,
            "n_tokens",
            "nb_pred",
            "entropy_nats",
            "surprisal_nats",
            (
                F.col("nb_pred")
                & (F.col("n_tokens") >= min_words)
                & (F.col("entropy_nats") >= entropy_min)
                & (F.col("surprisal_nats") <= surprisal_max)
            ).alias("keep"),
        )
    )


def langid_trigram_confusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
    top_k: int = 200,
    test_mod: int = 5,
) -> DataFrame:
    """Cavnar–Trenkle character-trigram language identification with a
    held-out evaluation: train top-``top_k`` trigram profiles per language
    on docs with ``id % test_mod != 0``, classify the held-out rest by
    Σ (top_k + 1 − rank) over each doc's distinct trigrams (argmax with
    the deterministic tie-break score desc, lang asc — scores are exact
    integers), and return the confusion matrix (actual_lang,
    predicted_lang, n_docs) with 'und' for docs matching no profile.

    Shape: trigrams explode ONCE (train/test share the exploded frame via
    the split predicate), profile building is one keyed aggregate + a
    per-language top-k window, scoring joins the ≤ top_k × |langs| row
    profile BROADCAST against the test trigrams, the argmax is a per-doc
    window — the corpus is read once and nothing unbounded shuffles.
    """
    t = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    tri = (
        docs.select(id_col, lang_col, t.alias("__t"))
        .filter(F.length("__t") >= 3)
        .select(
            id_col,
            lang_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, length(__t) - 2),"
                    " i -> substring(__t, i, 3))"
                )
            ).alias("g"),
        )
    )
    train = tri.filter(F.col(id_col) % test_mod != 0)
    test = tri.filter(F.col(id_col) % test_mod == 0)
    w_prof = Window.partitionBy(lang_col).orderBy(
        F.col("__n").desc(), F.col("g")
    )
    prof = (
        train.groupBy(lang_col, "g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("rk", F.row_number().over(w_prof))
        .filter(F.col("rk") <= top_k)
        .select(F.col(lang_col).alias("cand"), "g", "rk")
    )
    scores = (
        test.select(id_col, "g")
        .distinct()
        .join(F.broadcast(prof), "g")
        .groupBy(id_col, "cand")
        .agg(F.sum(F.lit(top_k + 1) - F.col("rk")).alias("score"))
    )
    w_pred = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("cand")
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w_pred))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("cand").alias("predicted"))
    )
    held = docs.filter(F.col(id_col) % test_mod == 0).select(id_col, lang_col)
    return (
        held.join(pred, id_col, "left")
        .groupBy(
            F.col(lang_col).alias("actual_lang"),
            F.coalesce(F.col("predicted"), F.lit("und")).alias(
                "predicted_lang"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_prefilter: bool = False,
) -> DataFrame:
    """ExactSubstr dedup spans (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better") — per document, the token spans
    covered by EXACT substrings of ≥ ``min_len`` tokens that appear more
    than once in the corpus, as
    ``(id, n_tokens, n_dup_windows, n_masked_tokens, n_spans)``.

    The paper computes maximal repeats with a suffix array; a suffix
    array does not distribute. This is the Spark-first EQUIVALENT at
    token granularity: a position is inside a maximal repeat of length
    ≥ L iff it is covered by at least one duplicated L-token window (every
    maximal repeat ≥ L contains duplicated L-windows covering exactly its
    positions; every duplicated L-window lies inside a maximal repeat),
    so masking duplicated-L-window positions masks EXACTLY the
    suffix-array span set. Shape: map-only window/gram construction (the
    ``_word_ngrams`` staged-alias form, one row per window), corpus-wide
    multiplicity as ONE ``count()`` window over the gram (one gram-keyed
    exchange; no aggregate + join-back, whose probe side re-ran the whole
    gram build a second time — r15), then a per-document interval merge —
    running-max-exclusive over window starts (the gaps-and-islands rule)
    — on the DUPLICATED windows only, which are few per document. Two
    shuffles total (gram window, doc-keyed merge window) and ONE pass of
    the gram build; every output is an integer, so the whole operator
    value-hash oracles. Downstream composition decides the
    policy (mask spans, drop docs over a masked-ratio cap, or keep-first
    via the dedup families).

    Measured non-optimization (r12, interleaved A/B at 100x data): keying
    the gram aggregate/join on ``unhex(md5(gram))`` (16-byte digests)
    instead of the raw L-token string was ~13% SLOWER (min 30.9 s vs
    26.7 s) despite ~3x smaller logical keys — shuffle compression
    already collapses the redundant text grams on the wire, while
    digests are incompressible AND cost one md5 per window (~corpus
    token count of them). Raw string keys kept deliberately.

    ``hash_prefilter=True`` (VERDICT r13 item 8) changes the SHUFFLE
    SHAPE, not just the key width, which is why it can win where the
    md5 keying lost: the corpus-wide aggregate runs over
    ``xxhash64(gram)`` (one codegen'd 8-byte hash per window — no md5
    string materialization), the duplicated-hash set — tiny, duplicates
    are rare — comes back as an AQE-sized join (broadcast in practice),
    and only the surviving candidate windows pay the EXACT gram
    aggregate + join, which now run on a frame ~the duplicate count
    instead of the corpus. Exactness is preserved by construction: a
    hash collision can only ADD a candidate, and the exact-gram verify
    removes it (equality pinned across both modes in
    tests/test_similarity.py). Cost shift: the gram explode runs twice
    (the candidate join side recomputes the map-only stage instead of
    reusing the full-gram exchange) — a linear re-scan traded for the
    corpus-wide wide-row shuffle write.

    MEASURED at local[32] (r14, interleaved A/B): a wash at 10x data
    (6.2-7.6 s both modes) and ~35% SLOWER at 100x (plain 33.6/35.7 s
    vs prefiltered 46.6/47.8 s) — on one machine the gram shuffle is a
    compressed memory/disk copy, so the duplicated explode dominates,
    the same economics that made the r12 md5 keying lose. Default stays
    False; the opt-in exists for real clusters where the corpus-wide
    gram shuffle crosses the NETWORK and spills (the regime the local
    box cannot represent), and any flip there should be re-measured in
    place."""
    ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    staged = docs.select(id_col, ws.alias("__ws"))
    nw = F.size("__ws")
    base = staged.select(id_col, nw.cast("bigint").alias("n_tokens"))
    idx = F.when(nw >= min_len, F.sequence(F.lit(0), nw - min_len)).otherwise(
        F.array().cast("array<int>")
    )
    wins = staged.select(
        id_col,
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice("__ws", i + 1, min_len)).alias(
                        "gram"
                    ),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.gram").alias("gram"))
    if hash_prefilter:
        winsh = wins.withColumn("__h", F.xxhash64("gram"))
        hdup = (
            winsh.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("__h")
        )
        cand = winsh.join(hdup, "__h")
        gdup = (
            cand.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= 2)
            .select("gram")
        )
        dwin = cand.join(gdup, "gram").select(id_col, "pos")
    else:
        # Corpus-wide multiplicity as ONE count() window over gram instead
        # of groupBy(gram) + join-back (r15, the fingerprint_containment_
        # pairs construction — guide §2.4): the join-back referenced the
        # window explode TWICE (Catalyst does not reuse the un-exchanged
        # map subtree across the aggregate and the join probe side), so
        # the whole split→slice→concat gram build ran two full passes;
        # the window pays one exchange of (id, pos, gram) rows — the same
        # gram-keyed shuffle the aggregate paid, the 12 extra bytes
        # compress away next to the overlapping gram text — sorts on the
        # gram within partitions, and needs no join at all. Row set
        # identical (count ≥ 2 per gram either way).
        w_gram = Window.partitionBy("gram")
        dwin = (
            wins.withColumn("__n", F.count(F.lit(1)).over(w_gram))
            .filter(F.col("__n") >= 2)
            .select(id_col, "pos")
        )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dwin.withColumn(
        "__new",
        F.when(
            F.col("pos")
            > F.coalesce(
                F.max(F.col("pos") + (min_len - 1)).over(w_prev), F.lit(-1)
            ),
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = marked.withColumn("__span", F.sum("__new").over(w_run))
    agg_span = spans.groupBy(id_col, "__span").agg(
        F.min("pos").alias("__s"),
        (F.max("pos") + (min_len - 1)).alias("__e"),
        F.count(F.lit(1)).alias("__nw"),
    )
    per_doc = agg_span.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("n_masked_tokens"),
        F.sum("__nw").alias("n_dup_windows"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce("n_masked_tokens", F.lit(0)).alias("n_masked_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
    )
